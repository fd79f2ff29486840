"""Layer instrumentation kept in the benchmark's own files.

* :class:`Tracer` — spans (name, start, end, parent, group) kept in memory
  and written at exit; a span's self time is its duration minus the part
  its child spans cover.
* :class:`CallCounter` — wraps a module's public functions (or one bound
  method) from outside and counts calls and seconds spent in them.
* :func:`count_py4j` — counts round trips through the py4j gateway
  client's ``send_command``.
* :func:`read_status_store` — job and stage figures from the JVM app status
  store (``sc._jsc.sc().statusStore()``), which works with the UI off.
* :func:`jobs_within` — the jobs submitted inside a set of spans.

Untraced runs get a disabled tracer and wrap nothing; ``--trace 1`` turns
both on.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # returns the py4j round-trip count so far; each span records it
        # at both ends
        self.probe = lambda: 0

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if group is None and parent is not None:
            group = self.spans[parent]["group"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "group": group,
            "start": time.perf_counter(),
            "wall_start": time.time(),
            "end": None,
            "wall_end": None,
            "py4j": -self.probe(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            rec["py4j"] += self.probe()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record an already-measured interval as a child span."""
        if not self.enabled:
            return
        group = self.spans[parent]["group"] if parent is not None else None
        off = time.time() - time.perf_counter()
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "parent": parent,
                "group": group,
                "start": start,
                "wall_start": start + off,
                "end": end,
                "wall_end": end + off,
                "py4j": 0,
            }
        )

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_time(self, span: dict) -> float:
        """The span's duration minus the part its children cover."""
        kids = sorted((k["start"], k["end"]) for k in self.spans
                      if k["parent"] == span["id"] and k["end"] is not None)
        covered, hi = 0.0, span["start"]
        for a, b in kids:
            a, b = max(a, hi), min(b, span["end"])
            if b > a:
                covered += b - a
                hi = b
        return span["end"] - span["start"] - covered

    def finished(self, name: str, window: tuple[float, float] | None = None) -> list[dict]:
        """Closed spans called ``name``, optionally only those inside
        ``window`` (perf_counter start, end)."""
        lo, hi = window or (float("-inf"), float("inf"))
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and s["start"] >= lo and s["end"] <= hi
        ]

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


class CallCounter:
    """Counts calls into, and seconds inside, functions patched from
    outside.  ``restore()`` puts the originals back."""

    def __init__(self):
        self.calls: dict[str, int] = {}
        self.seconds: dict[str, float] = {}
        # per thread: foreachBatch bodies run on py4j's callback thread
        # while the main thread sits inside a send_command
        self._depth = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, label: str, tracer: Tracer | None = None) -> None:
        """Count calls of ``owner.attr`` under ``label``; only the outermost
        of nested calls under one label counts.  With ``tracer`` each
        counted call is also a span named ``label``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*a, **kw):
            if getattr(self._depth, label, 0):
                return orig(*a, **kw)
            setattr(self._depth, label, 1)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    return orig(*a, **kw)
                with tracer.span(label):
                    return orig(*a, **kw)
            finally:
                setattr(self._depth, label, 0)
                self.calls[label] = self.calls.get(label, 0) + 1
                self.seconds[label] = self.seconds.get(label, 0.0) + (
                    time.perf_counter() - t0
                )

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, counted)

    def wrap_module(self, module, label: str, tracer=None) -> None:
        """Wrap every public function of ``module`` under one label."""
        names = getattr(module, "__all__", None) or [
            n for n, v in vars(module).items()
            if callable(v) and not n.startswith("_") and getattr(v, "__module__", None) == module.__name__
            and not isinstance(v, type)
        ]
        for n in names:
            self.wrap(module, n, label, tracer)

    def snapshot(self) -> dict[str, float]:
        return {**{f"{k}.calls": v for k, v in self.calls.items()},
                **{f"{k}.s": v for k, v in self.seconds.items()}}

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def count_py4j(spark, counter: CallCounter) -> None:
    """Count every py4j round trip (label ``py4j``): JavaObjects share the
    gateway's one client object, so wrapping its ``send_command`` sees
    them all."""
    client = spark.sparkContext._gateway._gateway_client
    counter.wrap(client, "send_command", "py4j")


def _opt_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


def read_status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages by id) from the app status store.  Times are epoch ms
    (jobs) and seconds (stage totals)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sids = j.stageIds()
        jobs.append(
            {
                "job": int(j.jobId()),
                "submitted_ms": _opt_ms(j.submissionTime()),
                "stages": [int(sids.apply(k)) for k in range(sids.size())],
            }
        )
    stages: dict[int, dict] = {}
    # stageList(statuses, details, withSummaries, quantiles, taskStatuses)
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    sl = store.stageList(None, False, False, no_quantiles, None)
    for i in range(sl.size()):
        s = sl.apply(i)
        rec = stages.setdefault(
            int(s.stageId()),
            {"tasks": 0, "cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0},
        )
        rec["tasks"] += int(s.numTasks())
        rec["cpu_s"] += int(s.executorCpuTime()) / 1e9
        rec["run_s"] += int(s.executorRunTime()) / 1e3
        rec["gc_s"] += int(s.jvmGcTime()) / 1e3
        rec["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        rec["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return jobs, stages


SPARK_FIELDS = ("jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes")


def spark_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Summed figures for a set of jobs (stages that never ran — skipped
    because their shuffle output was reused — count as stages with 0
    tasks run)."""
    sids = {s for j in jobs for s in j["stages"] if s in stages}
    run = [stages[s] for s in sids]
    return {
        "jobs": len(jobs),
        "stages": len(sids),
        "tasks": sum(r["tasks"] for r in run),
        "exec_cpu_s": sum(r["cpu_s"] for r in run),
        "exec_run_s": sum(r["run_s"] for r in run),
        "gc_s": sum(r["gc_s"] for r in run),
        "shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in run),
        "spill_bytes": sum(r["spill_bytes"] for r in run),
    }


def jobs_within(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """Jobs submitted inside any of ``spans`` (wall-clock intervals; the
    status store stamps submission in epoch ms)."""
    iv = [(s["wall_start"] - 0.002, s["wall_end"] + 0.002) for s in spans]
    return [
        j for j in jobs
        if j["submitted_ms"] is not None
        and any(a <= j["submitted_ms"] / 1e3 <= b for a, b in iv)
    ]
