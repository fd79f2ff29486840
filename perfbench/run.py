#!/usr/bin/env python3
"""CDC-first benchmark for creek_spark.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 8 --trace 0

Run from the repository root.  Starts one local[nproc] Spark session, sets
the workload up, measures whole operations for at least ``--seconds``
seconds, checks the outputs against the benchmark's own references, prints
every metric by name with its unit, and prints as the last stdout line one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics: its measured operations alternate between traced ones,
which give the layer figures, and untraced ones on the same warm JVM, the
baseline of the tracing overhead.  The spans are written to
``.perfbench_work/trace-<workload>-<seed>.json``.  Everything the run
writes lives under ``.perfbench_work/`` and is removed at exit except that
trace file.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("cdc_catchup", "analytics_headline")
SETUP_REPEATS = 2
# Options of the measured JVM, both against run-to-run spread in runs this
# short, measured on one shared 4-core host within an hour.  C1 only: how
# far C2 got with its compile queue set the pace (headline passes: IQR 41%
# of the median with tiered C2, 1.4% with C1 only).  -Xms1g: heap
# ergonomics grew the heap to a different size each run (peak RSS IQR 22%
# without it, under 1% with it).
JVM_OPTS = "-XX:TieredStopAtLevel=1 -Xms1g"


def _peak_rss_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """CPU seconds of process ``root`` and its live descendants, each with
    the CPU of the children it has reaped (pyspark's Python workers run
    below the JVM)."""
    kids, ticks = defaultdict(list), {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has gone
            continue
        kids[int(fields[1])].append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids[pid]
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_s(spark) -> float:
    """CPU seconds of this process and the JVM with its Python workers so
    far (steal time is not charged to processes, so this holds still on a
    busy host)."""
    t = os.times()
    return t.user + t.system + _tree_cpu_s(spark._jvm.java.lang.ProcessHandle.current().pid())


class Context:
    """What a workload sees: the session, its seed and window, the tracer,
    and where it reports metrics and check results."""

    def __init__(self, spark, args, workdir: str, tracer, counter):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = tracer.enabled
        self.tracer = tracer
        self.counter = counter
        self._workdir = workdir
        self.metrics: dict[str, tuple[float, str]] = {}
        self.info: dict = {}
        self.layer_inputs: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s: list[float] = []
        self.setup_cpu_s: list[float] = []
        self.after: list = []
        self.install = lambda: None  # puts the instruments in (traced runs)

    def workdir(self, name: str) -> str:
        path = os.path.join(self._workdir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def timed_setup(self, fn):
        """Run a one-off set-up step; its CPU time counts towards setup_s."""
        t0, c0 = time.perf_counter(), _cpu_s(self.spark)
        out = fn()
        self.setup_s.append(time.perf_counter() - t0)
        self.setup_cpu_s.append(_cpu_s(self.spark) - c0)
        return out

    def repeated_setup(self, fn):
        """Run a repeatable set-up step SETUP_REPEATS times and keep the
        last result; the median CPU time counts towards setup_s."""
        runs, cpu = [], []
        for _ in range(1 if self.trace else SETUP_REPEATS):
            t0, c0 = time.perf_counter(), _cpu_s(self.spark)
            out = fn()
            runs.append(time.perf_counter() - t0)
            cpu.append(_cpu_s(self.spark) - c0)
        self.setup_s.append(statistics.median(runs))
        self.setup_cpu_s.append(statistics.median(cpu))
        return out

    def begin_window(self) -> None:
        self._w0 = (time.perf_counter(), self.counter.snapshot(), _cpu_s(self.spark))

    def end_window(self) -> None:
        p0, c0, cpu0 = self._w0
        self.window = (p0, time.perf_counter())
        self.window_counts = (c0, self.counter.snapshot())
        self.window_cpu_s = _cpu_s(self.spark) - cpu0

    @contextmanager
    def op(self, group: str, traced: bool):
        """One measured operation (a batch or a query run): one attempt and
        one top-level span ``op``.  Untraced ops of a traced run run with
        every instrument out; they are the baseline of ``trace.overhead_*``
        on the same warm JVM as the traced ones."""
        suspend = self.trace and not traced
        if suspend:
            self.tracer.enabled = False
            self.counter.restore()
        self.attempted += 1
        try:
            with self.tracer.span("op", group=group):
                yield
        finally:
            if suspend:
                self.tracer.enabled = True
                self.install()

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(msg)
            print(f"CHECK FAILED: {msg}", file=sys.stderr)

    def report(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def restart_session(self, cores: int):
        from creek_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                               shuffle_partitions=cores)
        return self.spark


def start_session(tmp: str):
    from creek_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench",
                      extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}"})
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run_pass(module, name, spark, args, workdir, trace: bool):
    from layers import CallCounter, Tracer

    ctx = Context(spark, args, workdir, Tracer(trace), CallCounter())
    if trace:
        import instrument

        ctx.install = lambda: instrument.install(ctx)
        ctx.install()
    try:
        getattr(module, name)(ctx)
    finally:
        ctx.counter.restore()
    return ctx


def traced_run(module, spark, args, workdir, session_s):
    """Per-layer metrics from one traced pass."""
    import instrument

    ctx = run_pass(module, args.workload, spark, args, workdir, trace=True)
    metrics = instrument.layer_metrics(ctx, session_s)
    for fn in ctx.after:
        for k, v in fn().items():
            metrics[k] = (v, metrics[k][1])
    ctx.tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                    {"info": ctx.info, "errors": ctx.errors})
    return ctx, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [HERE, ROOT]
    cores = os.cpu_count() or 1
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    try:
        import creek_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: creek_spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    module = importlib.import_module("cdc" if args.workload.startswith("cdc_") else "analytics")
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    # every scratch file of Python, the JVM and Spark stays in the checkout
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    spark = ctx = None
    try:
        spark, session_s = start_session(tmp)
        session_cpu_s = _cpu_s(spark)
        if args.trace:
            ctx, metrics = traced_run(module, spark, args, workdir, session_s)
        else:
            ctx = run_pass(module, args.workload, spark, args, workdir, trace=False)
            # CPU seconds: on a shared 4-core host they held still while the
            # other tenants slowed the cores (quartile spread over five seeds
            # 0.13-0.18 of the median, wall time 0.21-0.51)
            ctx.report("setup_s", session_cpu_s + sum(ctx.setup_cpu_s), "s")
            jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
            ctx.report("peak_rss_mb", _peak_rss_mb("self") + _peak_rss_mb(jvm_pid), "MB")
            metrics = ctx.metrics
            ctx.info["setup_wall_s"] = session_s + sum(ctx.setup_s)
            ctx.info["setup_parts_s"] = [round(x, 2) for x in [session_s] + ctx.setup_s]
    finally:
        if spark is not None:
            stop_session(ctx.spark if ctx else spark)
        shutil.rmtree(workdir, ignore_errors=True)

    for k, v in sorted(ctx.info.items()):
        print(f"info {k} = {v}")
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name} = {value:.6g} {unit}")
    correct = ctx.failed == 0
    if not correct:
        print(f"OUTPUT CHECK FAILED ({ctx.failed} of {ctx.attempted} operations)")
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
