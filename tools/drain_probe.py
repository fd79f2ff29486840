"""Amortized CDC apply cost over a long catch-up drain.

The benchmark's `cdc_catchup` window holds a handful of 5k-change
batches, fewer than the `_COMPACT_VERSIONS` runs that trigger a
compaction, so it cannot tell a cheaper apply from compaction landing
outside the window.  This probe drains N batches through the same
stage + trigger path (`perfbench/cdc.py` `Pipeline`), times every
`CdcApplier.apply_batch` call (compactions included: they run inside
the call that publishes the eighth pending run) and every compaction
on its own, in wall seconds and in process-tree CPU seconds (driver,
JVM and Python workers: `perfbench/run.py` `_cpu_s`, the benchmark's
CPU unit), then checks the final state against `perfbench/wal.interpret`.

    python tools/drain_probe.py [--repo PATH] [--batches 17] [--seed 1]

``--repo`` measures another checkout (a parent commit, say) with the
same script: its `creek_spark` and `perfbench` are imported.  Prints
one JSON line: per-batch apply wall and CPU seconds (the warm chunk
excluded) with their means and medians, the (version, pending runs) of
the manifest after each batch, each compaction's wall and CPU seconds,
the final read time and whether the state matched.  Set
SPARK_GRAFT_CPUS to pin the local core count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--batches", type=int, default=17)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    repo = os.path.abspath(args.repo)
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    os.chdir(repo)
    import cdc
    import run as prun
    import wal
    from layers import Tracer

    tmp = tempfile.mkdtemp(prefix="drain_probe_")
    spark, _ = prun.start_session(tmp)
    try:
        ctx = type("Ctx", (), {"spark": spark, "tracer": Tracer(False)})()
        live = wal.preload_keys(cdc.CATCHUP_KEYS, cdc.CATCHUP_LIVE)
        initial = {k: wal.preload_row(k) for k in live}
        tr = wal.generate(args.seed, cdc.CATCHUP_BATCH * (args.batches + 2),
                          cdc.CATCHUP_KEYS, live=live)
        first = cdc._chunks(tr, cdc.WARM_CHANGES)[0]
        cuts = [first] + cdc._chunks(tr, cdc.CATCHUP_BATCH, after=first[1])
        pipe = cdc.Pipeline(ctx, os.path.join(tmp, "pipeline"))
        cdc.preload_state(spark, pipe.applier, live)

        def timed(fn, out: list):
            """``fn`` recording (wall s, CPU s) of each call into ``out``."""
            def call(*a):
                t0, c0 = time.perf_counter(), prun._cpu_s(spark)
                got = fn(*a)
                out.append((time.perf_counter() - t0, prun._cpu_s(spark) - c0))
                return got
            return call

        applies: list[tuple[float, float]] = []
        compactions: list[tuple[float, float]] = []
        pipe.applier.apply_batch = timed(pipe.applier.apply_batch, applies)
        compact = timed(pipe.applier._compact, compactions)
        # a call with no run pending returns at once and is not counted
        pipe.applier._compact = lambda m: compact(m) if m and m.get("runs") else m
        manifest_path = os.path.join(pipe.applier.state_dir, "_manifest.json")
        start = applied = 0
        versions = []
        for frame_end, change_end in cuts[: args.batches + 1]:
            pipe.stage(tr.frames[start:frame_end])
            pipe.apply()
            start, applied = frame_end, change_end
            with open(manifest_path) as f:
                m = json.load(f)
            versions.append((m["version"], len(m.get("runs", ()))))

        t0 = time.perf_counter()
        got = {r["id"]: (r["name"], r["amount"], r["updated_at"])
               for r in pipe.applier.current_state().select("id", *wal.VALUE_COLS).collect()}
        read_s = time.perf_counter() - t0
        bad = wal.state_mismatches(wal.interpret(tr.changes[:applied], initial), got)
        wall, cpu = zip(*applies[1:])  # the warm chunk's apply is excluded
        print(json.dumps({
            "repo": repo,
            "batches": len(wall),
            "mean_apply_s": round(statistics.mean(wall), 3),
            "median_apply_s": round(statistics.median(wall), 3),
            "mean_apply_cpu_s": round(statistics.mean(cpu), 3),
            "median_apply_cpu_s": round(statistics.median(cpu), 3),
            "apply_s": [round(t, 2) for t in wall],
            "apply_cpu_s": [round(t, 2) for t in cpu],
            "manifest_version_runs": versions,
            "compactions": len(compactions),
            "compaction_s": [round(w, 2) for w, _ in compactions],
            "compaction_cpu_s": [round(c, 2) for _, c in compactions],
            "final_read_s": round(read_s, 3),
            "state_ok": not bad,
        }))
        return 0 if not bad else 1
    finally:
        prun.stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
