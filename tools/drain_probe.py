"""Amortized CDC apply cost over a long catch-up drain.

The benchmark's `cdc_catchup` window holds a handful of 5k-change
batches, fewer than the `_COMPACT_VERSIONS` runs that trigger a
compaction, so it cannot tell a cheaper apply from compaction landing
outside the window.  This probe drains N batches through the same
stage + trigger path (`perfbench/cdc.py` `Pipeline`), times every
`CdcApplier.apply_batch` call (compactions included: they run inside
the call that publishes the eighth pending run), then checks the final
state against `perfbench/wal.interpret`.

    python tools/drain_probe.py [--repo PATH] [--batches 17] [--seed 1]

``--repo`` measures another checkout (a parent commit, say) with the
same script: its `creek_spark` and `perfbench` are imported.  Prints
one JSON line: per-batch apply seconds (the warm chunk excluded), their
mean and median, the (version, pending runs) of the manifest after each
batch, the compactions seen, the final read time and whether the state
matched.  Set SPARK_GRAFT_CPUS to pin the local core count.
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

        times: list[float] = []
        inner = pipe.applier.apply_batch

        def timed(batch, batch_id):
            t0 = time.perf_counter()
            inner(batch, batch_id)
            times.append(time.perf_counter() - t0)

        pipe.applier.apply_batch = timed
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
        drain = times[1:]  # the warm chunk's apply is excluded
        print(json.dumps({
            "repo": repo,
            "batches": len(drain),
            "mean_apply_s": round(statistics.mean(drain), 3),
            "median_apply_s": round(statistics.median(drain), 3),
            "apply_s": [round(t, 2) for t in drain],
            "manifest_version_runs": versions,
            # a compaction publishes with no run pending
            "compactions": sum(1 for (_, r0), (_, r1) in zip(versions, versions[1:])
                               if r0 and r1 <= r0),
            "final_read_s": round(read_s, 3),
            "state_ok": not bad,
        }))
        return 0 if not bad else 1
    finally:
        prun.stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
