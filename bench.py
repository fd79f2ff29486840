#!/usr/bin/env python
"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full materialization with the noop sink (no driver
collect, no disk write overhead in the measurement)."""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from creek_spark.session import get_spark

    # load the full catalog through the driver contract so bench stays in
    # sync with every registered part
    import __spark_entry__ as entry

    catalog = entry._catalog()

    # Ingest-time layout optimization (sources/layout.py): the driver
    # parquet has ONE row group per file, capping every scan at one
    # decoding core.  Mirror into a multi-row-group layout (pure
    # re-layout, identical rows — correctness paths still read the raw
    # driver files) and size file splits for the local data/cores.
    # SPARK_GRAFT_RAW_LAYOUT=1 benches the raw layout instead.
    layout = "raw"
    raw_sf_dir = sf_dir
    if os.environ.get("SPARK_GRAFT_RAW_LAYOUT", "") != "1":
        from creek_spark.sources.layout import optimize_layout

        sf_dir = optimize_layout(sf_dir)
        layout = "optimized"

    spark = get_spark(app_name="creek_spark_bench")

    headline = [q for q in catalog.values() if q.headline]
    # extra bench-only entry: the fast (zip_with) similarity path
    from creek_spark.operators.similarity import cosine_topk_fast
    from creek_spark.sources import read_table

    def similarity_topk_fast(spark, sf_dir):
        emb = read_table(spark, sf_dir, "embeddings")
        from pyspark.sql import functions as F

        return cosine_topk_fast(emb, emb.where(F.col("vec_id") < 10), k=5)

    runs = [(q.name, q.fn) for q in headline] + [
        ("similarity_topk_fast", similarity_topk_fast)
    ]

    # Harness self-test hook: SPARK_GRAFT_BENCH_BREAK=<name> swaps that
    # query for one that raises, proving one failure can't erase the rest.
    broken = os.environ.get("SPARK_GRAFT_BENCH_BREAK")
    if broken:

        def _boom(spark, sf_dir):
            raise RuntimeError(f"deliberately broken ({broken})")

        runs = [(n, _boom if n == broken else f) for n, f in runs]

    # untimed warmup at the smallest sf: JIT/codegen compilation and
    # parquet-footer caching otherwise dominate the first (and only)
    # timed execution of each query shape
    # (codegen: only because get_spark's codegen cache keeps all it compiled)
    # Fault isolation: one broken query must never erase the other
    # timings (round 3 lost the entire bench to a single
    # AnalysisException).  Failures land in an "errors" key instead.
    errors: dict[str, str] = {}

    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name, fn in runs:
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                errors[name] = f"warmup: {type(e).__name__}: {e}"[:500]
                print(f"WARMUP FAILED {name}: {e}", file=sys.stderr)

    # untimed scan warm at the bench sf: the first timed query otherwise
    # pays the OS page-cache miss for the biggest table (~10× its compute)
    from creek_spark.sources import TABLES, read_table as _rt

    for t in TABLES:
        try:
            _rt(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    from creek_spark.operators.dedup import release_caches

    # Per-query time = min over reps: a shared machine shows up to ±60%
    # single-run noise; the min is the stable estimate of the plan's cost.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    timings: dict[str, float] = {}
    t_all = time.perf_counter()
    for name, fn in runs:
        best = float("inf")
        for _ in range(reps):
            try:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            except Exception as e:
                errors.setdefault(
                    name, f"timing: {type(e).__name__}: {e}"[:500]
                )
                print(f"QUERY FAILED {name}: {e}", file=sys.stderr)
                break
            finally:
                # per-query session-state reset (r5 verdict item 7: q5
                # drifted +31% with an untouched plan — suspected cache/
                # storage interference between queries): release operator
                # caches AND drop any other cached plans so every query
                # times against a clean storage state
                release_caches()
                spark.catalog.clearCache()
        if best < float("inf"):
            timings[name] = round(best, 3)
    # cross-round comparability: the r1 headline set's subtotal, excluding
    # the rows promoted in round 6 and round 10 (BASELINE.md §2 records
    # the rule)
    promoted = (
        "ts_anomaly_mad",
        "customer_rfm",
        "similarity_ivfpq_search_trained",
    )
    r1_subset = round(
        sum(v for k, v in timings.items() if k not in promoted), 3
    )

    # Bench-only EXTRAS (excluded from the frozen headline total): the
    # IVFADC ANN path vs the exact top-k it approximates, with measured
    # recall@5 — documents the exact-vs-ANN trade-off at bench scale.
    extras: dict[str, float] = {}

    # Ambient-speed calibration, frozen-plan form (round-12 fix of the
    # twice-deferred r10 item 2): ~2 s of pure chained-hash compute +
    # one shuffle over spark.range — no IO, no data dependence, plan
    # frozen forever.  A 0.15 s scan-aggregate measures task-scheduling
    # overhead, not ambient speed: r8→r11 one stayed flat (or moved
    # OPPOSITE) while every query moved ~20% together.  This row is big
    # enough that CPU contention on the shared host shows up
    # proportionally, which is the quantity a cross-round reader must
    # divide out.  Both the min-of-3 (same estimator as the per-query
    # timings) and the median-of-3 (robust central ambient) are
    # emitted; BASELINE.md §2 records the normalization formula and the
    # reference value.
    try:
        from pyspark.sql import functions as F  # noqa: PLC0415

        h = F.col("id")
        for _i in range(12):
            h = F.xxhash64(h, F.lit(_i))
        frozen = (
            spark.range(0, 200_000_000, 1, 64)
            .select(h.alias("h"))
            .groupBy(F.pmod(F.col("h"), F.lit(4096)).alias("g"))
            .agg(
                F.sum(F.pmod(F.col("h"), F.lit(1000003))).alias("s"),
                F.count("*").alias("c"),
                F.min("h").alias("lo"),
                F.max("h").alias("hi"),
            )
            .agg(
                F.sum("s").alias("s"), F.sum("c").alias("c"),
                F.min("lo").alias("lo"), F.max("hi").alias("hi"),
            )
        )
        frozen_ts: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            frozen.write.format("noop").mode("overwrite").save()
            frozen_ts.append(time.perf_counter() - t0)
        frozen_ts.sort()
        extras["calibration_frozen_sec"] = round(frozen_ts[0], 3)
        extras["calibration_frozen_median_sec"] = round(frozen_ts[1], 3)
    except Exception:
        pass

    try:
        ivfpq_fn = catalog["similarity_ivfpq"].fn
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            ivfpq_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            release_caches()
        extras["similarity_ivfpq"] = round(best, 3)
        # amortized form: build the persisted cell-partitioned index once
        # (timed), then search it (timed) — the production ANN shape
        import tempfile

        from creek_spark.operators.similarity import (
            ivfpq_index_build,
            ivfpq_search,
        )

        from pyspark.sql import functions as F

        with tempfile.TemporaryDirectory() as idx_dir:
            emb_b = read_table(spark, sf_dir, "embeddings")
            t0 = time.perf_counter()
            ivfpq_index_build(emb_b, idx_dir)
            extras["similarity_ivfpq_build"] = round(time.perf_counter() - t0, 3)
            qs_b = emb_b.where(F.col("vec_id") < 10)
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                ivfpq_search(spark, idx_dir, qs_b).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            extras["similarity_ivfpq_search"] = round(best, 3)
        # recall@5 vs the exact cosine top-k (untimed; same ground-truth
        # convention as tests/test_similarity.py)
        from pyspark.sql import functions as F

        emb = read_table(spark, sf_dir, "embeddings")
        qs = emb.where(F.col("vec_id") < 10)
        exact = {}
        for r in cosine_topk_fast(emb, qs, k=5).collect():
            exact.setdefault(r["q_id"], set()).add(r["n_id"])
        approx = {}
        for r in ivfpq_fn(spark, sf_dir).collect():
            approx.setdefault(r["q_id"], set()).add(r["n_id"])
        hits = sum(len(v & approx.get(q, set())) for q, v in exact.items())
        total_n = sum(len(v) for v in exact.values())
        # rerank=0 determinism pin (the oracled catalog row's operating
        # point) — NOT the shipped default; see ..._recall_at5 below
        extras["similarity_ivfpq_recall_at5_norerank_pin"] = round(
            hits / total_n, 3
        )
        # the SHIPPED default operating point (ivfpq_topk defaults:
        # n_codes=64, nprobe=8/16, exact-cosine rerank-100): this is the
        # recall number the engine stands behind — gated ≥ 0.6 in
        # tests/test_similarity.py on this same corpus.  The unqualified
        # key reports THIS path so BENCH_r{N}.json reads unambiguously.
        from creek_spark.operators.similarity import ivfpq_topk

        dflt = {}
        for r in ivfpq_topk(emb, qs).collect():
            dflt.setdefault(r["q_id"], set()).add(r["n_id"])
        hits_d = sum(len(v & dflt.get(q, set())) for q, v in exact.items())
        extras["similarity_ivfpq_recall_at5"] = round(hits_d / total_n, 3)
        extras["similarity_ivfpq_recall_at5_default"] = round(
            hits_d / total_n, 3
        )
        # the dial below the default: raw ADC at the same probe width —
        # shows how much of the default's recall the rerank contributes
        raw = {}
        for r in ivfpq_topk(emb, qs, rerank=0).collect():
            raw.setdefault(r["q_id"], set()).add(r["n_id"])
        hits_r = sum(len(v & raw.get(q, set())) for q, v in exact.items())
        extras["similarity_ivfpq_recall_at5_norerank"] = round(
            hits_r / total_n, 3
        )
        # the QUALITY dial above the default: k-means-trained quantizers
        # + residual codes (ivfpq_index_build(train="kmeans",
        # residual=True)), searched at the operating point a round-9
        # nprobe×rerank sweep measured on this corpus —
        #   nprobe  8, rerank 100 → 0.78   (the r8 number)
        #   nprobe 12, rerank 100 → 0.90
        #   nprobe 12, rerank 200 → 0.94   ← shipped here (~1.7 s search)
        #   nprobe 16, rerank 400 → 1.00   (full scan — the sanity bound)
        # search cost stays ~flat across the sweep (the rerank is
        # r·|queries| rows and the ADC join scales with probed cells,
        # both small at this corpus), so the knee is recall-driven.
        # Kept off the default path because the sampled codebooks are
        # what the decimal-exact oracle rows pin.
        # ROUND-10 PROMOTION: the trained operating point (0.94 recall@5
        # at nprobe=12/rerank=200 on the r9 sweep) graduates from extras
        # into the headline `queries` block, so BENCH diffs regression-
        # watch it like MAD/RFM; recall rides along top-level.  min over
        # `reps` like every headline row; build stays an extras row
        # (amortized cost, not per-query).
        with tempfile.TemporaryDirectory() as idx_dir:
            t0 = time.perf_counter()
            ivfpq_index_build(emb, idx_dir, train="kmeans", residual=True)
            extras["similarity_ivfpq_build_trained"] = round(
                time.perf_counter() - t0, 3
            )
            best_t, rows_t = float("inf"), []
            for _ in range(reps):
                t0 = time.perf_counter()
                rows_t = ivfpq_search(
                    spark, idx_dir, qs, nprobe=12, rerank=200
                ).collect()
                best_t = min(best_t, time.perf_counter() - t0)
            timings["similarity_ivfpq_search_trained"] = round(best_t, 3)
            trained = {}
            for r in rows_t:
                trained.setdefault(r["q_id"], set()).add(r["n_id"])
            hits_t = sum(
                len(v & trained.get(q, set())) for q, v in exact.items()
            )
            recall_trained = round(hits_t / total_n, 3)
            extras["similarity_ivfpq_recall_at5_trained"] = recall_trained
            extras["similarity_ivfpq_trained_nprobe"] = 12
            extras["similarity_ivfpq_trained_rerank"] = 200
            # the ≥0.85 gate (tests/test_similarity.py) watched here too:
            # a sub-gate recall is a loud error row, not a silent number
            if recall_trained < 0.85:
                errors.setdefault(
                    "similarity_ivfpq_recall_at5_trained",
                    f"recall {recall_trained} below the 0.85 gate",
                )
    except Exception as e:
        errors.setdefault("similarity_ivfpq", f"extras: {type(e).__name__}: {e}"[:500])

    # JPEG codec throughput (round 11): encode+decode round-trip of one
    # deterministic block-grid JPEG per document through the catalog
    # query (mapInPandas across all cores) — the visible number for the
    # pure-numpy baseline-JPEG path that closed the non-PNG pixel gap
    try:
        qfn = catalog["multimodal_jpeg_pixel_stats"].fn
        # same untimed warmup discipline as the headline rows: the first
        # Python stage of a session pays the 32-worker fork+import wave
        # (~5 s of pure startup, nothing to do with the codec) — the
        # headline warmup loop never runs a Python stage, so this row
        # must warm its own worker pool before timing (round 12; the
        # r8–r11 numbers for this row include that startup wave)
        if os.path.isdir(warm_dir):
            try:
                qfn(spark, warm_dir).count()
            except Exception:
                pass
        t0 = time.perf_counter()
        n_imgs = qfn(spark, sf_dir).count()
        extras["multimodal_jpeg_roundtrip_sec"] = round(
            time.perf_counter() - t0, 3
        )
        extras["multimodal_jpeg_images"] = int(n_imgs)
    except Exception as e:
        errors.setdefault(
            "multimodal_jpeg_roundtrip",
            f"extras: {type(e).__name__}: {e}"[:500],
        )

    # total = sum of per-query minima (NOT wall time of the rep loop);
    # computed after the round-10 promotion so the headline metric
    # includes the trained-search row
    total = round(sum(timings.values()), 3)

    wall = round(time.perf_counter() - t_all, 3)

    # Regression gate: compare per-query times against the newest
    # recorded bench (the operative baseline — BASELINE.md: the reference
    # publishes no numbers; SPARK_GRAFT_BENCH_BASELINE names another).
    # >2× slower is a loud warning on stderr and a "regressions" key in
    # the JSON.
    regressions: dict[str, list[float]] = {}
    base_path = os.environ.get(
        "SPARK_GRAFT_BENCH_BASELINE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r13.json"),
    )
    try:
        with open(base_path) as f:
            data = json.load(f)
        # the driver's BENCH_r{N}.json nests the bench line under "parsed"
        base = data.get("queries") or data.get("parsed", {}).get("queries", {})
        for name, sec in timings.items():
            prev = base.get(name)
            if prev and sec > 2.0 * prev:
                regressions[name] = [prev, sec]
                print(
                    f"REGRESSION {name}: {sec:.3f}s vs baseline {prev:.3f}s (>2x)",
                    file=sys.stderr,
                )
    except (OSError, ValueError):
        pass

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": reps,
        "r1_subset_total_sec": r1_subset,
        "wall_sec": wall,
        "layout": layout,
        "data_dir": raw_sf_dir,
    }
    if extras:
        out["extras"] = extras
    if regressions:
        out["regressions"] = regressions
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
