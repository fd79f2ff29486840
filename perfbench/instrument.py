"""The ``--trace 1`` side: what gets wrapped, and how the spans, counters
and status-store figures turn into the per-layer metrics.

Every per-layer metric is reported on every workload; a layer the workload
never calls reports 0 (the prediction for a workload that bypasses it).
Counts and times cover the traced operations of the measured window only
unless the name says otherwise (``session.start_s``, ``layout.s``,
``streaming.read_s``, ``scaling.*``).
"""

from __future__ import annotations

import statistics

import analytics
import layers
from creek_spark import fsio
from creek_spark.operators import similarity

CDC_METRICS = [
    ("pgoutput.rows", "count"),
    ("pgoutput.decode_s", "s"),
    ("walsender.stage_s", "s"),
    ("walsender.flushes", "count"),
    ("walsender.staged_bytes", "bytes"),
    ("streaming.batches", "count"),
    ("streaming.apply_p50_s", "s"),
    ("streaming.apply_p90_s", "s"),
    ("streaming.trigger_overhead_s", "s"),
    ("streaming.buckets_touched", "count"),
    ("streaming.state_rows_rewritten", "count"),
    ("streaming.rewrite_ratio", "ratio"),
    ("streaming.read_s", "s"),
]
COMMON_METRICS = [
    ("fsio.calls", "count"),
    ("fsio.s", "s"),
    ("py4j.calls", "count"),
    ("py4j.calls_per_op", "count"),
    *[(f"spark.{f}", "s" if f.endswith("_s") else "bytes" if f.endswith("bytes") else "count")
      for f in layers.SPARK_FIELDS],
    ("spark.jobs_per_op", "count"),
    ("similarity.calls", "count"),
    ("similarity.build_jobs", "count"),
    ("similarity.build_py4j_calls", "count"),
    ("session.start_s", "s"),
    ("layout.s", "s"),
    ("scaling.local1_changes_per_s", "1/s"),
    ("scaling.speedup_vs_local1", "x"),
    ("run.throughput_per_s", "1/s"),
    ("trace.overhead_s", "s"),  # per item (change or query)
    ("trace.overhead_share", "share"),
]
QUERY_FIELDS = (("build_s", "s"), ("run_s", "s"), ("py4j_calls", "count"), ("jobs", "count"))


def query_metrics() -> list[tuple[str, str]]:
    return [(f"queries.{q.name}.{f}", u) for q in analytics.headline() for f, u in QUERY_FIELDS]


def all_metrics() -> list[tuple[str, str]]:
    return CDC_METRICS + COMMON_METRICS + query_metrics()


def install(ctx) -> None:
    ctx.counter.wrap_module(fsio, "fsio")
    ctx.counter.wrap_module(similarity, "similarity", tracer=ctx.tracer)
    layers.count_py4j(ctx.spark, ctx.counter)
    ctx.tracer.probe = lambda: ctx.counter.calls.get("py4j", 0)


def _q(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def _dur(spans) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def layer_metrics(ctx, session_s: float) -> dict[str, tuple[float, str]]:
    tr, window = ctx.tracer, ctx.window
    out = {name: 0.0 for name, _ in all_metrics()}
    units = dict(all_metrics())
    counts = {k: ctx.window_counts[1].get(k, 0) - ctx.window_counts[0].get(k, 0)
              for k in ctx.window_counts[1]}

    jobs, stages = layers.read_status_store(ctx.spark)
    ops = tr.finished("op", window)
    w_jobs = layers.jobs_within(jobs, ops)
    for k, v in layers.spark_totals(w_jobs, stages).items():
        out[f"spark.{k}"] = v
    out["spark.jobs_per_op"] = len(w_jobs) / len(ops) if ops else 0.0
    out["py4j.calls"] = counts.get("py4j.calls", 0)
    out["py4j.calls_per_op"] = out["py4j.calls"] / len(ops) if ops else 0.0
    out["fsio.calls"] = counts.get("fsio.calls", 0)
    out["fsio.s"] = counts.get("fsio.s", 0.0)
    out["session.start_s"] = session_s
    out["layout.s"] = statistics.median(_dur(tr.finished("layout.optimize_layout")) or [0.0])

    sim = tr.finished("similarity", window)
    out["similarity.calls"] = len(sim)
    out["similarity.build_jobs"] = len(layers.jobs_within(w_jobs, sim))
    out["similarity.build_py4j_calls"] = sum(s["py4j"] for s in sim)

    decode = tr.finished("pgoutput.decode", window)
    out["pgoutput.rows"] = ctx.layer_inputs.get("changes", 0) if decode else 0
    out["pgoutput.decode_s"] = sum(_dur(decode))
    ingest = tr.finished("walsender.ingest_transcript", window)
    out["walsender.stage_s"] = sum(tr.self_time(s) for s in ingest)
    out["walsender.flushes"] = ctx.layer_inputs.get("flushes", 0)
    out["walsender.staged_bytes"] = ctx.layer_inputs.get("staged_bytes", 0)
    apply = _dur(tr.finished("streaming.apply_batch", window))
    out["streaming.batches"] = len(apply)
    out["streaming.apply_p50_s"] = _q(apply, 0.5)
    out["streaming.apply_p90_s"] = _q(apply, 0.9)
    trig = [tr.self_time(s) for s in tr.finished("streaming.trigger", window)]
    out["streaming.trigger_overhead_s"] = statistics.median(trig) if trig else 0.0
    touched = ctx.layer_inputs.get("buckets_touched", [])
    rewritten = ctx.layer_inputs.get("rows_rewritten", [])
    out["streaming.buckets_touched"] = statistics.mean(touched) if touched else 0.0
    out["streaming.state_rows_rewritten"] = sum(rewritten)
    if out["pgoutput.rows"]:
        out["streaming.rewrite_ratio"] = sum(rewritten) / out["pgoutput.rows"]
    reads = _dur(tr.finished("streaming.current_state"))
    out["streaming.read_s"] = statistics.median(reads) if reads else 0.0

    for name in ctx.layer_inputs.get("queries", []):
        runs = [s for s in ops if s["group"].startswith(name + "#")]
        groups = {s["group"] for s in runs}
        kids = {f: [s for s in tr.finished(f"queries.{f}", window) if s["group"] in groups]
                for f in ("build", "run")}
        out[f"queries.{name}.build_s"] = statistics.median(_dur(kids["build"]) or [0.0])
        out[f"queries.{name}.run_s"] = statistics.median(_dur(kids["run"]) or [0.0])
        out[f"queries.{name}.py4j_calls"] = statistics.median(
            [s["py4j"] for s in kids["build"]] or [0])
        out[f"queries.{name}.jobs"] = statistics.median(
            [len(layers.jobs_within(w_jobs, [s])) for s in runs] or [0])

    # the overhead is the extra wall time per item of the traced ops over
    # the untraced ones they alternate with
    traced, base = ctx.info["traced_throughput_per_s"], ctx.info["throughput_per_s"]
    out["run.throughput_per_s"] = traced
    out["trace.overhead_s"] = 1 / traced - 1 / base
    out["trace.overhead_share"] = base / traced - 1
    return {k: (float(v), units[k]) for k, v in out.items()}
