"""AdditiveRollupSink: incremental rollup maintenance == batch recompute,
replay fencing, partition-local rewrites, atomic manifest visibility."""

from __future__ import annotations

import pytest

import json
import os

from pyspark.sql import functions as F

from creek_spark.operators.sketches import histogram_quantiles, histogram_sketch
from creek_spark.sources import read_table
from creek_spark.streaming.rollup import AdditiveRollupSink


def _tier(df):
    """events micro-batch → histogram tier rows with a string day part."""
    h = histogram_sketch(
        df, "value", bin_width=5.0, group_cols=["event_type"], bucket="hour"
    )
    return h.select(
        F.date_format("bucket_start", "yyyy-MM-dd").alias("day"),
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "bin",
        "n",
    )


KEYS = ["day", "hour", "event_type", "bin"]


def _sink(spark, tmp_path):
    return AdditiveRollupSink(
        spark, str(tmp_path / "rollup"), KEYS, ["n"], "day"
    )


def _rows(df):
    return sorted(map(tuple, df.select(*KEYS, "n").collect()))


@pytest.mark.slow
def test_incremental_equals_batch_recompute(spark, sf_dir, tmp_path):
    ev = read_table(spark, sf_dir, "events")
    sink = _sink(spark, tmp_path)
    # three micro-batches by event_id range
    for i, (lo, hi) in enumerate([(0, 300), (300, 700), (700, 10**9)]):
        batch = ev.where(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
        sink.apply_batch(_tier(batch), i)
    assert _rows(sink.current()) == _rows(_tier(ev))


def test_replayed_batch_is_noop(spark, sf_dir, tmp_path):
    ev = read_table(spark, sf_dir, "events")
    sink = _sink(spark, tmp_path)
    b0 = ev.where(F.col("event_id") < 500)
    b1 = ev.where(F.col("event_id") >= 500)
    sink.apply_batch(_tier(b0), 0)
    sink.apply_batch(_tier(b1), 1)
    before = _rows(sink.current())
    sink.apply_batch(_tier(b1), 1)  # replay after "crash" — no-op
    assert _rows(sink.current()) == before
    # an id BELOW the fence cannot be a Spark replay (triggers
    # serialize; only the last batch can replay) — it means a
    # reset/relocated checkpoint whose recycled ids carry NEW rows,
    # and silently skipping them would drop data: loud refusal
    import pytest

    with pytest.raises(ValueError, match="reset or relocated checkpoint"):
        sink.apply_batch(_tier(b0), 0)
    assert _rows(sink.current()) == before  # refusal committed nothing


def test_batch_rewrites_only_touched_partitions(spark, tmp_path):
    """A batch whose rows all land in one day must not rewrite other
    days' state files (the partition-local property)."""
    import datetime

    mk = lambda d, n: spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, d, 10), 100 + i, "view", 7.0, "{}")
         for i in range(n)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sink = _sink(spark, tmp_path)
    sink.apply_batch(_tier(mk(1, 5)), 0)
    m1 = json.load(open(os.path.join(sink.state_dir, "_manifest.json")))
    sink.apply_batch(_tier(mk(2, 5)), 1)  # different day only
    m2 = json.load(open(os.path.join(sink.state_dir, "_manifest.json")))
    assert m2["buckets"]["2024-01-01"] == m1["buckets"]["2024-01-01"], (
        "untouched day was rewritten"
    )
    assert m2["buckets"]["2024-01-02"] != m1["buckets"]["2024-01-01"]
    # both days' dirs exist and state is the sum of both batches
    assert sink.current().count() == _tier(mk(1, 5)).count() + _tier(mk(2, 5)).count()


def test_old_layout_manifest_fails_with_remedy(spark, tmp_path):
    """State from the older rollup layout (key ``parts``, ``v%07d``
    dirs) is not read: the error names it and says how to recover."""
    sink = _sink(spark, tmp_path)
    os.makedirs(sink.state_dir, exist_ok=True)
    with open(os.path.join(sink.state_dir, "_manifest.json"), "w") as f:
        json.dump(
            {"version": 1, "parts": {"2024-01-01": "v0000001"}, "last_batch_id": 0},
            f,
        )
    with pytest.raises(ValueError, match="'parts'.*replay from the checkpoint"):
        sink.current()


@pytest.mark.slow
def test_quantiles_from_streamed_rollup_match_batch(spark, sf_dir, tmp_path):
    """End-to-end: quantiles computed from the streamed tier equal those
    from the one-shot batch sketch (the point of the whole exercise)."""
    ev = read_table(spark, sf_dir, "events")
    sink = _sink(spark, tmp_path)
    for i, (lo, hi) in enumerate([(0, 400), (400, 10**9)]):
        sink.apply_batch(
            _tier(ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi))), i
        )
    streamed = sink.current().select("event_type", "bin", "n")
    direct = histogram_sketch(
        ev, "value", bin_width=5.0, group_cols=["event_type"], bucket="hour"
    )
    q = lambda h: sorted(
        map(
            tuple,
            histogram_quantiles(
                h, [0.5, 0.99], bin_width=5.0, group_cols=["event_type"]
            ).collect(),
        )
    )
    assert q(streamed) == q(direct)


@pytest.mark.slow
def test_empty_batch_advances_fence_only(spark, sf_dir, tmp_path):
    ev = read_table(spark, sf_dir, "events")
    sink = _sink(spark, tmp_path)
    sink.apply_batch(_tier(ev.where(F.col("event_id") < 100)), 0)
    before = _rows(sink.current())
    sink.apply_batch(_tier(ev.where(F.lit(False))), 1)
    assert sink.last_batch_id() == 1
    assert _rows(sink.current()) == before


@pytest.mark.slow
def test_streaming_zscore_flags_equal_batch(spark, sf_dir, tmp_path):
    """Round-4 verdict task: one detector proven incremental == batch.
    The z-score detector's moments stream through AdditiveRollupSink in
    three micro-batches; scoring all streamed events must flag EXACTLY
    the batch ts_anomaly_zscore rows, z values bit-identical."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingZScore

    ev = read_table(spark, sf_dir, "events")
    det = StreamingZScore(spark, str(tmp_path / "zstate"))
    for i, (lo, hi) in enumerate([(0, 400), (400, 900), (900, 10**9)]):
        det.apply_batch(
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi)), i
        )
    got = sorted(
        map(tuple, det.score(ev).select("event_id", "z").collect())
    )
    batch = entrymod._catalog()["ts_anomaly_zscore"].fn(spark, sf_dir)
    want = sorted(map(tuple, batch.select("event_id", "z").collect()))
    assert got == want
    assert len(got) > 0  # non-vacuous at sf0.001

    # replaying the last batch under the same batch_id must not change
    # the moments (at-least-once delivery -> effectively-once flags)
    det.apply_batch(ev.where(F.col("event_id") >= 900), 2)
    again = sorted(map(tuple, det.score(ev).select("event_id", "z").collect()))
    assert again == want


@pytest.mark.slow
def test_streaming_growth_rates_equal_batch(spark, sf_dir, tmp_path):
    """Second incremental == batch proof: MoM/YoY growth from monthly
    cells streamed in three micro-batches (plus a replay) must equal the
    batch ts_growth_rates rows exactly."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingGrowthRates

    o = read_table(spark, sf_dir, "orders")
    det = StreamingGrowthRates(spark, str(tmp_path / "gstate"))
    for i, (lo, hi) in enumerate([(0, 3000), (3000, 9000), (9000, 10**12)]):
        det.apply_batch(
            o.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)), i
        )
    det.apply_batch(o.where(F.col("o_orderkey") >= 9000), 2)  # replay fence
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["ts_growth_rates"].fn(spark, sf_dir)
    got, want = key(det.rates()), key(batch)
    assert len(got) > 0
    assert got == want


@pytest.mark.slow
def test_streaming_forecast_backtest_equals_batch(spark, sf_dir, tmp_path):
    """Third incremental == batch proof: seasonal-naive MAE/bias from
    hourly cells streamed in three micro-batches equals the batch
    ts_forecast_snaive rows exactly."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingForecastBacktest

    ev = read_table(spark, sf_dir, "events")
    det = StreamingForecastBacktest(spark, str(tmp_path / "fstate"))
    for i, (lo, hi) in enumerate([(0, 300), (300, 700), (700, 10**12)]):
        det.apply_batch(
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["ts_forecast_snaive"].fn(spark, sf_dir)
    got, want = key(det.backtest()), key(batch)
    assert len(got) > 0
    assert got == want


@pytest.mark.slow
def test_streaming_cusum_equals_batch(spark, sf_dir, tmp_path):
    """Fourth incremental == batch proof: hourly-series CUSUM from
    maintained cells equals batch ts_cusum_hourly exactly — and the
    SAME maintained rollup state can feed both the CUSUM and the
    forecast-backtest detectors (shared tier)."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import (
        StreamingCusum,
        StreamingForecastBacktest,
    )

    ev = read_table(spark, sf_dir, "events")
    det = StreamingCusum(spark, str(tmp_path / "cstate"))
    for i, (lo, hi) in enumerate([(0, 500), (500, 10**12)]):
        det.apply_batch(
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["ts_cusum_hourly"].fn(spark, sf_dir)
    got, want = key(det.changepoints()), key(batch)
    assert len(got) > 0
    assert got == want
    # shared-tier property: a backtest detector pointed at the SAME state
    # dir reads the same committed cells
    bt = StreamingForecastBacktest(spark, str(tmp_path / "cstate"))
    fb = entrymod._catalog()["ts_forecast_snaive"].fn(spark, sf_dir)
    assert key(bt.backtest()) == key(fb)


@pytest.mark.slow
def test_driver_partition_collect_is_capped(spark):
    """The sinks' only driver round-trip — distinct touched partition
    values — must be bounded: a mis-chosen high-cardinality partition key
    raises with guidance instead of collecting millions of rows
    (round-5 verdict item 6)."""
    import pytest
    from pyspark.sql import functions as F

    from creek_spark.streaming.rollup import bounded_partition_values

    df = spark.range(50).select(F.col("id").alias("pv"))
    # under the cap: all values, native type preserved
    vals = bounded_partition_values(df, "pv", what="t", cap=50)
    assert vals == set(range(50)) and all(isinstance(v, int) for v in vals)
    # over the cap: loud error naming the column and the fix
    with pytest.raises(ValueError, match="pv.*low-.?cardinality"):
        bounded_partition_values(df, "pv", what="t", cap=10)


@pytest.mark.slow
def test_streaming_corpus_report_equals_batch(spark, sf_dir, tmp_path):
    """Fifth incremental == batch proof: the per-(source, lang) corpus
    report card maintained from document micro-batches equals the batch
    corpus_report bit-for-bit, and a replayed batch is a no-op."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingCorpusReport

    docs = read_table(spark, sf_dir, "documents")
    det = StreamingCorpusReport(spark, str(tmp_path / "rstate"))
    splits = [(0, 40), (40, 90), (90, 10**12)]
    for i, (lo, hi) in enumerate(splits):
        det.apply_batch(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["corpus_report"].fn(spark, sf_dir)
    got, want = key(det.report()), key(batch)
    assert len(got) > 0
    assert got == want
    # replay fence: re-applying the last batch must not double-count
    det.apply_batch(
        docs.where(F.col("doc_id") >= splits[-1][0]), len(splits) - 1
    )
    assert key(det.report()) == want


@pytest.mark.slow
def test_streaming_drift_equals_batch(spark, sf_dir, tmp_path):
    """Sixth incremental == batch proof: the (group, bin) drift state
    maintained from document micro-batches reproduces the batch
    quality_drift_tvd report bit-for-bit, and a replayed batch is a
    no-op."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingDriftMonitor

    docs = read_table(spark, sf_dir, "documents")
    det = StreamingDriftMonitor(spark, str(tmp_path / "dstate"))
    splits = [(0, 40), (40, 90), (90, 10**12)]
    for i, (lo, hi) in enumerate(splits):
        det.apply_batch(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["quality_drift_tvd"].fn(spark, sf_dir)
    got, want = key(det.report()), key(batch)
    assert len(got) > 0
    assert got == want
    # replay fence: re-applying the last batch must not double-count
    det.apply_batch(
        docs.where(F.col("doc_id") >= splits[-1][0]), len(splits) - 1
    )
    assert key(det.report()) == want


@pytest.mark.slow
def test_streaming_dim_stats_equals_batch(spark, sf_dir, tmp_path):
    """Seventh incremental == batch proof — and the first exercising the
    sink's kind-aware merge (min/max cells beside sums): per-dimension
    stats maintained from embedding micro-batches equal the batch
    embedding_dim_stats bit-for-bit; a replayed batch is a no-op."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingDimStats

    emb = read_table(spark, sf_dir, "embeddings")
    det = StreamingDimStats(spark, str(tmp_path / "dimstate"))
    splits = [(0, 150), (150, 400), (400, 10**12)]
    for i, (lo, hi) in enumerate(splits):
        det.apply_batch(
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["embedding_dim_stats"].fn(spark, sf_dir)
    got, want = key(det.report()), key(batch)
    assert len(got) > 0
    assert got == want
    det.apply_batch(emb.where(F.col("vec_id") >= splits[-1][0]), len(splits) - 1)
    assert key(det.report()) == want


@pytest.mark.slow
def test_kind_aware_merge_hypothesis(spark, tmp_path):
    """Generative check of the sink's kind-aware merge: any partitioning
    of random cell rows into ordered batches merges to exactly the
    single-shot aggregation (sum/min/max per key), independent of how
    the rows were split."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from creek_spark.streaming.rollup import AdditiveRollupSink

    row = st.tuples(
        st.sampled_from(["a", "b"]),            # partition/key
        st.integers(0, 3),                       # sub-key
        st.integers(-50, 50),                    # summed measure
        st.floats(-10, 10, allow_nan=False, width=32),  # min/max measure
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=st.lists(row, min_size=1, max_size=24), cut=st.integers(0, 24))
    def run(rows, cut):
        cut = min(cut, len(rows))
        state = str(tmp_path / f"hyp{abs(hash((tuple(rows), cut))) % 10**9}")
        sink = AdditiveRollupSink(
            spark, state, ["p", "k"],
            {"s": "sum", "lo": "min", "hi": "max"}, "p",
        )
        schema = "p string, k int, s long, lo double, hi double"
        batches = [rows[:cut], rows[cut:]]
        i = 0
        for b in batches:
            if not b:
                continue
            sink.apply_batch(
                spark.createDataFrame(
                    [(p, k, s, v, v) for p, k, s, v in b], schema
                ),
                i,
            )
            i += 1
        got = {
            (r["p"], r["k"]): (r["s"], r["lo"], r["hi"])
            for r in sink.current().collect()
        }
        want = {}
        for p, k, s, v in rows:
            old = want.get((p, k))
            want[(p, k)] = (
                (s, v, v)
                if old is None
                else (old[0] + s, min(old[1], v), max(old[2], v))
            )
        assert got == want

    run()


@pytest.mark.slow
def test_streaming_cms_equals_batch(spark, sf_dir, tmp_path):
    """Eighth incremental == batch proof: the count-min cell grid and
    probe exact-counts maintained from document micro-batches reproduce
    the batch sketch_cms_counts report bit-for-bit; a replayed batch is
    a no-op; state stays sketch-sized."""
    import __spark_entry__ as entrymod

    from creek_spark.queries_northstar import (
        CMS_DEPTH,
        CMS_PROBES,
        CMS_WIDTH,
    )
    from creek_spark.streaming.detectors import StreamingCms

    docs = read_table(spark, sf_dir, "documents")
    det = StreamingCms(
        spark,
        str(tmp_path / "cmsstate"),
        probes=CMS_PROBES,
        depth=CMS_DEPTH,
        width=CMS_WIDTH,
    )
    splits = [(0, 40), (40, 90), (90, 10**12)]
    for i, (lo, hi) in enumerate(splits):
        det.apply_batch(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["sketch_cms_counts"].fn(spark, sf_dir)
    got, want = key(det.report()), key(batch)
    assert len(got) == len(CMS_PROBES)
    assert got == want
    # replay fence: re-applying the last batch must not double-count
    det.apply_batch(
        docs.where(F.col("doc_id") >= splits[-1][0]), len(splits) - 1
    )
    assert key(det.report()) == want
    # the state itself is sketch-sized
    assert det.cells.current().count() <= CMS_DEPTH * CMS_WIDTH


@pytest.mark.slow
def test_streaming_trend_equals_batch(spark, sf_dir, tmp_path):
    """Ninth incremental == batch proof: the (type, day) daily-cents
    grid maintained from event micro-batches reproduces the batch
    ts_linear_trend OLS report bit-for-bit; a replayed batch is a
    no-op."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingTrend

    ev = read_table(spark, sf_dir, "events")
    det = StreamingTrend(spark, str(tmp_path / "trendstate"))
    splits = [(0, 3000), (3000, 7000), (7000, 10**12)]
    for i, (lo, hi) in enumerate(splits):
        det.apply_batch(
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["ts_linear_trend"].fn(spark, sf_dir)
    got, want = key(det.report()), key(batch)
    assert len(got) > 0
    assert got == want
    # replay fence
    det.apply_batch(
        ev.where(F.col("event_id") >= splits[-1][0]), len(splits) - 1
    )
    assert key(det.report()) == want


@pytest.mark.slow
def test_streaming_bloom_equals_batch(spark, sf_dir, tmp_path):
    """Tenth incremental == batch proof: Bloom bit positions maintained
    from customer micro-batches reproduce the batch sketch_bloom_filter
    report bit-for-bit; a replayed batch is a no-op; state stays ≤ m
    rows (the sketch property)."""
    import __spark_entry__ as entrymod

    from creek_spark.operators.sketches import BLOOM_M
    from creek_spark.streaming.detectors import StreamingBloom

    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name")
    )
    sup = read_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name")
    )
    det = StreamingBloom(spark, str(tmp_path / "bloomstate"))
    splits = ["0123", "4567", "89abcdef"]
    for i, chars in enumerate(splits):
        det.apply_batch(
            cust.where(F.substring(F.md5("name"), 2, 1).isin(list(chars))), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    batch = entrymod._catalog()["sketch_bloom_filter"].fn(spark, sf_dir)
    want = key(batch)
    assert key(det.report(cust, sup)) == want
    # replay fence: re-applying the last batch must not change the bits
    det.apply_batch(
        cust.where(F.substring(F.md5("name"), 2, 1).isin(list(splits[-1]))),
        len(splits) - 1,
    )
    assert key(det.report(cust, sup)) == want
    # the state itself is sketch-sized
    assert det.bits_sink.current().count() <= BLOOM_M


@pytest.mark.slow
def test_streaming_acf_equals_batch(spark, sf_dir, tmp_path):
    """Eleventh incremental == batch proof: the (type, hour) count grid
    maintained from event micro-batches reproduces ts_autocorrelation
    bit-for-bit; a replayed batch is a no-op."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingAcf

    ev = read_table(spark, sf_dir, "events")
    det = StreamingAcf(spark, str(tmp_path / "acfstate"))
    splits = [(0, 300), (300, 700), (700, 10**12)]
    for i, (lo, hi) in enumerate(splits):
        det.apply_batch(
            ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    want = key(entrymod._catalog()["ts_autocorrelation"].fn(spark, sf_dir))
    assert key(det.report()) == want
    det.apply_batch(ev.where(F.col("event_id") >= 700), len(splits) - 1)
    assert key(det.report()) == want


@pytest.mark.slow
def test_streaming_backlog_equals_batch(spark, sf_dir, tmp_path):
    """Twelfth incremental == batch proof — the incremental-MV member:
    per-order (od, close) state with extremum merges reproduces
    orders_open_backlog even when an order's lineitems are SPLIT across
    micro-batches (close = max of maxes); replays are no-ops."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingBacklog

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    det = StreamingBacklog(spark, str(tmp_path / "blstate"))
    # orders split by key range; lineitems split by LINE NUMBER so most
    # orders' lines straddle batches — the max-merge stress
    det.apply_orders(o.where(F.col("o_orderkey") % 3 == 0), 0)
    det.apply_orders(o.where(F.col("o_orderkey") % 3 != 0), 1)
    det.apply_lineitems(li.where(F.col("l_linenumber") <= 2), 0)
    det.apply_lineitems(li.where(F.col("l_linenumber") > 2), 1)
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    want = key(entrymod._catalog()["orders_open_backlog"].fn(spark, sf_dir))
    assert key(det.report()) == want
    # replay fence on both tiers
    det.apply_orders(o.where(F.col("o_orderkey") % 3 != 0), 1)
    det.apply_lineitems(li.where(F.col("l_linenumber") > 2), 1)
    assert key(det.report()) == want


@pytest.mark.slow
def test_streaming_gini_equals_batch(spark, sf_dir, tmp_path):
    """Thirteenth incremental == batch proof: per-customer revenue cents
    merged additively reproduce customer_revenue_gini even when a
    customer's orders split across micro-batches; replays are no-ops."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingGini

    o = read_table(spark, sf_dir, "orders")
    det = StreamingGini(spark, str(tmp_path / "ginistate"))
    # split by ORDER key (not customer) → most customers straddle batches
    det.apply_batch(o.where(F.col("o_orderkey") % 3 == 0), 0)
    det.apply_batch(o.where(F.col("o_orderkey") % 3 == 1), 1)
    det.apply_batch(o.where(F.col("o_orderkey") % 3 == 2), 2)
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    want = key(entrymod._catalog()["customer_revenue_gini"].fn(spark, sf_dir))
    assert key(det.report()) == want
    det.apply_batch(o.where(F.col("o_orderkey") % 3 == 2), 2)  # replay
    assert key(det.report()) == want


@pytest.mark.slow
def test_streaming_conversion_equals_batch(spark, sf_dir, tmp_path):
    """Fourteenth incremental == batch proof: per-user first-view /
    first-purchase tiers merged by MINIMUM reproduce
    events_conversion_latency even when batches arrive out of time
    order (a later batch carrying an earlier first event wins);
    replays are no-ops."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingConversion

    ev = read_table(spark, sf_dir, "events")
    det = StreamingConversion(spark, str(tmp_path / "convstate"))
    # deliberately deliver NEWEST events first — min-merge must converge
    det.apply_batch(ev.where(F.dayofmonth("ts") > 20), 0)
    det.apply_batch(ev.where(F.dayofmonth("ts").between(11, 20)), 1)
    det.apply_batch(ev.where(F.dayofmonth("ts") <= 10), 2)
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    want = key(
        entrymod._catalog()["events_conversion_latency"].fn(spark, sf_dir)
    )
    assert key(det.report()) == want
    det.apply_batch(ev.where(F.dayofmonth("ts") <= 10), 2)  # replay
    assert key(det.report()) == want


@pytest.mark.slow
def test_streaming_vocab_equals_batch(spark, sf_dir, tmp_path):
    """Fifteenth incremental == batch proof: additive (source, token)
    counts reproduce text_vocab_hapax — including hapax counts, the
    subtle one: a type hapax in TWO batches must stop being hapax in
    the merged state; replays are no-ops."""
    import __spark_entry__ as entrymod

    from creek_spark.streaming.detectors import StreamingVocab

    docs = read_table(spark, sf_dir, "documents")
    det = StreamingVocab(spark, str(tmp_path / "vocabstate"))
    splits = [(0, 150), (150, 320), (320, 10**12)]
    for i, (lo, hi) in enumerate(splits):
        det.apply_batch(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), i
        )
    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    want = key(entrymod._catalog()["text_vocab_hapax"].fn(spark, sf_dir))
    assert key(det.report()) == want
    det.apply_batch(docs.where(F.col("doc_id") >= 320), len(splits) - 1)
    assert key(det.report()) == want


@pytest.mark.slow
def test_rollup_schema_evolution_new_metric_column(spark, tmp_path):
    """A metric column added to ``add_cols`` after state was persisted
    (the rollup-side twin of CdcApplier's ADD COLUMN case): the widened
    sink must merge onto old-schema partitions — prior periods read the
    new metric as its batch-only value (no prior contributions), while
    pre-existing metrics keep accumulating across the widening."""
    sd = str(tmp_path / "roll")
    keys, part = ["day", "k"], "day"
    v1 = AdditiveRollupSink(spark, sd, keys, ["n"], part)
    v1.apply_batch(
        spark.createDataFrame(
            [("d1", "a", 10), ("d2", "a", 5)], "day string, k string, n long"
        ),
        0,
    )
    v2 = AdditiveRollupSink(
        spark, sd, keys, {"n": "sum", "err": "sum"}, part
    )
    v2.apply_batch(
        spark.createDataFrame(
            [("d1", "a", 3, 2), ("d3", "b", 1, 7)],
            "day string, k string, n long, err long",
        ),
        1,
    )
    got = {
        (r["day"], r["k"]): (r["n"], r["err"])
        for r in v2.current().collect()
    }
    # d1 merged across the widening: n accumulates, err = batch-only;
    # d2 untouched (old schema on disk): err reads as NULL;
    # d3 new under the widened schema
    assert got == {
        ("d1", "a"): (13, 2),
        ("d2", "a"): (5, None),
        ("d3", "b"): (1, 7),
    }


@pytest.mark.slow
def test_streaming_media_report_equals_batch(spark, tmp_path):
    """Sixteenth incremental == batch proof, and the first whose tier is
    a PYTHON decode stage (mapInPandas over the pure-stdlib codecs)
    feeding the fenced sink: the per-(format, day) media ingest report
    maintained from micro-batches equals the batch media_report
    bit-for-bit — every cell is an exact-integer sum/min/max, so no
    float path exists to disagree.  Covers all four image formats, WAV,
    an out-of-profile payload (counts as arrived-but-undecoded), a null
    payload, replay fencing, and an on-fence imposter."""
    import numpy as np
    import pytest

    from creek_spark.operators.jpeg_codec import jpeg_bytes_blockgrid
    from creek_spark.operators.media_codecs import (
        bmp_from_array,
        gif_from_array,
        wav_from_array,
    )
    from creek_spark.operators.multimodal import (
        media_report,
        png_bytes_gradient,
    )
    from creek_spark.streaming.detectors import StreamingMediaReport
    from creek_spark.streaming.fence import FenceContentError

    rng = np.random.default_rng(8)
    rows = []
    mid = 0
    for day in ("2026-08-14", "2026-08-15", "2026-08-16"):
        for _ in range(3):
            mid += 1
            pick = mid % 6
            if pick == 0:
                c = png_bytes_gradient(5 + mid % 4, 3 + mid % 3, seed=mid)
            elif pick == 1:
                c = jpeg_bytes_blockgrid(16, 8, seed=mid, progressive=mid % 2 == 0)
            elif pick == 2:
                c = bmp_from_array(rng.integers(0, 256, (5, 7, 3), dtype=np.uint8))
            elif pick == 3:
                c = gif_from_array(rng.integers(0, 256, (6, 4), dtype=np.uint8))
            elif pick == 4:
                c = wav_from_array(
                    rng.integers(-999, 999, (40, 2), dtype=np.int16)
                )
            else:
                c = b"\x00not-a-media-payload" + bytes(mid)
            rows.append((mid, day, bytearray(bytes(c))))
    rows.append((mid + 1, "2026-08-16", None))  # null payload
    media = spark.createDataFrame(
        rows, "media_id bigint, day string, content binary"
    )

    det = StreamingMediaReport(spark, str(tmp_path / "mstate"))
    batches = [
        media.where(F.col("media_id") % 3 == r) for r in range(3)
    ]
    for i, b in enumerate(batches):
        det.apply_batch(b, i)

    key = lambda df: sorted(tuple(map(repr, r)) for r in df.collect())
    want = key(media_report(media))
    assert len(want) > 0
    assert key(det.report()) == want
    # genuine replay of the LAST batch: no-op
    det.apply_batch(batches[-1], 2)
    assert key(det.report()) == want
    # on-fence imposter (same id, different content): refused loudly
    with pytest.raises(FenceContentError, match="content differs"):
        det.apply_batch(batches[0], 2)
    assert key(det.report()) == want


@pytest.mark.slow
def test_tier_python_stage_runs_once_per_trigger(spark, tmp_path):
    """The tier plan is referenced three times per trigger (fence
    fingerprint, touched-partition collect, merge/write).  For tiers
    with a Python decode stage (StreamingMediaReport's codecs) each
    extra pass would re-decode every blob — apply_batch must persist
    the tier so the Python stage runs ONCE per trigger (accumulator-
    counted; local mode has no task retries to inflate it)."""
    from creek_spark.streaming.rollup import AdditiveRollupSink

    sink = AdditiveRollupSink(
        spark, str(tmp_path / "state"), ["day"], ["n"], "day"
    )
    acc = spark.sparkContext.accumulator(0)

    def decode_like(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    src = spark.createDataFrame(
        [("d0", 1)] * 8 + [("d1", 2)] * 8, "day string, n long"
    ).repartition(2)
    tier = src.mapInPandas(decode_like, schema="day string, n long")
    sink.apply_batch(tier, 0)
    assert acc.value == 16  # one decode pass, not 2-3x
    got = {
        (r["day"], r["n"]) for r in sink.current().collect()
    }
    assert got == {("d0", 8), ("d1", 16)}
    # replay path (fingerprint check only): exactly one more pass
    sink.apply_batch(tier, 0)
    assert acc.value == 32
