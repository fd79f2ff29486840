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


def test_hive_layout_state_fails_with_remedy(spark, tmp_path):
    """State whose version dirs hold ``day=<p>/`` partition dirs (the
    older hive layout) is refused with its remedy by a read and by a
    batch that touches it, which commits nothing."""
    sink = _sink(spark, tmp_path)
    spark.createDataFrame(
        [("2024-01-01", "2024-01-01 10:00:00", "view", 1, 5)],
        "day string, hour string, event_type string, bin long, n long",
    ).write.partitionBy("day").parquet(os.path.join(sink.state_dir, "v000000001"))
    with open(os.path.join(sink.state_dir, "_manifest.json"), "w") as f:
        json.dump({"version": 1, "buckets": {"2024-01-01": "v000000001"},
                   "runs": [], "retain": [], "last_batch_id": 0}, f)
    remedy = "day=<value> partition dirs.*replay from the checkpoint"
    with pytest.raises(ValueError, match=remedy):
        sink.current()
    tier = spark.createDataFrame(
        [("2024-01-01", "2024-01-01 11:00:00", "view", 2, 3)],
        "day string, hour string, event_type string, bin long, n long",
    )
    with pytest.raises(ValueError, match=remedy):
        sink.apply_batch(tier, 1)
    assert sink.last_batch_id() == 0


def test_null_partition_value_is_refused(spark, tmp_path):
    """A NULL partition value has no manifest key: the batch raises and
    commits nothing instead of writing rows no read would return."""
    sink = _sink(spark, tmp_path)
    tier = spark.createDataFrame(
        [(None, "2024-01-01 11:00:00", "view", 2, 3)],
        "day string, hour string, event_type string, bin long, n long",
    )
    with pytest.raises(ValueError, match="NULL 'day'"):
        sink.apply_batch(tier, 0)
    assert sink.last_batch_id() == -1 and sink.current() is None


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
def test_tier_python_stage_runs_once_per_trigger(spark, tmp_path):
    """The tier plan is referenced three times per trigger (fence
    fingerprint, touched-partition collect, merge/write).  For tiers
    with a Python decode stage (a mapInPandas media codec) each
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
