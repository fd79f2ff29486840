"""Round-11 ADVICE closures.

1. The on-fence boundary of every batch-id-fenced sink: a reset or
   relocated checkpoint whose recycled id lands EXACTLY on the fence is
   indistinguishable from a genuine replay by the id alone — the content
   fingerprint committed beside the fence (streaming/fence.py) makes the
   sink no-op the true replay and refuse the imposter loudly.
2. ANN drift entry-point coherence: the junk policy rides in the
   manifest, so StreamingAnnIndex.drift_report and bare
   ann_drift_report probe the identical view.
3. vacuum names the possibly-in-flight directories it deliberately
   skips (WARNING on logger creek_spark.ann) instead of leaving a
   silent disk leak.
4. Pin the verified ANSI division semantics the _pair_cos/_adc_sim_col
   NULL guards exist for: Spark ANSI `/` raises DIVIDE_BY_ZERO even for
   double/double (not IEEE NaN), and NaN ranks ABOVE every double in
   desc sorts — the guard is required under either semantics.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from creek_spark.sources import read_table
from creek_spark.streaming.fence import FenceContentError, content_fingerprint
from tests.conftest import SF_DIR


# -- fingerprint primitive -------------------------------------------------


def test_content_fingerprint_is_order_free_and_content_sensitive(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "id int, s string")
    # same rows, reversed arrival order and different partitioning
    b = spark.createDataFrame([(3, "z"), (2, "y"), (1, "x")], "id int, s string").repartition(3)
    c = spark.createDataFrame([(1, "x"), (2, "y"), (3, "DIFFERENT")], "id int, s string")
    fa, fb, fc = map(content_fingerprint, (a, b, c))
    assert fa == fb  # order/partitioning-free
    assert fa != fc  # content-sensitive
    assert fa["rows"] == 3
    empty = content_fingerprint(a.where(F.lit(False)))
    assert empty == {"rows": 0, "hsum": None}


# -- AdditiveRollupSink ----------------------------------------------------


def _rollup_tier(df):
    return df.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
    ).groupBy("day", "event_type").agg(F.count("*").alias("n"))


def _rollup_sink(spark, tmp_path, name):
    from creek_spark.streaming.rollup import AdditiveRollupSink

    return AdditiveRollupSink(
        spark, str(tmp_path / name), ["day", "event_type"], ["n"], "day"
    )


def test_rollup_on_fence_replay_noops_but_new_content_raises(
    spark, sf_dir, tmp_path
):
    ev = read_table(spark, sf_dir, "events")
    b0 = _rollup_tier(ev.where(F.col("event_id") < 500))
    b1 = _rollup_tier(ev.where(F.col("event_id") >= 500))
    sink = _rollup_sink(spark, tmp_path, "r1")
    sink.apply_batch(b0, 0)
    sink.apply_batch(b1, 1)
    before = sorted(map(tuple, sink.current().collect()))
    sink.apply_batch(b1, 1)  # genuine replay: same id, same content
    assert sorted(map(tuple, sink.current().collect())) == before
    with pytest.raises(FenceContentError, match="content differs"):
        sink.apply_batch(b0, 1)  # reset checkpoint landed ON the fence
    assert sorted(map(tuple, sink.current().collect())) == before
    with pytest.raises(ValueError, match="below this sink's committed fence"):
        sink.apply_batch(b0, 0)  # and below it still raises


# -- StreamingDedup ---------------------------------------------------------


def test_dedup_on_fence_new_content_raises(spark, sf_dir, tmp_path):
    from creek_spark.streaming.dedup import StreamingDedup

    docs = read_table(spark, sf_dir, "documents")
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    sd = StreamingDedup(spark, str(tmp_path / "sd"))
    sd.apply_batch(b0, 0)
    sd.apply_batch(b0, 0)  # genuine replay no-ops
    assert sd.last_batch_id() == 0
    with pytest.raises(FenceContentError, match="content differs"):
        sd.apply_batch(b1, 0)
    sd.apply_batch(b1, 1)  # the correctly-fenced next batch proceeds
    assert sd.last_batch_id() == 1
    # compaction folds the index parts but keeps the fence's content print
    pairs = sd.candidates().count()
    sd.compact()
    sd.apply_batch(b1, 1)  # replay still no-ops
    assert sd.last_batch_id() == 1 and sd.candidates().count() == pairs
    with pytest.raises(FenceContentError, match="content differs"):
        sd.apply_batch(b0, 1)


# -- StreamingAnnIndex -------------------------------------------------------


@pytest.fixture()
def emb_parts(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    return {
        "seed": emb.where(F.col("vec_id") % 4 == 0),
        "b": [emb.where(F.col("vec_id") % 4 == r) for r in (1, 2, 3)],
    }


def test_ann_on_fence_new_content_raises_and_replay_noops(
    spark, tmp_path, emb_parts
):
    from creek_spark.streaming.ann import StreamingAnnIndex

    p = str(tmp_path / "idx")
    idx = StreamingAnnIndex(spark, p)
    idx.bootstrap(emb_parts["seed"])
    idx.apply_batch(emb_parts["b"][0], 0)
    assert idx.apply_batch(emb_parts["b"][0], 0) is None  # genuine replay
    with pytest.raises(FenceContentError, match="content differs"):
        idx.apply_batch(emb_parts["b"][1], 0)  # reset checkpoint ON fence
    idx.apply_batch(emb_parts["b"][1], 1)


def test_ann_fence_print_rides_through_compaction(spark, tmp_path, emb_parts):
    """Compaction folds directories but does not change what the last
    committed batch CONTAINED: the fingerprint is a persistent manifest
    key, so the on-fence check still works after a fold."""
    from creek_spark.operators.ann_maintenance import read_manifest
    from creek_spark.streaming.ann import StreamingAnnIndex

    p = str(tmp_path / "idx")
    idx = StreamingAnnIndex(spark, p)
    idx.bootstrap(emb_parts["seed"])
    idx.apply_batch(emb_parts["b"][0], 0)
    idx.compact()
    man = read_manifest(spark, p)
    assert man.get("fence_print") is not None
    assert idx.apply_batch(emb_parts["b"][0], 0) is None  # replay of folded
    with pytest.raises(FenceContentError, match="content differs"):
        idx.apply_batch(emb_parts["b"][1], 0)


def test_ann_live_id_below_fence_raises(spark, tmp_path, emb_parts):
    """Serialized triggers can only ever redeliver the LAST committed
    id: an id still in the live set but BELOW the watermark is a reset
    checkpoint too (it was committed more than one trigger ago) — the
    old `bid in live` no-op silently dropped its new rows."""
    from creek_spark.streaming.ann import StreamingAnnIndex

    p = str(tmp_path / "idx")
    idx = StreamingAnnIndex(spark, p)
    idx.bootstrap(emb_parts["seed"])
    idx.apply_batch(emb_parts["b"][0], 0)
    idx.apply_batch(emb_parts["b"][1], 1)  # live = [0, 1, 2], max_bid = 2
    with pytest.raises(ValueError, match="below the index's committed"):
        idx.apply_batch(emb_parts["b"][2], 0)  # bid 1: live but not last


# -- drift entry-point coherence ---------------------------------------------


def test_drift_report_same_view_through_every_entry_point(
    spark, tmp_path, emb_parts
):
    """A filter-policy index must not count its by-design-excluded junk
    rows as recall misses through ANY entry point."""
    from creek_spark.operators.ann_maintenance import (
        ann_drift_report,
        read_manifest,
    )
    from creek_spark.streaming.ann import StreamingAnnIndex

    p = str(tmp_path / "idx")
    idx = StreamingAnnIndex(spark, p, on_zero_norm="filter")
    idx.bootstrap(emb_parts["seed"])
    assert read_manifest(spark, p)["on_zero_norm"] == "filter"
    dim = 64
    junk = spark.range(1).select(
        F.lit(10_000_000).cast("bigint").alias("vec_id"),
        F.array(*[F.lit(0.0).cast("float")] * dim).alias("embedding"),
    )
    recent = emb_parts["b"][0].select("vec_id", "embedding").unionByName(junk)
    via_index = idx.drift_report(recent)
    via_fn = ann_drift_report(spark, p, recent)
    assert via_index == via_fn
    # the resolved-policy path is equivalent to filtering by hand —
    # i.e. the junk row is provably excluded from the probed view
    from creek_spark.operators.similarity import _zero_norm_cond

    by_hand = ann_drift_report(
        spark, p, recent.where(~_zero_norm_cond("embedding")),
        on_zero_norm="allow",
    )
    assert by_hand == via_fn


# -- vacuum visibility --------------------------------------------------------


def test_vacuum_logs_skipped_pending_dirs(spark, tmp_path, emb_parts, caplog):
    from creek_spark.operators import similarity as sim
    from creek_spark.operators.ann_maintenance import ivfpq_index_vacuum
    from creek_spark.streaming.ann import StreamingAnnIndex

    p = str(tmp_path / "idx")
    idx = StreamingAnnIndex(spark, p)
    idx.bootstrap(emb_parts["seed"])
    idx.apply_batch(emb_parts["b"][0], 0)
    # a torn dir above the watermark: written, never committed
    sim.ivfpq_index_append(
        emb_parts["b"][1], p, codes_dir=f"{p}/codes/batch=99", mode="overwrite"
    )
    with caplog.at_level(logging.WARNING, logger="creek_spark.ann"):
        deleted = ivfpq_index_vacuum(spark, p)
    assert 99 not in deleted
    assert any(
        "codes/batch=99" in r.message and "reclaim_pending" in r.message
        for r in caplog.records
    )


# -- ANSI division semantics pin ----------------------------------------------


def test_ansi_double_division_raises(spark):
    """The empirical basis for the _pair_cos/_adc_sim_col NULL guards:
    under ANSI, Spark's `/` raises DIVIDE_BY_ZERO even for double/double
    (it is NOT IEEE division; only try_divide returns NULL), and had it
    been IEEE, 0/0 → NaN ranks ABOVE every double in desc sorts — junk
    rows first.  Either semantics requires the guard."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame([(0.0, 0.0)], "num double, den double")
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            df.select((F.col("num") / F.col("den")).alias("q")).collect()
        # try_divide is the IEEE-adjacent escape hatch: NULL, not NaN
        [(td,)] = df.select(F.try_divide("num", "den")).collect()
        assert td is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    # NaN ordering: above every number in desc sorts
    vals = spark.createDataFrame(
        [(float("nan"),), (1e308,), (0.0,)], "x double"
    )
    top = vals.orderBy(F.col("x").desc()).first()[0]
    assert top != top  # NaN sorted first
