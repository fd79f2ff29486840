"""Structured Streaming surface: CDC ingest → stateful apply → sinks.

The reference's consumer loop (client.go StreamWAL → apply) maps to:
    readStream(envelope dir/Kafka) → [dedup, resume filter] →
    foreachBatch(apply_cdc_batch) → materialized table state

Correctness properties preserved (BASELINE.md):
  * resume-exactness: checkpointing + an idempotent, whole-state
    recompute-free MERGE per micro-batch (at-least-once input collapses in
    the per-key LSN ranking).
  * per-key ordering by numeric LSN survives any parallelism — each batch
    applies only changes newer than the key's current LSN.
  * snapshot+stream bootstrap joins at a single (lsn, tx_id) point
    (sources.bootstrap) — the stream side then starts from header.lsn.

On a cluster the sink would be Delta MERGE; locally we maintain a
hash-bucketed parquet state directory (hive partitions on
pmod(xxhash64(key), n_buckets)) — only buckets containing batch keys are
rewritten per trigger, which keeps the same idempotence contract for tests
while making per-batch cost O(|touched buckets|) instead of O(|state|).
Visibility is transactional: each batch writes its touched buckets into
a fresh version directory and publishes them with an atomic
`_manifest.json` swap (streaming/versioned.py, the Delta-log analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark.functions.lsn import lsn_str
from creek_spark.operators.cdc import latest_state_at_lsn, with_rows
from creek_spark.streaming.versioned import VersionedStore, bounded_partition_values

# Committed buckets spread over this many version dirs trigger an inline
# fold of the whole state into the next version (see CdcApplier).
_COMPACT_VERSIONS = 8


def read_envelope_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based envelope stream (the staging-dir pattern from SURVEY.md
    O1: capture lands envelope parquet, Spark tails the directory).
    maxFilesPerTrigger is the backpressure knob (≙ the reference's cap-1
    channel lock-step)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


class CdcApplier:
    """foreachBatch sink: maintains materialized table state under
    ``state_dir`` by merging each micro-batch of envelope rows.

    Merge = the stored rows of the touched buckets, re-entering as 'r'
    changes at their stored LSN (operators.cdc.with_rows), folded with
    the new batch by latest_state; each surviving key keeps its winning
    change's LSN.  Re-delivered batches are no-ops (same lsn loses to
    itself), which is what makes at-least-once delivery safe.

    Scale design: state is hash-bucketed by key —
    ``creek_bucket = pmod(xxhash64(keys), n_buckets)`` hive partitions —
    and each micro-batch rewrites ONLY the buckets whose keys appear in
    the batch, into a fresh version directory published by an atomic
    ``_manifest.json`` swap (streaming/versioned.py): readers always see a
    consistent committed snapshot, concurrent with writes.  Per-batch
    cost is O(|touched buckets|), not O(|state|): a steady trickle of
    changes no longer re-shuffles the whole table every trigger; version
    sprawl is bounded by an inline compaction fold every
    ``_COMPACT_VERSIONS`` generations.  On a real cluster the same
    contract is Delta MERGE + OPTIMIZE; this layout keeps the incremental
    property testable locally.  The only driver traffic is one bounded
    collect of distinct bucket ids (≤ n_buckets ints) and one listing
    of the version dir just written.

    ``envelope_schema`` is not read: stored rows take the ``after``
    shape of each batch (with_rows).  The argument stays so that
    existing positional calls still bind."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        envelope_schema: T.StructType,
        *,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.key_cols = key_cols
        self.n_buckets = n_buckets
        self._lsn_col = "_creek_lsn"
        # NOT underscore-prefixed: Spark's file listing treats `_*` paths
        # as hidden metadata and would skip the partition directories.
        self._bucket_col = "creek_bucket"
        self._store = VersionedStore(spark, state_dir, self._bucket_col)

    def _bucket_of(self, cols) -> F.Column:
        return F.pmod(F.xxhash64(*cols), F.lit(self.n_buckets)).cast("int")

    def current_state(self) -> DataFrame | None:
        """The committed state as of the manifest this call reads — a
        consistent snapshot regardless of concurrent apply_batch runs.
        After a schema-widening restart, buckets rewritten since the
        widening carry the new column and untouched ones read it as NULL
        (ADD COLUMN semantics) instead of refusing a half-migrated state."""
        return self._store.read(self._store.manifest())

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            # Buckets this batch touches: the after-image key (upserts) AND
            # the before-image key (deletes, and the delete leg of u_pk —
            # whose old key can live in a different bucket than the new);
            # -1 marks a truncate, which discards every older row in
            # EVERY bucket.  One pass over the batch.
            b_after = F.when(
                F.col("after").isNotNull(),
                self._bucket_of([F.col(f"after.{k}") for k in self.key_cols]),
            )
            b_before = F.when(
                F.col("before").isNotNull(),
                self._bucket_of([F.col(f"before.{k}") for k in self.key_cols]),
            )
            b_trunc = F.when(F.col("op") == "t", F.lit(-1))
            seen = bounded_partition_values(
                batch.select(
                    F.explode(F.array(b_after, b_before, b_trunc)).alias("b")
                ).where(F.col("b").isNotNull()),
                "b",
                what="CdcApplier touched buckets",
            )
            has_trunc = -1 in seen
            touched = {str(b) for b in seen if b != -1}
            if not (touched or has_trunc):
                return
            manifest = self._store.manifest()
            committed = manifest["buckets"] if manifest else {}
            # The truncate touches every committed bucket; so does
            # compaction: when committed buckets are spread over too many
            # version dirs (long trickle of small batches), fold the whole
            # state into this batch's version — the inline OPTIMIZE analog
            # that bounds reader-side union width.
            if has_trunc or len(set(committed.values())) >= _COMPACT_VERSIONS:
                touched |= set(committed)
            if not touched:
                return

            subset = self._store.read(manifest, touched)
            wal_in = batch
            if subset is not None:
                wal_in = with_rows(
                    batch, subset.drop(self._bucket_col), F.col(self._lsn_col)
                )
            # the winning change's LSN is stored with the state so existing
            # rows re-enter the next batch's merge at their true position
            new_state = (
                latest_state_at_lsn(wal_in, self.key_cols)
                .withColumn(
                    self._lsn_col,
                    lsn_str(F.coalesce(F.col("_lsn_num"), F.lit(0))),
                )
                .drop("_lsn_num")
                .withColumn(
                    self._bucket_col,
                    self._bucket_of([F.col(k) for k in self.key_cols]),
                )
            )
            # Publish protocol (streaming/versioned.py): write this
            # batch's touched buckets into a fresh version dir, swap the
            # manifest, GC with one generation of retention.  Buckets
            # whose last key was deleted produce zero rows — they are
            # not in the written set and drop out of the manifest.
            self._store.publish(
                manifest, touched, self._store.write(new_state, manifest)
            )
        finally:
            batch.unpersist()

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        *,
        available_now: bool = True,
    ):
        writer = (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def sliding_counts(
    stream: DataFrame,
    *,
    time_col: str = "sent_at",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked sliding-window aggregation: each event lands in
    window/slide overlapping windows.  State per key is bounded by the
    watermark, so executor memory is O(active windows), not O(stream)."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(
            F.window(F.col(time_col), window, slide).alias("w"),
            F.col("op"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "op",
            "n",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    left_time: str = "sent_at",
    right_time: str = "sent_at",
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
) -> DataFrame:
    """Inner stream-stream equi-join with a bounded time-range condition.

    Both sides carry watermarks and the join requires
    ``right_time ∈ [left_time, left_time + max_lag]`` — this is what lets
    Spark expire buffered state (an unbounded stream-stream join would
    hold both streams forever).  Columns from both sides are preserved
    with `l_`/`r_` prefixes except the join key."""
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    lsel = lw.select(
        F.col(on).alias(on),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c != on
        ],
    )
    rsel = rw.select(
        F.col(on).alias("_r_key"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c != on
        ],
    )
    cond = (
        (F.col(on) == F.col("_r_key"))
        & (F.col(f"r_{right_time}") >= F.col(f"l_{left_time}"))
        & (
            F.col(f"r_{right_time}")
            <= F.col(f"l_{left_time}") + F.expr(f"INTERVAL {max_lag}")
        )
    )
    return lsel.join(rsel, cond, "inner").drop("_r_key")


def tumbling_counts(
    stream: DataFrame,
    *,
    time_col: str = "sent_at",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over the change stream —
    late data beyond the watermark is dropped (explicit policy; the
    reference has none, SURVEY.md §2.2)."""
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(
            F.window(F.col(time_col), window).alias("w"),
            F.col("op"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "op", "n")
    )
