"""Structured Streaming surface: CDC ingest → stateful apply → sinks.

The reference's consumer loop (client.go StreamWAL → apply) maps to:
    readStream(envelope dir/Kafka) → [dedup, resume filter] →
    foreachBatch(apply_cdc_batch) → materialized table state

Correctness properties preserved (BASELINE.md):
  * resume-exactness: checkpointing + an idempotent append per
    micro-batch (at-least-once input collapses in the per-key LSN
    ranking of the fold).
  * per-key ordering by numeric LSN survives any parallelism — the fold
    keeps only changes newer than the key's stored LSN.
  * snapshot+stream bootstrap joins at a single (lsn, tx_id) point
    (sources.bootstrap) — the stream side then starts from header.lsn.

On a cluster the sink would be Delta MERGE; locally the state is
merge-on-read, the shape of Spark's own HDFS state store (one delta
file per micro-batch, a snapshot every N versions): a hash-bucketed
parquet *base* (hive partitions on pmod(xxhash64(key), n_buckets)) plus
an ordered list of delta *runs*.  Each trigger appends its raw changes
as one run — an O(batch) write with no state read, no shuffle and no
driver collect — and a read folds the base with the pending runs
through the same latest_state operator the batch catalog uses.  Every
``_COMPACT_VERSIONS`` runs, compaction folds them into the buckets they
touch.  Visibility is transactional: each run or compaction lands in a
fresh version directory and is published with an atomic
`_manifest.json` swap (streaming/versioned.py, the Delta-log analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark.functions.lsn import lsn_str
from creek_spark.operators.cdc import (
    _key_cols_from_envelope,
    fold_input,
    latest_state_at_lsn,
    with_rows,
)
from creek_spark.streaming.versioned import VersionedStore

# Pending runs that trigger a compaction; at compaction, committed
# buckets spread over this many version dirs are all folded into the
# next version (see CdcApplier).
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
    ``state_dir`` from micro-batches of envelope rows, merge-on-read.

    Write: each micro-batch becomes one unpartitioned delta run (its
    raw changes cut to operators.cdc.fold_input's five columns)
    appended to the manifest of a streaming/versioned.py store — an
    O(batch) write with no read of the state, no shuffle and no driver
    collect.  Re-delivered batches append a duplicate run that the fold
    absorbs (same lsn ties with itself), which is what makes
    at-least-once delivery safe.  A batch that touches no key and does
    not truncate publishes nothing.

    Read: :meth:`current_state` folds the buckets of the hash-bucketed
    base (``creek_bucket = pmod(xxhash64(keys), n_buckets)`` hive
    partitions) that the pending runs touch — each row re-entering as
    an 'r' change at its stored LSN through operators.cdc.with_rows —
    with those runs by latest_state; each surviving key keeps its
    winning change's LSN.  Untouched buckets are carried as stored, and
    with no run pending the base is returned as is.

    Compaction: once ``_COMPACT_VERSIONS`` runs are pending (or on
    :meth:`compact`), the same fold runs over the buckets the runs
    touch — every committed bucket when a run holds a truncate, or when
    committed buckets are spread over ``_COMPACT_VERSIONS`` version
    dirs — and its output replaces those buckets in a fresh version
    dir, published with no runs pending.  No step collects to the
    driver: the buckets a run touches (≤ n_buckets ints) and whether it
    truncates are observed on the run's own write and kept in the
    manifest; compaction lists only the version dir it wrote.  A
    batch whose schema differs from the pending runs' (upstream ADD
    COLUMN) compacts them first, so every pending run shares one
    schema.  Readers always see one committed manifest, concurrent
    with writes; on a cluster the same contract is Delta MERGE +
    OPTIMIZE.

    ``envelope_schema`` is not read (runs keep each batch's own
    schema) and defaults to None; it stays so that existing positional
    calls still bind."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        envelope_schema: T.StructType | None = None,
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
        (ADD COLUMN semantics) instead of refusing a half-migrated state.
        Only the buckets the pending runs touch are folded; the others
        are carried as stored."""
        manifest = self._store.manifest()
        if not self._store.runs(manifest):
            return self._store.read(manifest)
        touched = self._touched(manifest)
        folded = self._fold(manifest, touched)
        carried = self._store.read(manifest, set(manifest["buckets"]) - touched)
        if carried is None:
            return folded
        return carried.unionByName(folded, allowMissingColumns=True)

    @staticmethod
    def _touched(manifest: dict) -> set[str]:
        """The committed buckets the pending runs of ``manifest`` can
        change: those holding their keys — all of them when one of the
        runs truncates."""
        if manifest["truncate"]:
            return set(manifest["touched"]) | set(manifest["buckets"])
        return set(manifest["touched"])

    def _fold(self, manifest: dict, buckets: set[str]) -> DataFrame:
        """The base buckets of ``manifest`` named in ``buckets`` folded
        with its pending runs — the one merge, shared by the read and by
        compaction."""
        runs = self._store.read_runs(manifest)
        base = self._store.read(manifest, buckets)
        wal = runs
        if base is not None:
            wal = with_rows(runs, base.drop(self._bucket_col), F.col(self._lsn_col))
        keys = self.key_cols or _key_cols_from_envelope(runs)
        # the winning change's LSN is stored with the state so existing
        # rows re-enter the next fold at their true position; base rows
        # are never truncates, so without a truncating run the fold
        # skips its watermark pass
        return (
            latest_state_at_lsn(wal, keys, handle_truncate=manifest["truncate"])
            .withColumns({
                self._lsn_col: lsn_str(F.coalesce(F.col("_lsn_num"), F.lit(0))),
                self._bucket_col: self._bucket_of([F.col(k) for k in keys]),
            })
            .drop("_lsn_num")
        )

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        run = fold_input(batch)
        manifest = self._store.manifest()
        pending = self._store.run_schema(manifest)
        if pending is not None and pending.simpleString() != run.schema.simpleString():
            manifest = self._compact(manifest)
        keys = self.key_cols or _key_cols_from_envelope(run)
        # The buckets the run touches — the after-image key (upserts) AND
        # the before-image key (deletes, and the delete leg of u_pk, whose
        # old key can live in a different bucket than the new) — and
        # whether it truncates, observed on the run's own write (no second
        # pass, no collect job).  Compaction reads them from the manifest.
        seen = Observation()
        name = self._store.write_run(
            run.observe(
                seen,
                *[
                    F.collect_set(
                        F.when(
                            F.col(img).isNotNull(),
                            self._bucket_of([F.col(f"{img}.{k}") for k in keys]),
                        )
                    ).alias(img)
                    for img in ("after", "before")
                ],
                F.max(F.col("op") == "t").alias("truncate"),
            ),
            manifest,
        )
        got = seen.get
        hit = {str(b) for b in got["after"] + got["before"]}
        if not (hit or got["truncate"]):
            # nothing to fold (a batch of another table's WAL files, say):
            # the unpublished run is overwritten by the next write or
            # removed by the next sweep
            return
        prior = manifest or {}  # without pending runs: no touched, no truncate
        touched = set(prior.get("touched", ())) | hit
        manifest = self._store.publish(
            manifest, set(), set(),
            runs=self._store.runs(manifest) + [name],
            run_schema=run.schema,
            touched=sorted(touched, key=int),
            truncate=bool(prior.get("truncate") or got["truncate"]),
        )
        if len(manifest["runs"]) >= _COMPACT_VERSIONS:
            self._compact(manifest)

    def compact(self) -> None:
        """Fold the pending runs into the base now (apply_batch does so
        every ``_COMPACT_VERSIONS`` runs)."""
        self._compact(self._store.manifest())

    def _compact(self, manifest: dict | None) -> dict | None:
        if not self._store.runs(manifest):
            return manifest
        touched = self._touched(manifest)
        committed = manifest["buckets"]
        # A base spread over too many version dirs (a long trickle of
        # small compactions) is folded whole into this version — the
        # OPTIMIZE analog that bounds reader-side union width.
        if len(set(committed.values())) >= _COMPACT_VERSIONS:
            touched |= set(committed)
        # Buckets whose last key was deleted produce zero rows — they
        # are not in the written set and drop out of the manifest.
        written = (
            self._store.write(self._fold(manifest, touched), manifest)
            if touched
            else set()
        )
        return self._store.publish(manifest, touched, written, sweep=True)

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
