"""Streaming maintenance of ADDITIVE rollups (histogram tiers, counter
cubes, HLL sketch unions): a foreachBatch sink that merges each
micro-batch's pre-aggregated rows into a persistent rollup table.

Additive state (counts/sums per key) composes differently from the
CdcApplier's latest-state MERGE: merge is ``old + batch`` per key, which
is NOT idempotent — a replayed batch would double-count.  Structured
Streaming replays a failed trigger under the SAME batch_id, so the sink
records ``last_batch_id`` in its manifest and no-ops the replay — the
standard transactional-sink recipe (batch_id fencing + atomic commit).
Only the LAST batch can genuinely replay (triggers serialize; the
checkpoint commit follows this sink commit), so an id BELOW the fence
means a reset/relocated checkpoint and raises instead of silently
dropping the new rows it carries.

Scale design mirrors CdcApplier, and the state layout is the same
store (streaming/versioned.py): state is hive-partitioned on a caller-
chosen partition key (for time-tier rollups: the day of the bucket), a
batch rewrites ONLY the partitions its rows touch (a trickle of fresh
events touches today's partition, never the year of history) into a new
version directory published by an atomic manifest swap — readers always
see one committed generation.  The fence (``last_batch_id`` and its
content fingerprint, streaming/fence.py) rides in the same manifest, so
the merge and the fence advance in one atomic publish.  The only driver
traffic is one bounded collect of touched partition values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from creek_spark import fsio
from creek_spark.streaming.fence import admit, content_fingerprint
from creek_spark.streaming.versioned import VersionedStore, bounded_partition_values


class AdditiveRollupSink:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: list[str],
        add_cols: list[str] | dict[str, str],
        partition_col: str,
    ):
        """``key_cols`` identify a rollup row (must include
        ``partition_col``, a STRING column that buckets state on disk);
        ``add_cols`` are the mergeable measures — a list means every
        column is an integer SUM (the original additive contract), a
        dict maps column → merge kind:

          'sum' — bigint addition (counts, quantized sums)
          'min' / 'max' — running extremum, input type preserved

        min/max cells stay losslessly mergeable (min of mins is the
        global min), which is what makes stats tiers like per-dimension
        vmin/vmax maintainable in the same fenced sink.  Batches passed
        to ``apply_batch`` must already have this shape — pair with e.g.
        ``operators.sketches.histogram_sketch`` plus a string partition
        projection."""
        if partition_col not in key_cols:
            raise ValueError("partition_col must be one of key_cols")
        self.spark = spark
        self.state_dir = state_dir
        self.kinds = (
            {c: "sum" for c in add_cols}
            if not isinstance(add_cols, dict)
            else dict(add_cols)
        )
        bad = {k for k in self.kinds.values() if k not in ("sum", "min", "max")}
        if bad:
            raise ValueError(f"unknown merge kinds: {sorted(bad)}")
        self.key_cols = key_cols
        self.add_cols = list(self.kinds)
        self.partition_col = partition_col
        self._store = VersionedStore(spark, state_dir, partition_col)
        fsio.mkdirs(spark, state_dir)

    def _merge_exprs(self):
        fns = {"sum": lambda c: F.sum(c).cast("bigint"),
               "min": F.min, "max": F.max}
        return [fns[kind](c).alias(c) for c, kind in self.kinds.items()]

    def last_batch_id(self) -> int:
        m = self._store.manifest()
        return m["last_batch_id"] if m else -1

    def _read(self, manifest: dict | None, parts=None) -> DataFrame | None:
        df = self._store.read(manifest, parts)
        if df is None:
            return None
        # partition values round-trip through hive paths as strings
        return df.withColumn(
            self.partition_col, F.col(self.partition_col).cast("string")
        )

    def current(self) -> DataFrame | None:
        """The committed rollup as of the latest manifest generation;
        partitions rewritten since a metric column was added carry it,
        untouched ones read it as NULL."""
        return self._read(self._store.manifest())

    # -- merge ---------------------------------------------------------

    def apply_batch(self, tier: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch's pre-aggregated tier rows, fenced by
        batch id (streaming/fence.py): a replayed trigger is a no-op, a
        recycled id from a reset checkpoint raises.

        The tier plan is evaluated up to three times per trigger
        (fence fingerprint, touched-partition collect, merge/write) —
        for tiers that embed a Python decode stage (a mapInPandas
        media codec) that would re-decode every blob per pass, so the tier is persisted for the trigger's duration
        and unpersisted after the manifest publish: the decode stage
        runs ONCE per trigger."""
        old = self._store.manifest()
        tier = tier.persist()
        try:
            fence = old or {}
            if admit(
                tier, batch_id, fence.get("last_batch_id"),
                fence.get("fence_print"),
                sink="this sink", state_path=self.state_dir,
            ):
                self._merge(tier, batch_id, old)
        finally:
            tier.unpersist()

    def _merge(self, tier: DataFrame, batch_id: int, old: dict | None) -> None:
        # fingerprint the PRE-aggregation rows: that is the view the
        # on-fence check sees on a replay (tier content is
        # deterministic under the sink contract — integer sums, order-
        # free min/max — so a genuine replay reproduces it bit-exact)
        fence_print = content_fingerprint(tier)
        merged = tier.groupBy(*self.key_cols).agg(*self._merge_exprs())
        touched = {
            str(v)
            for v in bounded_partition_values(
                merged, self.partition_col, what="AdditiveRollupSink.apply_batch"
            )
        }
        prev = self._read(old, touched)
        if prev is not None:
            # Schema evolution (a metric column added to add_cols after
            # state was persisted): stored partitions that predate the
            # column contribute typed NULLs, which the merge aggregates
            # ignore — "no prior contributions", the only additive
            # reading of a metric that didn't exist yet.  Dropped
            # metrics fall away because only the current columns are
            # selected.
            have = set(prev.columns)
            merged = merged.unionByName(
                prev.select(
                    *[
                        (
                            F.col(c)
                            if c in have
                            else F.lit(None).cast(merged.schema[c].dataType)
                        ).alias(c)
                        for c in merged.columns
                    ]
                )
            ).groupBy(*self.key_cols).agg(*self._merge_exprs())
        self._store.publish(
            old, touched, self._store.write(merged, old) if touched else set(),
            last_batch_id=batch_id, fence_print=fence_print,
        )
