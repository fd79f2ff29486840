"""Continuous near-duplicate detection — the streaming form of the
crawl-over-crawl incremental dedup (operators/dedup.py): each
micro-batch is compared against EVERYTHING ingested so far (plus
itself), then its signatures join the persisted LSH index.  Cost per
batch ∝ batch size; the corpus is never re-shingled.

The index is the delta runs of a VersionedStore (streaming/versioned.py):
each batch writes its band signatures as one run and publishes it with
the batch_id fence (streaming/fence.py) in the same atomic manifest
swap.  Compaction rewrites the runs' union as a single run; everything
the previous manifest read is retained for one more publish, and orphans
of a crashed write are swept.  Pairs land under ``pairs/batch=<id>``
with overwrite semantics, outside the store (those dirs are never
replaced), so a replayed trigger rewrites identical content instead of
duplicating it (at-least-once in, effectively-once out).

Losslessness (tests/test_streaming_dedup.py): the union of per-batch
candidate pairs over any batch split equals the full-corpus
minhash_lsh_candidates pair set — every cross-batch pair is emitted by
the later batch, every within-batch pair by its own batch, each exactly
once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from creek_spark import fsio
from creek_spark.streaming.fence import admit, content_fingerprint
from creek_spark.streaming.versioned import VersionedStore


class StreamingDedup:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        **lsh_kw,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.text_col = text_col
        self.id_col = id_col
        self.lsh_kw = lsh_kw
        # the index lives in runs only: the store's base stays empty
        self._store = VersionedStore(spark, state_dir, "band")
        fsio.mkdirs(spark, state_dir)

    def last_batch_id(self) -> int:
        m = self._store.manifest()
        return m["last_batch_id"] if m else -1

    # -- ingestion -----------------------------------------------------

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from creek_spark.operators.dedup import lsh_band_pairs, minhash_index

        m = self._store.manifest()
        fence = m or {}
        if not admit(
            batch, batch_id, fence.get("last_batch_id"),
            fence.get("fence_print"),
            sink="the index", state_path=self.state_dir,
        ):
            return  # replayed trigger — state already reflects it
        # one signature pass: the batch's band rows feed both the pairs
        # and the index run, and are released once the run is published
        sigs = minhash_index(
            batch, self.text_col, self.id_col, **self.lsh_kw
        ).persist()
        try:
            lsh_band_pairs(sigs, self._store.read_runs(m)).write.mode(
                "overwrite"
            ).parquet(fsio.join(self.state_dir, f"pairs/batch={batch_id}"))
            self._store.publish(
                m, set(), set(),
                runs=self._store.runs(m) + [self._store.write_run(sigs, m)],
                run_schema=sigs.schema,
                last_batch_id=batch_id,
                fence_print=content_fingerprint(batch),
            )
        finally:
            sigs.unpersist()

    # -- results -------------------------------------------------------

    def candidates(self) -> DataFrame:
        """Every candidate pair emitted so far (committed batches only)."""
        m = self._store.manifest()
        if m is None:
            raise ValueError("no committed state yet — apply a batch first")
        # ONE listing of pairs/, filtered to committed ids — not one
        # existence probe per historical batch id (an O(last_batch_id)
        # RPC loop against an object store after enough triggers)
        committed = set(range(m["last_batch_id"] + 1))
        paths = [
            fsio.join(self.state_dir, "pairs", name)
            for name in sorted(
                fsio.list_names(
                    self.spark, fsio.join(self.state_dir, "pairs")
                )
            )
            if name.startswith("batch=")
            and int(name.split("=", 1)[1]) in committed
        ]
        return self.spark.read.parquet(*paths).distinct()

    def compact(self) -> None:
        """Fold the per-batch index runs into ONE run — after thousands
        of micro-batches the run list (and its file count) is the scaling
        hazard, not the data volume.  The fence keys are unchanged by the
        fold; the folded runs are retained for one more publish, so a
        reader holding the old manifest stays valid."""
        m = self._store.manifest()
        if len(self._store.runs(m)) <= 1:
            return
        index = self._store.read_runs(m).coalesce(
            max(1, self.spark.sparkContext.defaultParallelism // 4)
        )
        self._store.publish(
            m, set(), set(),
            runs=[self._store.write_run(index, m)],
            run_schema=index.schema,
            sweep=True,
            last_batch_id=m["last_batch_id"],
            fence_print=m["fence_print"],
        )
