"""The batch-id fence every foreachBatch sink commits through.

Every fenced sink in this engine (StreamingAnnIndex, AdditiveRollupSink,
StreamingDedup, stream_shard_writer) commits a batch-id watermark and
asks :func:`admit` before applying a batch.  Triggers serialize and
Spark's checkpoint commit FOLLOWS the sink commit, so only the LAST
committed batch can genuinely replay: a replayed trigger
(``batch_id == fence``) is a no-op — at-least-once delivery becomes
effectively-once — and an id BELOW the fence raises (a reset/relocated
checkpoint recycling ids — its batches carry NEW rows, which a no-op
would silently drop until the ids caught up).
That leaves one boundary the id alone cannot decide: a reset checkpoint
whose recycled id lands EXACTLY on the fence is indistinguishable from a
genuine replay, and its new rows would be silently no-opped — one batch
of data loss with no error (round-11 ADVICE).

The closure is a cheap order-free content fingerprint recorded beside
the fence at every commit: row count plus the exact decimal SUM of
per-row ``xxhash64(to_json(struct(*cols)))``.  A genuine Spark replay
re-delivers the identical rows (same source offsets), so the fingerprint
matches and the no-op stands; a reset checkpoint's on-fence batch has
different content, the fingerprint mismatches, and the sink refuses
loudly with recovery steps.  ``to_json`` makes every column type
hashable (arrays, maps, binary) and is deterministic for identical
input; decimal SUM is exact and commutative, so partitioning/order
changes between the two deliveries cannot flake the comparison.

Cost: one extra single-pass aggregation per trigger — O(batch), not
O(state), so it holds at 100 TB exactly like the sinks themselves.

Reference parity note: creek's NATS publishes carry a per-message dedup
id (internal/mq/nats.go) — dedup by identity, not by id position; this
fingerprint restores the same "identity, not position" property to the
coarser batch-level fence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["admit", "content_fingerprint", "FenceContentError"]


class FenceContentError(ValueError):
    """An on-fence batch whose content differs from the committed batch:
    not a replay — a reset/relocated checkpoint landed on the fence."""


def content_fingerprint(df: DataFrame) -> dict:
    """{"rows": n, "hsum": str|None} — order-free, one pass, exact."""
    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            F.xxhash64(
                F.to_json(F.struct(*[df[c] for c in cols]))
            ).cast("decimal(38,0)")
        ).alias("hsum"),
    ).collect()[0]
    return {
        "rows": int(row["rows"]),
        "hsum": None if row["hsum"] is None else str(row["hsum"]),
    }


def admit(
    batch: DataFrame,
    batch_id: int,
    fence_id: int | None,
    fence_print: dict | None,
    *,
    sink: str,
    state_path: str,
) -> bool:
    """True when ``batch`` must be applied: no fence yet, or an id past
    it.  False for a genuine replay of the fenced batch.  Raises
    ``ValueError`` for an id below the fence and
    :class:`FenceContentError` for an on-fence batch whose content
    differs from the committed one.  ``sink`` names the sink in those
    messages ("this sink", "the index")."""
    if fence_id is None or batch_id > fence_id:
        return True
    if batch_id < fence_id:
        raise ValueError(
            f"batch id {batch_id} is below {sink}'s committed fence "
            f"(last batch id {fence_id}) at {state_path}: triggers "
            "serialize, so this cannot be a Spark replay — the stream was "
            "restarted with a reset or relocated checkpoint whose recycled "
            "ids carry NEW rows; resume from the original "
            "checkpointLocation, or point the fresh stream at fresh state"
        )
    # on the fence: a genuine replay re-delivers the committed content;
    # with no recorded fingerprint (a manifest from before fingerprints)
    # the replay no-op is the only available reading
    if fence_print is not None:
        seen = content_fingerprint(batch)
        if seen != fence_print:
            raise FenceContentError(
                f"batch id {batch_id} equals {sink}'s committed fence at "
                f"{state_path} but its content differs from the committed "
                f"batch (committed {fence_print}, incoming {seen}): not a "
                "Spark replay — the stream was restarted with a reset or "
                "relocated checkpoint whose recycled id landed exactly on "
                "the fence, and no-opping it would silently drop this "
                "batch; resume from the original checkpointLocation, or "
                "point the fresh stream at fresh state"
            )
    return False
