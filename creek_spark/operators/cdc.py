"""CDC envelope processing — reconstructing table state from a change stream.

This is the engine's analog of the reference's consumer side: an ordered WAL
scan (client.go:296-372) fed into an apply-changes materializer (the
creek-pg-client pattern, reference README.md:30-33).  Where the reference
relies on a single totally-ordered NATS consumer, we get scale-out
correctness from *per-key* ordering by numeric LSN (client.go:786-800):
`row_number() over (partition by key order by lsn_num desc) = 1` — identical
results under any parallelism, one shuffle.

Scale notes (100 TB):
  * the only shuffle is the per-key window; it partitions by the table's
    primary key, which is near-uniform for surrogate keys.  AQE skew-join /
    salting applies if a hot key exists.
  * truncate watermarks are computed with a tiny aggregate and broadcast —
    no second shuffle of the big stream.
  * at-least-once input dedup is `dropDuplicates` on (table, lsn), which
    folds into the same shuffle when keys align.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from creek_spark.functions.lsn import lsn_num


def _key_cols_from_envelope(wal: DataFrame) -> list[str]:
    """Primary key = fields of the `before` struct (the reference's before
    image is key-only for plain updates, internal/dao/schemas.go:97), or
    pgKey metadata on `after` when present."""
    after = wal.schema["after"].dataType
    meta_keys = [f.name for f in after.fields if (f.metadata or {}).get("pgKey")]
    if meta_keys:
        return meta_keys
    before = wal.schema["before"].dataType
    return [f.name for f in before.fields]


def _key_of(k: str) -> Column:
    """Target key column ``k`` of each change: after-image for upserts,
    before-image for deletes (delete's after is null,
    replication.go:456-491)."""
    return F.when(F.col("op") == "d", F.col(f"before.{k}")).otherwise(
        F.col(f"after.{k}")
    )


def _with_target_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """``df`` plus one ``_key_{k}`` column per key (see :func:`_key_of`)."""
    for k in keys:
        df = df.withColumn(f"_key_{k}", _key_of(k))
    return df


def expand_ops(wal: DataFrame) -> DataFrame:
    """Normalize the op stream so each row targets exactly one key:

    * `u_pk` (PK-changing update, before=FULL old row,
      replication.go:425-427) becomes two rows: a delete of the old key and
      an insert of the new row — the same rewrite a MERGE consumer applies.
    * other ops pass through unchanged.

    Uses explode over a 1- or 2-element array — no shuffle.  Idempotent:
    a frame that already carries `_op_seq` (i.e. was expanded upstream,
    as the incremental operators do before splitting at the LSN boundary)
    is returned unchanged, preserving the original leg ordering.
    """
    if "_op_seq" in wal.columns:
        return wal
    is_upk = F.col("op") == "u_pk"
    before_keys = F.col("before")
    # delete leg keeps `before`, drops `after`; insert leg the reverse
    legs = F.when(
        is_upk,
        F.array(
            F.struct(
                F.lit("d").alias("op"),
                before_keys.alias("before"),
                F.lit(None).cast(wal.schema["after"].dataType).alias("after"),
            ),
            F.struct(
                F.lit("c").alias("op"),
                F.lit(None).cast(wal.schema["before"].dataType).alias("before"),
                F.col("after").alias("after"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.col("op").alias("op"),
                F.col("before").alias("before"),
                F.col("after").alias("after"),
            )
        )
    )
    rest = [c for c in wal.columns if c not in ("op", "before", "after")]
    return wal.select(
        *rest, F.posexplode(legs).alias("_leg_pos", "_leg")
    ).select(
        *rest,
        F.col("_leg.op").alias("op"),
        F.col("_leg.before").alias("before"),
        F.col("_leg.after").alias("after"),
        F.col("_leg_pos").alias("_op_seq"),
    )


def fold_input(changes: DataFrame) -> DataFrame:
    """``changes`` cut to the five columns latest_state reads —
    ``source`` cut to ``struct(lsn)``, ``op``, ``before``, ``after``,
    ``unchanged_toast`` — raw, not expanded, so TOAST, u_pk and
    truncate still resolve in a later fold (with_rows, the CdcApplier's
    delta runs)."""
    return changes.select(
        F.struct(F.col("source.lsn").alias("lsn")).alias("source"),
        "op", "before", "after", "unchanged_toast",
    )


def with_rows(changes: DataFrame, rows: DataFrame, lsn: Column) -> DataFrame:
    """``changes`` preceded by materialized ``rows`` as 'r' changes at
    ``lsn`` — how stored state (CdcApplier) and snapshot rows
    (sources.bootstrap) re-enter the per-key fold.  Both sides keep only
    the five columns latest_state reads (:func:`fold_input`).

    Schema evolution (upstream ADD COLUMN): ``changes`` can be WIDER
    than ``rows`` — the reference publishes a new fingerprint and keeps
    streaming (O10).  ``after`` fields the rows lack surface as typed
    NULLs, Postgres's ADD COLUMN semantics for pre-existing rows;
    dropped columns fall away because only the envelope's fields are
    selected."""
    have = set(rows.columns)
    after_t = changes.schema["after"].dataType
    as_changes = rows.select(
        F.struct(lsn.alias("lsn")).alias("source"),
        F.lit("r").alias("op"),
        F.lit(None).cast(changes.schema["before"].dataType).alias("before"),
        F.struct(
            *[
                (F.col(f.name) if f.name in have else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in after_t.fields
            ]
        ).alias("after"),
        F.lit(None).cast("array<string>").alias("unchanged_toast"),
    )
    return as_changes.unionByName(fold_input(changes))


def latest_state(
    wal: DataFrame,
    key_cols: list[str] | None = None,
    *,
    handle_toast: bool = True,
    handle_truncate: bool = True,
) -> DataFrame:
    """Reconstruct current table state from an envelope stream (single table).

    Semantics (internal/dao/replication.go per-op rules):
      c/r  → upsert full row        u    → upsert full row (before=keys)
      u_pk → delete old key + insert new (expand_ops)
      d    → key absent from the result
      t    → discards every change with a smaller LSN (truncate watermark)

    At-least-once duplicates (same LSN re-delivered, the reference's NATS
    MsgID dedup, internal/mq/nats.go:214) need NO explicit dedup stage:
    re-delivered rows are bit-identical, tie on (lsn, op-leg) inside their
    key's ranking window, and keep-rank-1 / last(ignoreNulls) produce the
    same values whichever copy wins — an explicit dropDuplicates would
    only add a second full shuffle on a different key set.
    TOAST columns marked unchanged (replication.go:527-528 omission) are
    carried forward from the previous row version without a second shuffle.
    """
    return latest_state_at_lsn(
        wal, key_cols, handle_toast=handle_toast, handle_truncate=handle_truncate
    ).drop("_lsn_num")


def latest_state_at_lsn(
    wal: DataFrame,
    key_cols: list[str] | None = None,
    *,
    handle_toast: bool = True,
    handle_truncate: bool = True,
) -> DataFrame:
    """:func:`latest_state` plus ``_lsn_num``, the LSN of each key's
    winning (rank-1) change — the stream position a materialized row
    re-enters the next fold at (CdcApplier)."""
    keys = key_cols or _key_cols_from_envelope(wal)
    df = wal.withColumn("_lsn_num", lsn_num(F.col("source.lsn")))

    if handle_truncate:
        # Truncate watermark: tiny agg, joined back as a broadcast scalar.
        # ``handle_truncate=False`` skips the watermark pass — the agg is
        # tiny but its broadcast build is a FULL extra scan of the stream;
        # callers whose envelope provably never carries 't' ops (e.g. an
        # op mapping that only emits u/d) drop one corpus scan per apply.
        trunc = df.filter(F.col("op") == "t").agg(
            F.max("_lsn_num").alias("_trunc_lsn")
        )
        df = df.filter(F.col("op") != "t").crossJoin(F.broadcast(trunc))
        df = df.filter(
            F.col("_trunc_lsn").isNull()
            | (F.col("_lsn_num") > F.col("_trunc_lsn"))
        ).drop("_trunc_lsn")

    df = _with_target_keys(expand_ops(df), keys)

    w = Window.partitionBy(*[F.col(f"_key_{k}") for k in keys]).orderBy(
        F.col("_lsn_num").desc(), F.col("_op_seq").desc()
    )
    after_fields = [f.name for f in wal.schema["after"].dataType.fields]
    if handle_toast and "unchanged_toast" in wal.columns:
        # Carry unchanged-TOAST values forward: wrap each column in a struct
        # (so a genuine NULL is distinct from "unchanged"), null the wrapper
        # on unchanged rows, then take the first non-null wrapper in rank
        # order over the key's whole partition — the newest value actually
        # sent.  Same partitioning and order as the ranking → one shuffle,
        # one sort, one Window operator.
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        resolved = [
            F.first(
                F.when(
                    F.col("unchanged_toast").isNotNull()
                    & F.array_contains(F.col("unchanged_toast"), c),
                    F.lit(None),
                ).otherwise(F.struct(F.col(f"after.{c}").alias("v"))),
                ignorenulls=True,
            ).over(whole).getField("v")
            for c in after_fields
        ]
    else:
        resolved = [F.col(f"after.{c}") for c in after_fields]
    ranked = df.select(
        *[r.alias(f"_res_{c}") for r, c in zip(resolved, after_fields)],
        "_lsn_num",
        "op",
        F.row_number().over(w).alias("_rn"),
    )
    final = ranked.filter((F.col("_rn") == 1) & (F.col("op") != "d"))
    return final.select(
        *[F.col(f"_res_{c}").alias(c) for c in after_fields], "_lsn_num"
    )


def wal_from(wal: DataFrame, timestamp=None, lsn: str | None = None) -> DataFrame:
    """Resume a change stream from (timestamp, LSN) — the reference's
    StreamWALFrom predicate (client.go:227-294): deliver from `timestamp`,
    then drop while msgLSN <= lsn (DropWhile, client.go:288-291).  Catalyst
    pushes both predicates to the scan."""
    out = wal
    if timestamp is not None:
        out = out.filter(F.col("source.tx_at") >= F.lit(timestamp))
    if lsn is not None:
        out = out.filter(lsn_num(F.col("source.lsn")) > lsn_num(F.lit(lsn)))
    return out


def changelog_stats(wal: DataFrame) -> DataFrame:
    """Observability analog of the reference's read counters
    (internal/metrics/metrics.go:17-20,87-94): rows by (table, op)."""
    return (
        wal.groupBy(
            F.col("source.schema").alias("schema"),
            F.col("source.table").alias("table"),
            F.col("op"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(lsn_num(F.col("source.lsn"))).alias("min_lsn"),
            F.max(lsn_num(F.col("source.lsn"))).alias("max_lsn"),
        )
        .orderBy("schema", "table", "op")
    )


def scd2_history(wal: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the envelope — the
    standard warehouse materialization the reference leaves to consumers
    (its client delivers the ordered change stream, client.go:296-372;
    versioned-history construction is downstream work).

    Every change becomes a versioned row: ``valid_from`` = source.tx_at,
    ``valid_to`` = the next change's tx_at for the same key (NULL while
    current), ``is_current`` = last version and not a delete.  `u_pk`
    changes are expanded to delete+insert legs first, so a PK move closes
    the old key's interval and opens one under the new key.

    Scale: identical to latest_state — ONE per-key window shuffle
    (partition by primary key, near-uniform); truncate markers are
    excluded (history before a truncate is a policy choice; filtering
    ops happens before the shuffle either way)."""
    keys = key_cols or _key_cols_from_envelope(wal)
    df = wal.filter(F.col("op") != "t").withColumn(
        "_lsn_num", lsn_num(F.col("source.lsn"))
    )
    df = _with_target_keys(expand_ops(df), keys)
    w = Window.partitionBy(*[F.col(f"_key_{k}") for k in keys]).orderBy(
        F.col("_lsn_num").asc(), F.col("_op_seq").asc()
    )
    nxt = F.lead(F.col("source.tx_at")).over(w)
    after_fields = [f.name for f in wal.schema["after"].dataType.fields]
    attrs = [c for c in after_fields if c not in keys]
    return df.select(
        *[F.col(f"_key_{k}").alias(k) for k in keys],
        F.col("op"),
        F.col("_lsn_num").alias("lsn_num"),
        F.col("source.tx_at").alias("valid_from"),
        nxt.alias("valid_to"),
        (nxt.isNull() & (F.col("op") != "d")).alias("is_current"),
        *[F.col(f"after.{c}").alias(c) for c in attrs],
    )


def incremental_latest_state(
    wal: DataFrame,
    split_lsn_num: int,
    key_cols: list[str] | None = None,
    *,
    handle_toast: bool = True,
) -> DataFrame:
    """latest_state maintained INCREMENTALLY across a batch boundary —
    the batch analog of the streaming foreachBatch-MERGE sink: state is
    materialized from changes with lsn ≤ split, then the new batch is
    applied by recomputing ONLY the keys it touches, carrying every
    untouched key's row over unchanged.

    Bit-identical to a full recompute by construction (both legs run the
    same latest_state operator; proven by the cdc_incremental_mv oracle).
    Work for the update ∝ |touched keys|: the carried leg is one
    anti-join of the state table against the (small) touched-key set, and
    the replay leg re-reads only prior changes for touched keys — at 100
    TB the state table is key-partitioned storage and the touched set is
    a micro-batch, so the anti/semi joins broadcast the touched side and
    never shuffle the state.  In production state1 is the already-
    materialized MERGE target; it is derived here so the operator is
    self-contained.  Limitation: a truncate ('t') op in the NEW batch
    invalidates carried rows — callers must full-recompute for such
    batches (the reference's truncate is equally global,
    replication.go:456-491)."""
    keys = key_cols or _key_cols_from_envelope(wal)
    return _incremental(
        wal, split_lsn_num, keys,
        lambda changes: latest_state(changes, keys, handle_toast=handle_toast),
    )


def incremental_scd2(
    wal: DataFrame,
    split_lsn_num: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """scd2_history maintained INCREMENTALLY across a batch boundary —
    the versioned-history twin of incremental_latest_state: history rows
    for keys the new batch touches are recomputed from their full change
    log (closing the previously-open interval and appending versions);
    every untouched key's history is carried over unchanged.

    Bit-identical to a full recompute by construction: an expanded
    key's history depends only on its OWN single-key changes (the per-key
    window), so the carried leg cannot be affected by the batch.  Same
    work bound (∝ |touched keys|, the state never shuffled) and truncate
    limitation as incremental_latest_state."""
    keys = key_cols or _key_cols_from_envelope(wal)
    return _incremental(
        wal, split_lsn_num, keys, lambda changes: scd2_history(changes, keys)
    )


def _incremental(wal, split_lsn_num, keys, per_key_op) -> DataFrame:
    """Shared body of the incremental operators: ``per_key_op`` maps a
    change log to per-key rows, where a key's rows depend only on its
    own changes.  Its output over changes with lsn ≤ split is carried
    for every key the batch does not touch (one anti-join against the
    small touched-key set); touched keys are recomputed from their
    prior changes (one semi-join) plus the batch."""
    # Expand u_pk into single-key delete+insert legs BEFORE the split so a
    # PK-changing update in the batch marks BOTH its old and new key as
    # touched (and a prior u_pk replayed via its new key cannot re-emit the
    # old key's delete into the replay leg — each expanded row targets
    # exactly one key).  expand_ops is idempotent, so the inner
    # operator calls leave the legs intact.
    expanded = expand_ops(wal)
    num = lsn_num(F.col("source.lsn"))
    prior = expanded.filter(num <= F.lit(split_lsn_num))
    batch = expanded.filter(num > F.lit(split_lsn_num))

    state1 = per_key_op(prior)
    touched = batch.select(*[_key_of(k).alias(k) for k in keys]).distinct()
    carried = state1.join(touched, keys, "left_anti")

    prior_k = prior
    for k in keys:
        prior_k = prior_k.withColumn(f"_ik_{k}", _key_of(k))
    cond = [prior_k[f"_ik_{k}"] == touched[k] for k in keys]
    replay_src = prior_k.join(touched, cond, "left_semi").drop(
        *[f"_ik_{k}" for k in keys]
    )
    replayed = per_key_op(replay_src.unionByName(batch))
    return carried.unionByName(replayed)
