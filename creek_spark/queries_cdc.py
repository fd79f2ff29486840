"""Catalog domain: CDC reconstruction and streaming shapes.  The
`events` table is mapped to a WAL envelope (query_parts.events_envelope)
and replayed through the real operators: latest state, changelog stats,
SCD2 history (full and incremental), incremental MV, snapshot diff and
time travel; plus the batch-equivalent streaming windowed aggregation.

Same determinism rules as queries.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.queries import _t, dsum, register
from creek_spark.query_parts import events_envelope


@register(
    "cdc_latest_state",
    """
    WITH ranked AS (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT user_id, event_type, ts, value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
    "cdc",
    headline=True,
)
def cdc_latest_state(spark, sf_dir):
    """End-to-end CDC apply through the real operator: events are mapped to
    a WAL envelope (error → delete, else upsert; lsn from event_id), then
    creek_spark.operators.cdc.latest_state reconstructs current state —
    per-key LSN ordering, one shuffle (SURVEY.md §7 step 2)."""
    from creek_spark.operators.cdc import latest_state

    env = events_envelope(_t(spark, sf_dir, "events"))
    # this envelope never marks TOAST columns and only emits u/d ops →
    # skip the carry-forward pass AND the truncate-watermark scan (which
    # costs a full extra pass over the stream to find 't' rows that
    # provably don't exist here)
    return latest_state(
        env, key_cols=["user_id"], handle_toast=False, handle_truncate=False
    )


@register(
    "cdc_changelog_stats",
    """
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_lsn,
           CAST(MAX(event_id) AS BIGINT) AS max_lsn
    FROM (SELECT CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
                 event_id
          FROM events) t
    GROUP BY op
    """,
    "cdc",
)
def cdc_changelog_stats(spark, sf_dir):
    """Observability counters over the derived change stream (metrics.go
    analog), keyed by op."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.when(F.col("event_type") == "error", "d").otherwise("u").alias("op"),
            "event_id",
        )
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_lsn"),
            F.max("event_id").alias("max_lsn"),
        )
    )


# =====================================================================
# streaming-shape (batch-equivalent windowed aggregation)
# =====================================================================


@register(
    "stream_windows",
    """
    SELECT 'tumbling' AS kind,
           event_type AS grp,
           (epoch_us(ts) // 1000000) // 300 * 300 AS wstart_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY grp, wstart_s
    UNION ALL
    SELECT 'session' AS kind, grp, wstart_s, n_events, sum_value FROM (
      WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) > 3600000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM marked)
      SELECT CAST(user_id AS VARCHAR) || '#' || CAST(sess_id AS VARCHAR) AS grp,
             epoch_us(MIN(ts)) // 1000000 AS wstart_s,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      FROM sess GROUP BY user_id, sess_id) s
    """,
    "streaming",
    headline=True,
)
def stream_windows(spark, sf_dir):
    """Tumbling (5 min) and session (1 h gap) window aggregations in one
    tagged result — the exact programs creek_spark.streaming runs under
    readStream with watermarks (tumbling_counts / session windows), here
    executed on the bounded events table so both are oracle-checkable.
    The session side is the gaps-and-islands batch mirror of
    F.session_window (deterministic, unlike the streaming operator's
    state timeouts)."""
    ev = _t(spark, sf_dir, "events")
    tumbling = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value", 14, 2),
        )
        .select(
            F.lit("tumbling").alias("kind"),
            F.col("event_type").alias("grp"),
            F.unix_seconds(F.col("w.start")).alias("wstart_s"),
            "n_events",
            "sum_value",
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap_us > 3600 * 1000000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn("sess_id", F.sum("new_sess").over(wsum))
    session = (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("_start"),
            dsum("value", "sum_value", 14, 2),
        )
        .select(
            F.lit("session").alias("kind"),
            F.concat_ws(
                "#", F.col("user_id").cast("string"), F.col("sess_id").cast("string")
            ).alias("grp"),
            F.unix_seconds(F.col("_start")).alias("wstart_s"),
            "n_events",
            "sum_value",
        )
    )
    return tumbling.unionByName(session)


@register(
    "cdc_scd2_history",
    """
    WITH ch AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
             ts, event_type, value
      FROM events)
    SELECT user_id, op,
           CAST(event_id AS BIGINT) AS lsn_num,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL AND op <> 'd') AS is_current,
           CASE WHEN op = 'd' THEN NULL ELSE event_type END AS event_type,
           CASE WHEN op = 'd' THEN NULL ELSE ts END AS ts,
           CASE WHEN op = 'd' THEN NULL ELSE value END AS value
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    "cdc",
)
def cdc_scd2_history(spark, sf_dir):
    """Type-2 SCD history through the real operator: the envelope replay
    of cdc_latest_state, materialized as versioned [valid_from, valid_to)
    rows with an is_current flag — same single per-key window shuffle."""
    from creek_spark.operators.cdc import scd2_history

    env = events_envelope(_t(spark, sf_dir, "events"))
    return scd2_history(env, key_cols=["user_id"])


@register(
    "cdc_incremental_mv",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    GROUP BY event_type
    """,
    "cdc",
)
def cdc_incremental_mv(spark, sf_dir):
    """Incrementally-maintained materialized view: the changelog is split
    at lsn 800 into a materialized batch and a new micro-batch; the new
    batch updates the state by recomputing ONLY touched keys (anti-join
    carries untouched rows unchanged), then the per-event_type aggregate
    is taken over the maintained state.  The oracle is a FULL recompute —
    hash equality proves the incremental path is lossless, the property a
    foreachBatch MERGE sink relies on at 100 TB where re-reading the
    whole log per batch is impossible."""
    from creek_spark.operators.cdc import incremental_latest_state

    env = events_envelope(_t(spark, sf_dir, "events"))
    state = incremental_latest_state(
        env, 800, key_cols=["user_id"], handle_toast=False
    )
    return (
        state.where(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            dsum("value", "sum_value", 14, 2),
        )
    )


@register(
    "cdc_snapshot_diff",
    """
    WITH old_s AS (
      SELECT user_id, event_type, ts, value FROM (
        SELECT user_id, event_type, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id <= 800) t
      WHERE rn = 1 AND event_type <> 'error'),
    new_s AS (
      SELECT user_id, event_type, ts, value FROM (
        SELECT user_id, event_type, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events) t
      WHERE rn = 1 AND event_type <> 'error')
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           o.event_type AS old_event_type, n.event_type AS new_event_type,
           o.value AS old_value, n.value AS new_value
    FROM old_s o FULL OUTER JOIN new_s n ON o.user_id = n.user_id
    WHERE o.user_id IS NULL OR n.user_id IS NULL
       OR o.event_type IS DISTINCT FROM n.event_type
       OR o.ts IS DISTINCT FROM n.ts
       OR o.value IS DISTINCT FROM n.value
    """,
    "cdc",
)
def cdc_snapshot_diff(spark, sf_dir):
    """Snapshot diff: classify every key as added/removed/changed between
    the state at LSN 800 and the current state (reference consumers diff
    successive snapshots to audit replication; the engine computes it as
    one full-outer join of two latest_state materializations).  At 100 TB
    both sides are key-partitioned state tables, so the join co-locates;
    unchanged keys (the overwhelming majority) are filtered pre-output."""
    from creek_spark.operators.cdc import latest_state
    from creek_spark.functions.lsn import lsn_num

    env = events_envelope(_t(spark, sf_dir, "events"))
    num = lsn_num(F.col("source.lsn"))
    old_s = latest_state(env.filter(num <= 800), ["user_id"], handle_toast=False)
    new_s = latest_state(env, ["user_id"], handle_toast=False)
    o = old_s.select(
        F.col("user_id").alias("o_uid"),
        F.col("event_type").alias("old_event_type"),
        F.col("ts").alias("o_ts"),
        F.col("value").alias("old_value"),
    )
    n = new_s.select(
        F.col("user_id").alias("n_uid"),
        F.col("event_type").alias("new_event_type"),
        F.col("ts").alias("n_ts"),
        F.col("value").alias("new_value"),
    )
    j = o.join(n, o.o_uid == n.n_uid, "full_outer")
    differs = (
        o.o_uid.isNull()
        | n.n_uid.isNull()
        | ~F.col("old_event_type").eqNullSafe(F.col("new_event_type"))
        | ~F.col("o_ts").eqNullSafe(F.col("n_ts"))
        | ~F.col("old_value").eqNullSafe(F.col("new_value"))
    )
    change = (
        F.when(o.o_uid.isNull(), "added")
        .when(n.n_uid.isNull(), "removed")
        .otherwise("changed")
    )
    return j.where(differs).select(
        F.coalesce(o.o_uid, n.n_uid).alias("user_id"),
        change.alias("change"),
        "old_event_type",
        "new_event_type",
        "old_value",
        "new_value",
    )


@register(
    "cdc_scd2_incremental",
    """
    WITH ch AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
             ts, event_type, value
      FROM events)
    SELECT user_id, op,
           CAST(event_id AS BIGINT) AS lsn_num,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL AND op <> 'd') AS is_current,
           CASE WHEN op = 'd' THEN NULL ELSE event_type END AS event_type,
           CASE WHEN op = 'd' THEN NULL ELSE ts END AS ts,
           CASE WHEN op = 'd' THEN NULL ELSE value END AS value
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    "cdc",
)
def cdc_scd2_incremental(spark, sf_dir):
    """SCD2 history maintained incrementally across the LSN-800 batch
    boundary: recompute history only for keys the batch touches, carry
    the rest — and hash-match the FULL-recompute oracle, proving the
    maintenance is lossless (the versioned-history twin of
    cdc_incremental_mv).  Touched keys broadcast into the anti/semi
    joins; the carried history is never shuffled."""
    from creek_spark.operators.cdc import incremental_scd2

    env = events_envelope(_t(spark, sf_dir, "events"))
    return incremental_scd2(env, 800, key_cols=["user_id"])


@register(
    "cdc_time_travel",
    """
    WITH ch AS (
      SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
             ts, event_type, value
      FROM events),
    h AS (
      SELECT user_id, op, ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             event_type, ts, value
      FROM ch
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
    tm AS (SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2)
                    AS tmid
           FROM events)
    SELECT user_id, event_type, ts, value, valid_from
    FROM h, tm
    WHERE op <> 'd' AND valid_from <= tmid
      AND (valid_to IS NULL OR valid_to > tmid)
    """,
    "cdc",
)
def cdc_time_travel(spark, sf_dir):
    """Time travel: the table state AS OF the stream's midpoint instant,
    answered from the SCD2 history (the warehouse pattern: one versioned
    materialization serves every point-in-time query, no log replay).
    The probe instant is derived from the data (midpoint of the ts
    range) so the query is scale-factor agnostic.  Plan: the scd2
    per-key window shuffle + a 1-row broadcast of the probe timestamp —
    the interval predicate is a per-row filter, no second exchange."""
    from creek_spark.operators.cdc import scd2_history

    ev = _t(spark, sf_dir, "events")
    env = events_envelope(ev)
    hist = scd2_history(env, key_cols=["user_id"])
    tm = ev.agg(
        F.timestamp_micros(
            F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2")
        ).alias("tmid")
    )
    return (
        hist.crossJoin(F.broadcast(tm))
        .where(
            (F.col("op") != "d")
            & (F.col("valid_from") <= F.col("tmid"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("tmid")))
        )
        .select("user_id", "event_type", "ts", "value", "valid_from")
    )
