"""Catalog domain: clickstream analytics over the `events` table —
funnels, retention, sequences, sessionization, activity streaks,
multi-touch attribution, an A/B mean test on exact moments, DAU/WAU
stickiness, conversion latency and cumulative users.

Same determinism rules as queries.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.operators.distributed import const_partition
from creek_spark.queries import _t, register
from creek_spark.query_parts import TREND_EPOCH


FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_oracle(steps=tuple(FUNNEL_STEPS)) -> str:
    wspec = ("PARTITION BY user_id ORDER BY ts, event_id "
             "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
    ctes = []
    prev = "events"
    for i in range(len(steps) - 1):
        cond = f"event_type = '{steps[i]}'"
        if i > 0:
            cond += f" AND r{i - 1} IS NOT NULL"
        ctes.append(
            f"o{i} AS (SELECT *, MIN(CASE WHEN {cond} THEN ts END) "
            f"OVER ({wspec}) AS r{i} FROM {prev})"
        )
        prev = f"o{i}"
    flags = []
    for i, s in enumerate(steps):
        cond = f"event_type = '{s}'"
        if i > 0:
            cond += f" AND r{i - 1} IS NOT NULL"
        flags.append(f"MAX(CASE WHEN {cond} THEN 1 ELSE 0 END) AS s{i}")
    ctes.append(
        f"u AS (SELECT user_id, {', '.join(flags)} FROM {prev} GROUP BY user_id)"
    )
    selects = [
        f"SELECT {i + 1} AS step, '{s}' AS event_type, "
        f"CAST(SUM(s{i}) AS BIGINT) AS n_users FROM u"
        for i, s in enumerate(steps)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(selects)


@register("events_funnel", _funnel_oracle(), "events")
def events_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel: strict-total-order step
    qualification via stacked 1-PRECEDING window mins — one shuffle of
    the stream, per-user flags reuse the partitioning, and the 1-row
    totals explode into the per-step summary."""
    from creek_spark.operators.events import funnel

    return funnel(_t(spark, sf_dir, "events"), FUNNEL_STEPS)


@register(
    "events_retention",
    """
    WITH firsts AS (SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
                    FROM events GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
               FROM events)
    SELECT f.cohort AS cohort_week,
           CAST((epoch_us(a.week) - epoch_us(f.cohort)) // 604800000000 AS INT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY f.cohort, week_offset
    """,
    "events",
)
def events_retention(spark, sf_dir):
    """Weekly retention triangle: first-activity cohort × week offset →
    distinct active users.  Both aggregations key on user (one shuffle,
    reused by the join); offsets are exact integer epoch divisions."""
    from creek_spark.operators.events import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


@register(
    "events_sequences",
    """
    WITH o AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_users_paths
    FROM o WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_users_paths DESC, e1, e2, e3
    LIMIT 20
    """,
    "events",
)
def events_sequences(spark, sf_dir):
    """User-journey mining: the 20 most frequent 3-step event-type
    sequences across all per-user timelines (the PrefixSpan-lite
    contiguous variant).  One per-user window (lead×2 shares the sorted
    exchange), then a tiny path-keyed agg with map-side combine and a
    TakeOrdered top-k under a total order — path cardinality is
    |types|³-bounded, so the final agg is metadata-sized at any corpus
    scale."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        o.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users_paths"))
        .orderBy(F.col("n_users_paths").desc(), "e1", "e2", "e3")
        .limit(20)
    )


@register(
    "events_sessionize",
    """
    WITH o AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS t_start, MAX(ts) AS t_end,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                AS BIGINT) AS duration_secs,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
    FROM s GROUP BY user_id, session_id
    """,
    "events",
)
def events_sessionize(spark, sf_dir):
    """Batch sessionization: per-user event timelines split at >30-minute
    inactivity gaps (the web/product-analytics staple, and the
    conversation-segmentation shape an LLM-data pipeline applies to chat
    logs before packing).  Session boundaries are a lag-gap indicator
    summed into session ids; stats aggregate per (user, session).

    Scale: user_id is near-uniform high-cardinality, so BOTH windows are
    honest per-key work sharing ONE sorted exchange, and the final agg
    reuses the same partitioning prefix.  Gap arithmetic is integer
    epoch-µs — bit-exact cross-engine; duration uses integer division."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap > F.lit(1800) * 1000000), 1
    ).otherwise(0)
    s = ev.select("user_id", "event_id", "event_type", "ts").withColumn(
        "session_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return s.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("t_start"),
        F.max("ts").alias("t_end"),
        F.floor(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1000000)
        )
        .cast("bigint")
        .alias("duration_secs"),
        F.countDistinct("event_type").cast("bigint").alias("n_event_types"),
    )


# =====================================================================
# gaps-and-islands activity streaks
# =====================================================================

STREAKS_ORACLE = f"""
WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
           FROM events),
i AS (SELECT user_id, day,
             CAST(date_diff('day', TIMESTAMP '{TREND_EPOCH}', day) AS BIGINT)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM d)
SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
       CAST(COUNT(*) AS BIGINT) AS streak_days
FROM i GROUP BY user_id, grp
"""


@register("events_active_streaks", STREAKS_ORACLE, "events")
def events_active_streaks(spark, sf_dir):
    """Consecutive-active-day streaks per user (the classic
    gaps-and-islands): distinct active days, island id = day-index minus
    per-user row number (constant within a run of consecutive days), one
    row per streak with start/end/length — the engagement-streak metric.

    Determinism: day indexes and row numbers are integers; the island id
    is exact; no floats anywhere.

    Scale shape: one distinct-aggregate on (user, day), then a
    user-partitioned window (high-cardinality key, each partition is
    calendar-bounded), then a hash agg on (user, island) that reuses the
    user hash partitioning — one corpus shuffle plus one bounded one."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    i = d.select(
        "user_id",
        "day",
        (
            F.datediff(F.col("day"), F.lit(TREND_EPOCH).cast("timestamp"))
            .cast("bigint")
            - F.row_number().over(w)
        ).alias("grp"),
    )
    return i.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
    ).drop("grp")


# =====================================================================
# multi-touch attribution
# =====================================================================

ATTRIB_CHANNELS = ("click", "view", "signup")
ATTRIB_WINDOW_DAYS = 7
ATTRIB_SCALE = 1_000_000

ATTRIBUTION_ORACLE = f"""
WITH conv AS (SELECT event_id AS conv_id, user_id, ts AS conv_ts
              FROM events WHERE event_type = 'purchase'),
t AS (SELECT e.event_id AS touch_id, e.ts, e.event_type AS channel,
             c.conv_id
      FROM events e JOIN conv c ON e.user_id = c.user_id
       AND e.ts < c.conv_ts
       AND e.ts >= c.conv_ts - INTERVAL {ATTRIB_WINDOW_DAYS} DAY
      WHERE e.event_type IN ('click', 'view', 'signup')),
r AS (SELECT channel,
             ROW_NUMBER() OVER (PARTITION BY conv_id
                                ORDER BY ts, touch_id) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_touches
      FROM t)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS touches,
       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
       CAST(SUM(CASE WHEN rk = n_touches THEN 1 ELSE 0 END) AS BIGINT)
           AS last_touch,
       CAST(CAST(SUM({ATTRIB_SCALE} // n_touches) AS BIGINT) AS DOUBLE)
           / {float(ATTRIB_SCALE)} AS linear_credit
FROM r GROUP BY channel
"""


@register("events_attribution", ATTRIBUTION_ORACLE, "events")
def events_attribution(spark, sf_dir):
    """Multi-touch conversion attribution: every purchase is credited to
    the click/view/signup touches of the same user in the preceding
    7 days — first-touch and last-touch counts plus fractional linear
    credit (1/n per touch) per channel, the marketing-mix staple.

    Determinism: linear credit is INTEGER micro-credit (10⁶ div
    n_touches) summed exactly and divided once; first/last flags come
    from a (ts, touch_id)-tiebroken rank.

    Scale shape: the touch-conversion join is an equi-join on user_id
    with residual range predicates — fan-in per conversion is bounded by
    the 7-day window; both windows are keyed on the high-cardinality
    conversion id; the final agg is |channels| rows.  One user-keyed
    shuffle, one conv-keyed shuffle, nothing corpus²."""
    ev = _t(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.where(F.col("event_type").isin(*ATTRIB_CHANNELS)).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        "ts",
        F.col("event_type").alias("channel"),
    )
    t = touch.join(
        conv,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("ts") < F.col("conv_ts"))
        & (
            F.col("ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW_DAYS} DAYS")
        ),
    )
    wr = Window.partitionBy("conv_id").orderBy("ts", "touch_id")
    wc = Window.partitionBy("conv_id")
    r = t.select(
        "channel",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("n_touches"),
    )
    return r.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("touches"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("first_touch"),
        F.sum(F.when(F.col("rk") == F.col("n_touches"), 1).otherwise(0))
        .cast("bigint")
        .alias("last_touch"),
        (
            F.sum(F.expr(f"{ATTRIB_SCALE} div n_touches"))
            .cast("bigint")
            .cast("double")
            / F.lit(float(ATTRIB_SCALE))
        ).alias("linear_credit"),
    )


# =====================================================================
# A/B mean test on exact moments
# =====================================================================

AB_SALT = "ab"

AB_TEST_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
a AS (
  SELECT CASE WHEN substring(md5('{AB_SALT}' || CAST(user_id AS VARCHAR)), 1, 1)
                   < '8' THEN 'A' ELSE 'B' END AS arm,
         cents FROM u),
s AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN arm = 'A' THEN cents ELSE 0 END) AS BIGINT) AS s_a,
    CAST(SUM(CASE WHEN arm = 'B' THEN cents ELSE 0 END) AS BIGINT) AS s_b,
    CAST(SUM(CASE WHEN arm = 'A' THEN cents * cents ELSE 0 END) AS BIGINT)
        AS ss_a,
    CAST(SUM(CASE WHEN arm = 'B' THEN cents * cents ELSE 0 END) AS BIGINT)
        AS ss_b
  FROM a)
SELECT n_a, n_b,
       CAST(s_a AS DOUBLE) / 100.0 / CAST(n_a AS DOUBLE) AS mean_a,
       CAST(s_b AS DOUBLE) / 100.0 / CAST(n_b AS DOUBLE) AS mean_b,
       CAST(s_a AS DOUBLE) / 100.0 / CAST(n_a AS DOUBLE)
         - CAST(s_b AS DOUBLE) / 100.0 / CAST(n_b AS DOUBLE) AS mean_diff,
       (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
          - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / SQRT(
           ((CAST(ss_a AS DOUBLE)
               - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                 / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
           + ((CAST(ss_b AS DOUBLE)
                 - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                   / CAST(n_b AS DOUBLE))
               / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)
         ) AS welch_z
FROM s
"""


@register("events_ab_test", AB_TEST_ORACLE, "events")
def events_ab_test(spark, sf_dir):
    """Two-arm A/B readout on per-user purchase revenue: users are
    hash-assigned (md5 first hex digit, 50/50) to arms, and the Welch
    z-statistic is computed from exact per-arm moments — the experiment
    readout every growth team runs, with the assignment itself
    deterministic so both engines test identical cohorts.

    Determinism: per-user revenue is exact integer cents; Σ and Σ² per
    arm are exact; means/variances/z are one fixed-order IEEE chain
    (sqrt is correctly rounded) mirrored textually in the oracle.

    Scale shape: one hash agg on user_id (map-side combined), then a
    single-row global aggregate of six integer columns — the second
    "shuffle" moves bytes, not data.  No window, no join."""
    ev = _t(spark, sf_dir, "events")
    u = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.col("value").cast("decimal(14,2)") * F.lit(100)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit(AB_SALT), F.col("user_id").cast("string"))),
            1,
            1,
        )
        < "8",
        F.lit("A"),
    ).otherwise(F.lit("B"))
    a = u.select(arm.alias("arm"), "cents")
    is_a = F.col("arm") == "A"
    is_b = F.col("arm") == "B"
    s = a.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(is_a, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s_a"),
        F.sum(F.when(is_b, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s_b"),
        F.sum(F.when(is_a, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("ss_a"),
        F.sum(F.when(is_b, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("ss_b"),
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    sad = F.col("s_a").cast("double")
    sbd = F.col("s_b").cast("double")
    mean_a = sad / F.lit(100.0) / nad
    mean_b = sbd / F.lit(100.0) / nbd
    var_a = (F.col("ss_a").cast("double") - sad * sad / nad) / (
        nad - F.lit(1.0)
    )
    var_b = (F.col("ss_b").cast("double") - sbd * sbd / nbd) / (
        nbd - F.lit(1.0)
    )
    return s.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        (mean_a - mean_b).alias("mean_diff"),
        (
            (sad / nad - sbd / nbd)
            / F.sqrt(var_a / nad + var_b / nbd)
        ).alias("welch_z"),
    )


# =====================================================================
# DAU / WAU stickiness
# =====================================================================

STICKINESS_ORACLE = """
WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
           FROM events),
days AS (SELECT DISTINCT day FROM a),
w AS (SELECT d.day, a.user_id
      FROM days d JOIN a ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day),
wau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        FROM w GROUP BY day),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM a GROUP BY day)
SELECT dau.day, dau, wau,
       CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
"""


@register("events_dau_wau", STICKINESS_ORACLE, "events")
def events_dau_wau(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness per day — the engagement
    headline metric.  The oracle states WAU as a range join; the Spark
    side uses the SCALE shape: each (user, day) activity row EXPLODES
    into the ≤7 future report days it can serve (a fixed 7× map-side
    fan-out), then one distinct aggregate per report day — no range
    join, no re-scan per day.

    Determinism: distinct counts are exact integers; stickiness is one
    IEEE division.

    Scale shape: distinct (user, day) first (events collapse before any
    fan-out); the 7× explode is map-side; the WAU distinct-agg shuffles
    (report_day, user) pairs once; the report-day semi join rides a
    calendar-bounded broadcast ⊙."""
    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days = a.select("day").distinct()
    contrib = a.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("rday"),
    ).join(F.broadcast(days), F.col("rday") == F.col("day"), "semi")
    wau = contrib.groupBy("rday").agg(
        F.count_distinct("user_id").cast("bigint").alias("wau")
    )
    dau = a.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    return dau.join(wau, dau.day == wau.rday).select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


# =====================================================================
# funnel conversion latency
# =====================================================================

CONVERSION_ORACLE = """
WITH fv AS (SELECT user_id, MIN(ts) AS v_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id),
fp AS (SELECT user_id, MIN(ts) AS p_ts FROM events
       WHERE event_type = 'purchase' GROUP BY user_id),
lat AS (
  SELECT (CAST(epoch_us(p_ts) AS BIGINT)
            - CAST(epoch_us(v_ts) AS BIGINT)) // 60000000 AS lat_min
  FROM fv JOIN fp ON fp.user_id = fv.user_id
  WHERE p_ts >= v_ts),
ranked AS (
  SELECT lat_min,
         row_number() OVER (ORDER BY lat_min) AS rn,
         COUNT(*) OVER () AS n
  FROM lat),
pick AS (
  SELECT MAX(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                  THEN lat_min END) AS p50_minutes,
         MAX(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                  THEN lat_min END) AS p90_minutes,
         CAST(COUNT(*) AS BIGINT) AS n_converted
  FROM ranked),
u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers FROM fv)
SELECT n_viewers, n_converted,
       CAST(n_converted AS DOUBLE) / CAST(n_viewers AS DOUBLE)
         AS conversion_rate,
       p50_minutes, p90_minutes
FROM pick CROSS JOIN u
"""


@register("events_conversion_latency", CONVERSION_ORACLE, "events")
def events_conversion_latency(spark, sf_dir):
    """First-view → first-purchase conversion latency: converted-user
    count, conversion rate, and EXACT discrete p50/p90 latency minutes —
    the funnel-speed readout next to events_funnel's step counts.

    Scale shape: two user-keyed min aggregates and an equi join produce
    one latency row per converted user; the global percentiles come from
    ONE rank_pick call (two-level bucketed exact selection — the only
    ordered walks are over the hour-bucket SUMMARY, never the latency
    rows).  Latency is exact integer epoch-µs divided by 60 s with
    truncating div on both engines."""
    ev = _t(spark, sf_dir, "events")
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return conversion_from_firsts(fv, fp)


def conversion_from_firsts(fv, fp):
    """(user, first-view ts) × (user, first-purchase ts) → the one-row
    conversion report; the batch query applies it to the per-user min
    aggregates."""
    from creek_spark.operators.cachereg import register_cache
    from creek_spark.operators.distributed import rank_pick

    # cache: the latency frame (two aggregates + a join) feeds both
    # rank_pick levels AND the n_converted aggregate
    lat = register_cache(
        fv.join(fp, "user_id")
        .where(F.col("p_ts") >= F.col("v_ts"))
        .select(
            F.expr(
                "(unix_micros(p_ts) - unix_micros(v_ts)) div 60000000"
            ).alias("lat_min")
        )
    )
    ranks = lambda n: [  # noqa: E731
        F.floor(F.lit(p) * (n - 1)).cast("bigint") + 1 for p in (0.5, 0.9)
    ]
    picked = rank_pick(
        lat,
        [],
        F.col("lat_min"),
        F.lit(0),
        F.floor(F.col("lat_min") / 60).cast("bigint"),
        ranks,
    )
    pick = picked.groupBy().agg(
        F.max(F.when(F.col("_ki") == 0, F.col("_pick_v"))).alias(
            "p50_minutes"
        ),
        F.max(F.when(F.col("_ki") == 1, F.col("_pick_v"))).alias(
            "p90_minutes"
        ),
    )
    nconv = lat.agg(F.count(F.lit(1)).cast("bigint").alias("n_converted"))
    u = fv.agg(F.count(F.lit(1)).cast("bigint").alias("n_viewers"))
    return (
        pick.crossJoin(F.broadcast(nconv))
        .crossJoin(F.broadcast(u))
        .select(
            "n_viewers",
            "n_converted",
            (
                F.col("n_converted").cast("double")
                / F.col("n_viewers").cast("double")
            ).alias("conversion_rate"),
            "p50_minutes",
            "p90_minutes",
        )
    )


# =====================================================================
# cumulative user growth
# =====================================================================

CUM_USERS_ORACLE = """
WITH fu AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
            FROM events GROUP BY user_id),
d AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM fu GROUP BY first_day)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM d ORDER BY day
"""


@register("events_cumulative_users", CUM_USERS_ORACLE, "events")
def events_cumulative_users(spark, sf_dir):
    """User-growth curve: new users per day (first-ever activity) and
    the cumulative registered-user count — the top-line growth chart.

    Scale shape: a user-keyed min aggregate collapses the corpus to one
    row per user, a day aggregate to one row per active day; the single
    ordered cumulative walks the day summary, bounded by the calendar
    domain (allow-listed with the other summary walkers)."""
    ev = _t(spark, sf_dir, "events")
    fu = ev.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("first_day"))
    d = fu.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.partitionBy(const_partition("day")).orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        d.withColumn("cum_users", F.sum("new_users").over(w).cast("bigint"))
        .select("day", "new_users", "cum_users")
        .orderBy("day")
    )
