"""Query catalog, part 9: sequence/cohort analytics — per-key OLS trend
fitting, gaps-and-islands activity streaks, multi-touch attribution,
order-cadence profiling, and an A/B mean test on exact moments.

Determinism rules as in queries.py: every float is produced by a
fixed-order IEEE chain over EXACT integer/decimal aggregates (no libm
transcendentals; sqrt is correctly rounded in both engines), rankings
carry unique tiebreaks, and integer division is `div`/`//` on both
sides (DuckDB `CAST(x/y AS BIGINT)` rounds — never used).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.queries import _fan_out, _t, register


# =====================================================================
# per-key OLS trend (exact normal equations)
# =====================================================================

TREND_EPOCH = "2024-01-01 00:00:00"

LINEAR_TREND_ORACLE = f"""
WITH d AS (
  SELECT event_type,
         CAST(date_diff('day', TIMESTAMP '{TREND_EPOCH}',
                        date_trunc('day', ts)) AS BIGINT) AS x,
         CAST(SUM(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM events GROUP BY event_type, date_trunc('day', ts)),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM d GROUP BY event_type),
c AS (
  SELECT event_type, n, sx, sy,
         CAST(n AS DECIMAL(13,0)) * CAST(sxy AS DECIMAL(19,0))
           - CAST(sx AS DECIMAL(13,0)) * CAST(sy AS DECIMAL(19,0)) AS num,
         CAST(n AS DECIMAL(13,0)) * CAST(sxx AS DECIMAL(13,0))
           - CAST(sx AS DECIMAL(13,0)) * CAST(sx AS DECIMAL(13,0)) AS den,
         CAST(n AS DECIMAL(13,0)) * CAST(syy AS DECIMAL(19,0))
           - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS dy
  FROM s)
SELECT event_type, n AS n_days,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS slope_per_day,
       CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
         - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0)
           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept,
       (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
         / (CAST(den AS DOUBLE) * CAST(dy AS DOUBLE)) AS r2
FROM c WHERE den <> 0 AND dy <> 0
"""


def trend_daily_cells(ev) -> "DataFrame":
    """Corpus → additive (event_type, day, y-cents) cells — the
    sufficient statistic of the trend (cents sum by addition per
    cell)."""
    return ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(
            (F.col("value").cast("decimal(14,2)") * F.lit(100)).cast("bigint")
        ).alias("y")
    )


def trend_from_cells(cells) -> "DataFrame":
    """(event_type, day, y) cells → the OLS trend frame."""
    d = cells.select(
        "event_type",
        F.datediff(F.col("day"), F.lit(TREND_EPOCH).cast("timestamp"))
        .cast("bigint")
        .alias("x"),
        "y",
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n13 = F.col("n").cast("decimal(13,0)")
    sx13 = F.col("sx").cast("decimal(13,0)")
    sy19 = F.col("sy").cast("decimal(19,0)")
    num = n13 * F.col("sxy").cast("decimal(19,0)") - sx13 * sy19
    den = n13 * F.col("sxx").cast("decimal(13,0)") - sx13 * sx13
    dy = n13 * F.col("syy").cast("decimal(19,0)") - sy19 * sy19
    c = s.select(
        "event_type", "n", "sx", "sy",
        num.alias("num"), den.alias("den"), dy.alias("dy"),
    ).where((F.col("den") != 0) & (F.col("dy") != 0))
    numd = F.col("num").cast("double")
    dend = F.col("den").cast("double")
    slope = numd / dend / F.lit(100.0)
    return c.select(
        "event_type",
        F.col("n").alias("n_days"),
        slope.alias("slope_per_day"),
        (
            F.col("sy").cast("double") / F.lit(100.0) / F.col("n").cast("double")
            - slope * (F.col("sx").cast("double") / F.col("n").cast("double"))
        ).alias("intercept"),
        (
            (numd * numd) / (dend * F.col("dy").cast("double"))
        ).alias("r2"),
    )


@register("ts_linear_trend", LINEAR_TREND_ORACLE, "timeseries")
def ts_linear_trend(spark, sf_dir):
    """Per-event-type least-squares trend of daily revenue: slope ($/day),
    intercept and R² from the closed-form normal equations — the
    is-this-metric-growing primitive behind every monitoring dashboard.

    Determinism: the five moment sums (Σx, Σy, Σxy, Σx², Σy²) are exact
    integers over day indexes and revenue cents; slope/intercept/R² are a
    fixed-order IEEE chain mirrored textually in the oracle.  Operands
    stay ≤ decimal(13)·decimal(19) so the cross products fit DuckDB's 38-
    digit multiply on the int128 path.

    Scale shape: two skew-free hash aggregations — (type, day) then type
    — with map-side combines; no window, no join.  The daily grid is
    calendar-bounded, the final frame is |event types| rows."""
    ev = _t(spark, sf_dir, "events")
    return trend_from_cells(trend_daily_cells(ev))


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
# order cadence (inter-arrival gaps, exact median)
# =====================================================================

INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT o_custkey AS c, o_orderkey AS k,
         CAST(date_diff('day',
              LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey),
              o_orderdate) AS BIGINT) AS gap
  FROM orders),
r AS (SELECT c, gap, k,
             ROW_NUMBER() OVER (PARTITION BY c ORDER BY gap, k) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY c) AS BIGINT) AS n
      FROM g WHERE gap IS NOT NULL)
SELECT c AS custkey,
       CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(CAST(SUM(gap) AS BIGINT) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
           AS mean_gap_days,
       MAX(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS median_gap_days
FROM r GROUP BY c
"""


@register("orders_interarrival", INTERARRIVAL_ORACLE, "timeseries")
def orders_interarrival(spark, sf_dir):
    """Per-customer order cadence: inter-arrival gaps between consecutive
    orders, with the exact mean and the exact lower median — the
    reorder-cycle feature behind churn prediction and replenishment
    forecasting.

    Determinism: gaps are integer day differences over an
    (orderdate, orderkey)-tiebroken order; the median is the element at
    rank (n+1) div 2 of the (gap, orderkey)-tiebroken ranking — pure
    integer selection, no percentile interpolation; the mean is one IEEE
    division of exact integers.

    Scale shape: both windows and the final aggregate are keyed on
    custkey (high-cardinality, partitions bounded by orders-per-
    customer); Catalyst plans ONE hash exchange and re-sorts within it —
    no corpus-wide ordered work."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("d"),
    )
    # alias BEFORE the first window so every window and the final agg
    # key on the same attribute `c` — Catalyst then reuses one exchange
    wlag = Window.partitionBy("c").orderBy("d", "k")
    g = o.select(
        "c",
        "k",
        F.datediff(F.col("d"), F.lag("d").over(wlag))
        .cast("bigint")
        .alias("gap"),
    ).where(F.col("gap").isNotNull())
    wrk = Window.partitionBy("c").orderBy("gap", "k")
    wn = Window.partitionBy("c")
    r = g.select(
        "c",
        "gap",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    return r.groupBy("c").agg(
        F.max("n").cast("bigint").alias("_n"),
        F.sum("gap").cast("bigint").alias("_s"),
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("gap"))
        ).alias("median_gap_days"),
    ).select(
        F.col("c").alias("custkey"),
        F.col("_n").alias("n_gaps"),
        (F.col("_s").cast("double") / F.col("_n").cast("double")).alias(
            "mean_gap_days"
        ),
        "median_gap_days",
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
# supplier ship-latency scorecard
# =====================================================================

LATE_THRESHOLD_DAYS = 30

SHIP_LATENCY_ORACLE = f"""
WITH j AS (
  SELECT l_suppkey AS sk,
         CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS lat,
         l_orderkey AS k1, l_linenumber AS k2
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
r AS (
  SELECT sk, lat,
         ROW_NUMBER() OVER (PARTITION BY sk ORDER BY lat, k1, k2) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY sk) AS BIGINT) AS n
  FROM j)
SELECT sk AS suppkey,
       CAST(MAX(n) AS BIGINT) AS n_shipments,
       CAST(CAST(SUM(lat) AS BIGINT) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
           AS mean_latency_days,
       MAX(CASE WHEN rk = CAST(CEIL(0.9 * CAST(n AS DOUBLE)) AS BIGINT)
                THEN lat END) AS p90_latency_days,
       CAST(CAST(SUM(CASE WHEN lat > {LATE_THRESHOLD_DAYS} THEN 1 ELSE 0 END)
                 AS BIGINT) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS late_rate
FROM r GROUP BY sk
"""


@register("supplier_ship_latency", SHIP_LATENCY_ORACLE, "aggregation")
def supplier_ship_latency(spark, sf_dir):
    """Supplier fulfilment scorecard: ship latency (days from order to
    ship) per supplier — exact mean, exact discrete p90, and the
    late-shipment rate past a 30-day SLA — the vendor-reliability report
    behind procurement reviews.

    Determinism: latencies are integer day differences; the p90 is the
    element at rank ceil(0.9·n) of a (lat, orderkey, linenumber)-
    tiebroken ranking (both engines evaluate the identical IEEE 0.9·n
    product); mean and rate are single divisions of exact integers.

    Scale shape: the lineitem-orders equi-join broadcasts orders while
    Catalyst's size estimate allows (size-gated hint — falls back to
    SMJ + the session's runtime Bloom filter at scale); after the join
    everything is keyed on suppkey, whose partition size is
    lineitems-per-supplier — CONSTANT in scale factor — so the rank
    window and the final agg share one bounded-partition exchange."""
    from creek_spark.plans import broadcast_if_small

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(
        broadcast_if_small(o), li.l_orderkey == o.o_orderkey
    ).select(
        F.col("l_suppkey").alias("sk"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("bigint")
        .alias("lat"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    wrk = Window.partitionBy("sk").orderBy("lat", "k1", "k2")
    wn = Window.partitionBy("sk")
    r = j.select(
        "sk",
        "lat",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    return r.groupBy("sk").agg(
        F.max("n").cast("bigint").alias("_n"),
        F.sum("lat").cast("bigint").alias("_s"),
        F.max(
            F.when(
                F.col("rk")
                == F.ceil(F.lit(0.9) * F.col("n").cast("double")).cast(
                    "bigint"
                ),
                F.col("lat"),
            )
        ).alias("p90_latency_days"),
        F.sum(
            F.when(F.col("lat") > LATE_THRESHOLD_DAYS, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("_late"),
    ).select(
        F.col("sk").alias("suppkey"),
        F.col("_n").alias("n_shipments"),
        (F.col("_s").cast("double") / F.col("_n").cast("double")).alias(
            "mean_latency_days"
        ),
        "p90_latency_days",
        (F.col("_late").cast("double") / F.col("_n").cast("double")).alias(
            "late_rate"
        ),
    )


# =====================================================================
# readability scoring (ARI)
# =====================================================================

READABILITY_ORACLE = """
WITH base AS (
  SELECT doc_id, lang,
         CAST(length(replace(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ', '')) AS BIGINT) AS c,
         CAST(len(string_split_regex(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             '\\s+')) AS BIGINT) AS w,
         GREATEST(CAST(length(text)
             - length(replace(replace(replace(text, '.', ''), '!', ''),
                              '?', '')) AS BIGINT), 1) AS s
  FROM documents)
SELECT doc_id, lang, c AS n_chars_alnum, w AS n_words, s AS n_sentences,
       4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
         + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 AS ari,
       CASE WHEN 4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
                 + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 < 6.0
            THEN 'easy'
            WHEN 4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
                 + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 < 10.0
            THEN 'medium'
            WHEN 4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
                 + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 < 14.0
            THEN 'hard'
            ELSE 'very_hard' END AS ari_class
FROM base
"""


@register("text_readability", READABILITY_ORACLE, "text")
def text_readability(spark, sf_dir):
    """Automated Readability Index per document: alnum-char / word /
    sentence counts → ARI = 4.71·(c/w) + 0.5·(w/s) − 21.43 with grade
    classes — the classic formula-based quality band a curation pipeline
    uses where a model-based scorer is too expensive (ARI uses only
    counts, so it is exactly reproducible cross-engine — no syllable
    estimation).

    Determinism: all three counts are integers (chars of the normalized
    text minus spaces; token-array length; sentence terminators counted
    by chained literal replace, floored at 1); the ARI chain is
    fixed-order IEEE on exact operands, and the class CASE compares the
    identical double on both sides.

    Scale shape: one scan, one JVM-only projection, no shuffle at all —
    the classifier every row-wise curation stage wants."""
    from creek_spark.functions.text import norm_text, tokens

    docs = _t(spark, sf_dir, "documents")
    norm = norm_text("text")
    c = F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("bigint")
    w = F.size(tokens("text")).cast("bigint")
    s = F.greatest(
        (
            F.length("text")
            - F.length(
                F.replace(
                    F.replace(
                        F.replace(F.col("text"), F.lit("."), F.lit("")),
                        F.lit("!"),
                        F.lit(""),
                    ),
                    F.lit("?"),
                    F.lit(""),
                )
            )
        ).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    base = docs.select(
        "doc_id", "lang", c.alias("c"), w.alias("w"), s.alias("s")
    )
    ari = (
        F.lit(4.71) * (F.col("c").cast("double") / F.col("w").cast("double"))
        + F.lit(0.5) * (F.col("s_w"))
        - F.lit(21.43)
    )
    base = base.withColumn(
        "s_w", F.col("w").cast("double") / F.col("s").cast("double")
    )
    return base.select(
        "doc_id",
        "lang",
        F.col("c").alias("n_chars_alnum"),
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        ari.alias("ari"),
        F.when(ari < 6.0, F.lit("easy"))
        .when(ari < 10.0, F.lit("medium"))
        .when(ari < 14.0, F.lit("hard"))
        .otherwise(F.lit("very_hard"))
        .alias("ari_class"),
    )


# =====================================================================
# frequent triples (Apriori level-3)
# =====================================================================

TRIPLE_MINSUP = 2

BASKET_TRIPLES_ORACLE = f"""
WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
               FROM lineitem),
tr AS (SELECT a.p AS p1, b.p AS p2, c.p AS p3,
              CAST(COUNT(*) AS BIGINT) AS support
       FROM items a
       JOIN items b ON a.o = b.o AND a.p < b.p
       JOIN items c ON a.o = c.o AND b.p < c.p
       GROUP BY a.p, b.p, c.p
       HAVING COUNT(*) >= {TRIPLE_MINSUP})
SELECT p1, p2, p3, support FROM tr
"""


@register("basket_triples", BASKET_TRIPLES_ORACLE, "aggregation")
def basket_triples(spark, sf_dir):
    """Frequent part triples across orders (the Apriori level-3 step on
    top of basket_part_pairs): all {{p1<p2<p3}} itemsets co-ordered in ≥2
    orders.

    The Spark side runs the APRIORI-SHAPED plan: first the frequent-pair
    level, then items are semi-join PRUNED to parts that appear in some
    frequent pair before the triple self-join.  By support monotonicity
    (any support-k triple's sub-pairs all have support ≥ k) the prune is
    LOSSLESS — the naive oracle enumeration returns the identical set.

    Scale shape: per-order fan-out is |basket| choose 3 with baskets
    bounded (TPC-H ≤ 7 items); the prune multiplies in the real win at
    100 TB — candidate parts collapse to the frequent-pair support set,
    so the three-way join runs over a corpus filtered by two broadcast
    semi-joins ⊙, all keyed on the order key."""
    from creek_spark.operators.cachereg import register_cache

    li = _t(spark, sf_dir, "lineitem")
    # the items frame feeds the pair level, the prune, and all three
    # triple-join legs — persist it once (caller-owned release via
    # cachereg) so the static plan stops cloning the lineitem scan
    items = register_cache(
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        ).distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= TRIPLE_MINSUP)
    )
    freq_parts = (
        pairs.select(F.col("p1").alias("p"))
        .unionByName(pairs.select(F.col("p2").alias("p")))
        .distinct()
    )
    pruned = register_cache(
        items.join(F.broadcast(freq_parts), "p", "semi")
    )
    x = pruned.alias("x")
    y = pruned.alias("y")
    z = pruned.alias("z")
    return (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p")))
        .join(z, (F.col("x.o") == F.col("z.o")) & (F.col("y.p") < F.col("z.p")))
        .groupBy(
            F.col("x.p").alias("p1"),
            F.col("y.p").alias("p2"),
            F.col("z.p").alias("p3"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= TRIPLE_MINSUP)
    )


# =====================================================================
# real PNG pixel statistics (pure-stdlib pixel codec, oracle-verified)
# =====================================================================

PIXEL_STATS_ORACLE = """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 12 + 4 AS BIGINT) AS w,
         CAST(doc_id % 8 + 3 AS BIGINT) AS h,
         CAST(doc_id % 256 AS BIGINT) AS seed
  FROM documents),
px AS (
  SELECT doc_id, w, h,
         (x + 2 * y + seed + c) % 256 AS v
  FROM g,
       unnest(generate_series(0, w - 1)) AS tx(x),
       unnest(generate_series(0, h - 1)) AS ty(y),
       unnest(generate_series(0, 2)) AS tc(c))
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_px,
       CAST(MIN(v) AS INTEGER) AS min_px,
       CAST(MAX(v) AS INTEGER) AS max_px,
       CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           AS mean_px
FROM px GROUP BY doc_id, w, h
"""


@register("multimodal_pixel_stats", PIXEL_STATS_ORACLE, "multimodal")
def multimodal_pixel_stats(spark, sf_dir):
    """Round-trip proof that PIXEL decode is REAL, not just headers:
    synthesize a deterministic gradient PNG per document (pixel (x,y,c)
    = (x + 2y + seed + c) mod 256, encoded through the pure-stdlib PNG
    encoder), decode it back through the chunk-walk + IDAT-inflate +
    unfilter codec inside ``pixel_stats`` (mapInPandas), and report
    count / exact sum / min / max / mean per image.  The oracle predicts
    every statistic from the closed-form pixel arithmetic — a hash
    mismatch means the encoder, the decoder, or the stats fold mangled
    actual pixel bytes.

    Scale shape: one mapInPandas stage (Arrow-batched, work ∝ media
    bytes, one metadata row out per image) — the multimodal paths are
    the catalog's ONLY Python stages (PLAN_AUDIT counts them; every
    relational/dedup/text query is plan-gated JVM-only); the mean is
    one IEEE division of exact integers in the JVM."""
    from creek_spark.operators.multimodal import (
        pixel_stats,
        png_bytes_gradient,
    )

    def synth(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            content = [
                png_bytes_gradient(
                    int(i) % 12 + 4, int(i) % 8 + 3, seed=int(i) % 256
                )
                for i in pdf["doc_id"]
            ]
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    media = docs.mapInPandas(synth, schema="media_id bigint, content binary")
    stats = pixel_stats(media, strict=True)
    return stats.select(
        "*",
        (
            F.col("sum_px").cast("double") / F.col("n_values").cast("double")
        ).alias("mean_px"),
    )


# =====================================================================
# cross-source duplication matrix
# =====================================================================


def _cross_source_oracle() -> str:
    from creek_spark.queries_northstar import _minhash_oracle

    return f"""
    WITH p AS ({_minhash_oracle()}),
    j AS (SELECT LEAST(da.source, db.source) AS source_a,
                 GREATEST(da.source, db.source) AS source_b
          FROM p
          JOIN documents da ON da.doc_id = p.doc_a
          JOIN documents db ON db.doc_id = p.doc_b)
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY source_a, source_b
    """


@register("dedup_cross_source", _cross_source_oracle(), "dedup")
def dedup_cross_source(spark, sf_dir):
    """Cross-source duplication matrix: MinHash-LSH near-dup candidate
    pairs rolled up by (source, source) — the contamination map that
    tells a curation team WHICH feeds overlap (same-source mirror rows
    on the diagonal, cross-source pairs off it), driving crawl dedup
    priorities.

    Determinism: the pair set is exactly dedup_minhash_lsh's (same
    md5-derived signatures both engines); the matrix is pure integer
    counting over canonically-ordered (LEAST/GREATEST) source pairs.

    Scale shape: pairs are banded-bucket-bounded (never all-pairs); the
    two source lookups are equi-joins on doc id against a projected
    (id, source) frame; the final matrix is |sources|² — metadata-sized."""
    from creek_spark.queries_northstar import BANDS, N_HASHES, SHINGLE_K
    from creek_spark.operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
    )
    src = docs.select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("_sa")
    )
    b = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("_sb")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .groupBy(
            F.least(F.col("_sa"), F.col("_sb")).alias("source_a"),
            F.greatest(F.col("_sa"), F.col("_sb")).alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# =====================================================================
# customer segment migration matrix
# =====================================================================

MIGRATION_SPLIT = "1998-05-01 00:00:00"


def _seg_case(n: str) -> str:
    return (
        f"CASE WHEN COALESCE({n}, 0) = 0 THEN 'none' "
        f"WHEN {n} <= 2 THEN 'low' "
        f"WHEN {n} <= 5 THEN 'mid' ELSE 'high' END"
    )


MIGRATION_ORACLE = f"""
WITH h AS (
  SELECT o_custkey AS c,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{MIGRATION_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{MIGRATION_SPLIT}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM orders GROUP BY o_custkey),
seg AS (
  SELECT {_seg_case('h.n1')} AS seg_before,
         {_seg_case('h.n2')} AS seg_after
  FROM customer cu LEFT JOIN h ON h.c = cu.c_custkey)
SELECT seg_before, seg_after, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM seg GROUP BY seg_before, seg_after
"""


@register("customer_migration_matrix", MIGRATION_ORACLE, "aggregation")
def customer_migration_matrix(spark, sf_dir):
    """Customer activity-segment migration: order-count class (none /
    low ≤2 / mid ≤5 / high) in the era before vs after the catalog
    midpoint, crossed into a migration matrix over the full customer
    dimension — churn/upsell flow at a glance (the fixed-threshold
    cousin of customer_rfm, deliberately quantile-free so the segment
    definition is stable across reruns and engines).

    Determinism: pure integer counting and fixed thresholds; no floats.

    Scale shape: ONE orders scan folds both eras with conditional
    counts (map-side combined, custkey-keyed); the customer left join
    is custkey-equi (broadcast while the size gate allows); the matrix
    agg is 16 rows."""
    from creek_spark.plans import broadcast_if_small

    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer").select("c_custkey")
    split = F.lit(MIGRATION_SPLIT).cast("timestamp")
    h = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sum(F.when(F.col("o_orderdate") < split, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("o_orderdate") >= split, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )

    def seg(n):
        c = F.coalesce(F.col(n), F.lit(0))
        return (
            F.when(c == 0, F.lit("none"))
            .when(c <= 2, F.lit("low"))
            .when(c <= 5, F.lit("mid"))
            .otherwise(F.lit("high"))
        )

    joined = cu.join(broadcast_if_small(h), cu.c_custkey == h.c, "left")
    return joined.select(
        seg("n1").alias("seg_before"), seg("n2").alias("seg_after")
    ).groupBy("seg_before", "seg_after").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


# =====================================================================
# character-diversity (Gini) scoring
# =====================================================================

CHAR_GINI_ORACLE = """
WITH base AS (
  SELECT doc_id,
         replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ', '') AS s
  FROM documents),
ch AS (
  SELECT doc_id, substr(s, CAST(i AS INTEGER), 1) AS c
  FROM base, unnest(generate_series(1, length(s))) AS t(i)
  WHERE length(s) > 0),
cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
       FROM ch GROUP BY doc_id, c),
agg AS (SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(n * n) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM cc GROUP BY doc_id)
SELECT doc_id, nt AS n_chars, n_distinct AS n_distinct_chars,
       CAST(nt * nt - s2 AS DOUBLE) / CAST(nt * nt AS DOUBLE) AS char_gini
FROM agg
"""


@register("text_char_gini", CHAR_GINI_ORACLE, "text")
def text_char_gini(spark, sf_dir):
    """Character-diversity score per document: Gini impurity
    1 − Σp(c)² over the normalized alphanumeric character distribution
    — the log-free cousin of character entropy (entropy needs libm `ln`,
    which differs across engines; Gini is pure rational arithmetic), a
    cheap degenerate-text screen (near 0 ⇒ one repeated character).

    Determinism: counts are exact integers and the score is ONE IEEE
    division of exact operands: (N² − Σc²) / N².

    Scale shape: position-explode inflates to one row per character
    (the same budget as shingling), then two hash aggregations —
    (doc, char) with map-side combine, then doc; no window, no join,
    alphabet ≤ 36 bounds the per-doc state."""
    from creek_spark.functions.text import norm_text

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.replace(norm_text("text"), F.lit(" "), F.lit("")).alias("s"),
    ).where(F.length("s") > 0)
    ch = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("s"))).alias("i"),
        "s",
    ).select("doc_id", F.expr("substr(s, i, 1)").alias("c"))
    cc = ch.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    agg = cc.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        F.col("nt").alias("n_chars"),
        F.col("n_distinct").alias("n_distinct_chars"),
        (
            (F.col("nt") * F.col("nt") - F.col("s2")).cast("double")
            / (F.col("nt") * F.col("nt")).cast("double")
        ).alias("char_gini"),
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
# SPC p-chart on hourly error rates
# =====================================================================

PCHART_ORACLE = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tn,
               CAST(SUM(n_errors) AS BIGINT) AS te
        FROM h),
c AS (SELECT h.*, CAST(te AS DOUBLE) / CAST(tn AS DOUBLE) AS pbar
      FROM h CROSS JOIN tot)
SELECT bucket, n_events, n_errors,
       CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS p,
       pbar,
       pbar + 3.0 * SQRT(pbar * (1.0 - pbar) / CAST(n_events AS DOUBLE))
           AS ucl,
       GREATEST(
           pbar - 3.0 * SQRT(pbar * (1.0 - pbar) / CAST(n_events AS DOUBLE)),
           0.0) AS lcl,
       (CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)
            > pbar + 3.0 * SQRT(pbar * (1.0 - pbar)
                                / CAST(n_events AS DOUBLE)))
       OR (CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE)
            < GREATEST(pbar - 3.0 * SQRT(pbar * (1.0 - pbar)
                                         / CAST(n_events AS DOUBLE)), 0.0))
           AS out_of_control
FROM c
"""


@register("ts_error_pchart", PCHART_ORACLE, "timeseries")
def ts_error_pchart(spark, sf_dir):
    """Statistical-process-control p-chart on the hourly error
    proportion: binomial 3σ control limits around the grand mean rate,
    with per-hour out-of-control flags — the ops-monitoring classic
    (Shewhart chart), flagging hours whose error rate is statistically
    incompatible with the baseline.

    Determinism: hourly and grand totals are exact integers; p̄, limits
    and flags are one fixed-order IEEE chain (sqrt correctly rounded)
    mirrored textually; the boolean compares identical doubles.

    Scale shape: one hash agg to the hourly grid (map-side combined);
    the grand totals fold over the calendar-bounded SUMMARY via an
    unpartitioned window (allow-listed beside quality_drift_tvd — its
    input is the post-aggregate hourly frame, never the corpus; a
    crossJoin-with-agg formulation would plan a SECOND corpus scan),
    pure projections after — the corpus is touched once."""
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    from creek_spark.operators.distributed import const_partition

    wall = Window.partitionBy(const_partition("bucket"))
    c = h.withColumn(
        "pbar",
        F.sum("n_errors").over(wall).cast("bigint").cast("double")
        / F.sum("n_events").over(wall).cast("bigint").cast("double"),
    )
    p = F.col("n_errors").cast("double") / F.col("n_events").cast("double")
    sig = F.sqrt(
        F.col("pbar")
        * (F.lit(1.0) - F.col("pbar"))
        / F.col("n_events").cast("double")
    )
    ucl = F.col("pbar") + F.lit(3.0) * sig
    lcl = F.greatest(F.col("pbar") - F.lit(3.0) * sig, F.lit(0.0))
    return c.select(
        "bucket",
        "n_events",
        "n_errors",
        p.alias("p"),
        "pbar",
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    )
