"""Query catalog, part 5: time-series & reshaping analytics over the
`events` stream table — gap-fill/resample (zero-fill + forward-fill),
exact discrete percentiles per group, and unpivot/melt.

These are the hypertable-style operations a CDC-fed events table gets
queried with once materialized (the reference only delivers the stream;
rollups are explicitly left to consumers — SURVEY.md §2.2 'streaming
windows: absent').

Determinism rules as in queries.py: doubles pass through untouched or
via the decimal sandwich; every ranking has a total-order tiebreak.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.operators.cachereg import register_cache
from creek_spark.queries import _t, dec, dsum, register


@register(
    "ts_gap_fill",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type, date_trunc('hour', ts)),
    bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM hourly),
    grid AS (
      SELECT event_type, g.bucket
      FROM (SELECT DISTINCT event_type FROM hourly) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
                  FROM bounds) g)
    SELECT event_type, bucket,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           last_value(sum_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_ffill
    FROM grid LEFT JOIN hourly USING (event_type, bucket)
    """,
    "timeseries",
    headline=True,
)
def ts_gap_fill(spark, sf_dir):
    """Resample to an hourly grid: every (event_type, hour) cell exists,
    counts zero-filled, values forward-filled from the last seen hour.

    The grid is generated with sequence+explode (JVM-side, no driver
    loop); at scale the grid is |types| × |hours| — tiny next to the
    event stream, so the left join broadcasts the grid side naturally
    after its aggregation."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    # persist: hourly feeds three consumers (bounds, grid types, the join)
    # whose differing column pruning defeats exchange reuse — without it
    # the full event stream is scanned three times.  Post-agg it is only
    # |types| × |hours| rows.
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum("value", "sum_value", 14, 2),
    )
    hourly = register_cache(hourly)  # caller-owned release (cachereg)
    bounds = hourly.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_ffill"),
        )
    )


@register(
    "agg_percentile_disc",
    """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type,
           MAX(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                    THEN value END) AS p50,
           MAX(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                    THEN value END) AS p90
    FROM ranked GROUP BY event_type
    """,
    "aggregation",
)
def agg_percentile_disc(spark, sf_dir):
    """Exact discrete percentiles per group (p50/p90 of event value).

    Discrete (an actual data value is returned, no interpolation) so the
    result is bit-exact across engines — the oracle-able counterpart of
    percentile_approx, which each engine sketches differently.

    Scale shape: ranking raw events inside ~5 event_type partitions is
    a handful of single-task sorts at 100 TB; both picks instead come
    from ONE rank_pick call (two target ranks) — two-level bucketed
    counting, no corpus-scale sorted window anywhere in the plan."""
    from creek_spark.operators.distributed import rank_pick

    ev = _t(spark, sf_dir, "events")
    ranks = lambda n: [  # noqa: E731
        F.floor(F.lit(p) * (n - 1)).cast("bigint") + 1 for p in (0.5, 0.9)
    ]
    picked = rank_pick(
        ev,
        ["event_type"],
        F.col("value"),
        F.lit(0),
        F.floor(F.col("value") * 16).cast("bigint"),
        ranks,
    )
    return picked.groupBy("event_type").agg(
        F.max(F.when(F.col("_ki") == 0, F.col("_pick_v"))).alias("p50"),
        F.max(F.when(F.col("_ki") == 1, F.col("_pick_v"))).alias("p90"),
    )


# (unpivot coverage lives in queries.py `pivot_unpivot`, which round-trips
# groupBy().pivot() and DataFrame.unpivot in one oracle-checked entry.)


# =====================================================================
# table profiling (ANALYZE-style one-pass column statistics)
# =====================================================================

_PROFILE_COLS = {
    "orders": [
        ("o_orderkey", "num"),
        ("o_custkey", "num"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "num"),
        ("o_orderdate", "ts"),
        ("o_orderpriority", "str"),
    ],
    "events": [
        ("event_id", "num"),
        ("ts", "ts"),
        ("user_id", "num"),
        ("event_type", "str"),
        ("value", "num"),
        ("props", "str"),
    ],
}


def _profile_oracle() -> str:
    from creek_spark.operators.profile import profile_oracle_sql

    parts = [
        f"SELECT '{tbl}' AS tbl, p.* FROM ({profile_oracle_sql(tbl, cols)}) p"
        for tbl, cols in _PROFILE_COLS.items()
    ]
    return "\nUNION ALL\n".join(parts)


@register(
    "table_profile",
    _profile_oracle(),
    "profiling",
)
def table_profile(spark, sf_dir):
    """ANALYZE-style statistics for every column of two tables — row
    count, null count, exact distinct cardinality, typed min/max — the
    first pass any training-data pipeline runs to size partitions and
    catch skew/quality problems.

    One scan + one aggregation per table (stats for ALL columns come out
    of a single Aggregate; the unpivot is a stack over the one-row
    result, not a reshuffle).  Exact COUNT(DISTINCT) over k columns
    costs a k+1-way Expand before the single shuffle — the documented
    100 TB knob is profile_columns(approx=True), which switches to
    HyperLogLog++ and drops the Expand (operators/profile.py)."""
    from creek_spark.operators.profile import profile_columns

    parts = []
    for tbl, cols in _PROFILE_COLS.items():
        prof = profile_columns(
            _t(spark, sf_dir, tbl), [c for c, _ in cols]
        ).select(F.lit(tbl).alias("tbl"), "*")
        parts.append(prof)
    return parts[0].unionByName(parts[1])


# =====================================================================
# skew mitigation (driver-verified row for operators/skew.py)
# =====================================================================


@register(
    "skew_salted_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "skew",
)
def skew_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation over the biggest table grouped by a
    3-value key — the exact shape where one hot key overwhelms a single
    reducer at 100 TB.  Phase 1 groups by (key, pmod(xxhash64(id), 16))
    so each key spreads over 16 reducers; phase 2 merges ≤ |keys|×16
    partial rows.  The salt is deterministic (no rand()), and the sums
    ride the decimal sandwich, so the salted result is bit-identical to
    the oracle's plain GROUP BY — proving the rewrite is lossless."""
    from creek_spark.operators.skew import salted_aggregate

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        dec("l_quantity").alias("_qty_dec"),
        "l_extendedprice",
        "l_orderkey",
    )
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        [
            ("_qty_dec", "sum", "_sum_qty_dec"),
            ("l_extendedprice", "count", "n_rows"),
            ("l_extendedprice", "min", "min_price"),
            ("l_extendedprice", "max", "max_price"),
        ],
        salt_col="l_orderkey",
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("_sum_qty_dec").cast("double").alias("sum_qty"),
        "n_rows",
        "min_price",
        "max_price",
    )


@register(
    "skew_salted_join",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    "skew",
)
def skew_salted_join(spark, sf_dir):
    """Salted shuffle join: the big (fact) side derives a deterministic
    16-way salt from its own row id and the build side is replicated
    once per salt, so a hot join key spreads over 16 reducers instead
    of serializing on one — the explicit fallback when the build side
    exceeds the broadcast threshold and AQE's skew splitting can't help
    (e.g. a single monster key inside one shuffle block).  Result is
    provably identical to the plain join (the oracle)."""
    from creek_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", dec("l_quantity").alias("_qty_dec")
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, "l_orderkey", salt_col="l_orderkey", n_salts=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("_qty_dec").cast("double").alias("sum_qty"),
    )


@register(
    "ts_rolling_features",
    """
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER wr AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER wr AS DOUBLE) AS sum_1h,
           epoch_us(ts) - lag(epoch_us(ts)) OVER wl AS gap_us
    FROM events
    WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW),
           wl AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "timeseries",
)
def ts_rolling_features(spark, sf_dir):
    """Per-user rolling event features: trailing-1-hour count and exact
    decimal sum (RANGE frame over epoch microseconds — an integer order
    key both engines share), plus inter-event gap via lag.  Both windows
    partition on user_id, so the whole query is ONE per-user shuffle; the
    range frame is streamed by the window operator, never materialized."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    wr = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_599_999_999, Window.currentRow)
    )
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(wr).cast("bigint").alias("n_1h"),
        F.sum(dec("value", 14, 2)).over(wr).cast("double").alias("sum_1h"),
        (us - F.lag(us).over(wl)).alias("gap_us"),
    )


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
    "sketch_histogram_quantiles",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             CAST(floor(CAST(value AS DOUBLE) / 5.0) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3),
    m AS (SELECT event_type, bin, CAST(SUM(n) AS BIGINT) AS n
          FROM h GROUP BY 1, 2),
    c AS (SELECT event_type, bin,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
                 SUM(n) OVER (PARTITION BY event_type) AS total
          FROM m)
    SELECT event_type,
           CAST(MAX(total) AS BIGINT) AS n_total,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.5 * CAST(total AS DOUBLE))
                                          AS BIGINT)
                         THEN bin END) AS DOUBLE) * 5.0 AS p50_est,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.9 * CAST(total AS DOUBLE))
                                          AS BIGINT)
                         THEN bin END) AS DOUBLE) * 5.0 AS p90_est,
           CAST(MIN(CASE WHEN cum >= CAST(ceil(0.99 * CAST(total AS DOUBLE))
                                          AS BIGINT)
                         THEN bin END) AS DOUBLE) * 5.0 AS p99_est
    FROM c GROUP BY event_type
    """,
    "sketches",
)
def sketch_histogram_quantiles(spark, sf_dir):
    """Mergeable histogram-sketch rollup → quantile estimates: per-hour
    fixed-width histograms (the stored tier a stream sink appends to) are
    merged across all hours per event_type, and p50/p90/p99 are answered
    from the merged counts alone — never the raw events.  Histogram merge
    is EXACT (bin counts add), so unlike t-digest/KLL the rollup is
    deterministic and oracle-checked.  One scan builds the tier; every
    later exchange carries bin-count rows (|types|×|hours|×|bins|)."""
    from creek_spark.operators.sketches import (
        histogram_quantiles,
        histogram_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    hist = histogram_sketch(
        ev, "value", bin_width=5.0, time_col="ts", bucket="hour",
        group_cols=["event_type"],
    )
    return histogram_quantiles(
        hist, [0.5, 0.9, 0.99], bin_width=5.0, group_cols=["event_type"]
    )


@register(
    "ts_anomaly_zscore",
    """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value AS DECIMAL(14,2))
                      * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS svv
      FROM events GROUP BY event_type)
    SELECT event_id, event_type, value,
           (CAST(value AS DOUBLE) - sv / CAST(n AS DOUBLE))
             / sqrt(greatest((svv - (sv * sv) / CAST(n AS DOUBLE))
                             / CAST(n AS DOUBLE), 1e-12)) AS z
    FROM events JOIN s USING (event_type)
    WHERE abs((CAST(value AS DOUBLE) - sv / CAST(n AS DOUBLE))
              / sqrt(greatest((svv - (sv * sv) / CAST(n AS DOUBLE))
                              / CAST(n AS DOUBLE), 1e-12))) > 2.5
    """,
    "timeseries",
)
def ts_anomaly_zscore(spark, sf_dir):
    """Population z-score outlier detection per event_type: exact decimal
    sum/sum-of-squares give deterministic mean/variance (one small agg,
    broadcast back), and |z| > 2.5 flags anomalous events in the same
    scan.  sqrt/+,-,*,/ are IEEE-deterministic, so flagged rows AND their
    z values are bit-identical to the oracle.  At 100 TB this is one scan
    + one |types|-row broadcast — the grouped-stats pattern that replaces
    a per-row Python scorer."""
    ev = _t(spark, sf_dir, "events")
    vd = dec("value", 14, 2)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(vd).cast("double").alias("sv"),
        F.sum(vd * vd).cast("double").alias("svv"),
    )
    nD = F.col("n").cast("double")
    mean = F.col("sv") / nD
    var = (F.col("svv") - (F.col("sv") * F.col("sv")) / nD) / nD
    z = (F.col("value").cast("double") - mean) / F.sqrt(
        F.greatest(var, F.lit(1e-12))
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > F.lit(2.5))
        .select("event_id", "event_type", "value", z.alias("z"))
    )
