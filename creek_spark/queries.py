"""The query catalog: every operator claim from SURVEY.md §2, as a pair of
(PySpark DataFrame program, ANSI-SQL DuckDB oracle).

Contract (driver, __spark_entry__.py): each catalog entry's Spark result
must hash-match its oracle run on the same parquet — row count, schema,
and order-insensitive value hash with columns sorted by name.  Rules this
file follows to make float results bit-identical across engines:

  * Aggregated doubles use the "decimal sandwich": cast inputs to DECIMAL
    (scale ≥ data precision + 2 so no double→decimal tie can occur), sum
    exactly, cast the exact sum to DOUBLE.  Both engines produce the same
    scaled integer, hence the same double.
  * Multiplications cast each factor to decimal first (exact product,
    bounded precision), never decimal-of-product-of-doubles.
  * Derived doubles only go through IEEE-deterministic ops (+,-,*,/,sqrt)
    on identical inputs; no libm transcendentals (exp/ln differ per libm).
  * Ranking columns always carry a deterministic tiebreak.
  * Int widths are aligned (DuckDB SUM(int)→HUGEINT, len()→BIGINT, …) by
    explicit casts in the SQL.

Every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from creek_spark.plans import broadcast_if_small
from creek_spark.sources import read_table


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    category: str
    headline: bool = False  # include in bench.py


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, category: str, headline: bool = False):
    def deco(fn):
        QUERIES[name] = Query(name, fn, oracle, category, headline)
        return fn

    return deco


def catalog() -> dict[str, Query]:
    """The whole catalog.  This module holds part 1; importing each
    later part registers its queries, so QUERIES fills in this order."""
    import creek_spark.queries_ext  # noqa: F401 — part 2
    import creek_spark.queries_northstar  # noqa: F401 — part 3
    import creek_spark.queries_tpch  # noqa: F401 — part 4
    import creek_spark.queries_analytics  # noqa: F401 — part 5
    import creek_spark.queries_graph  # noqa: F401 — part 6
    import creek_spark.queries_r4  # noqa: F401 — part 7
    import creek_spark.queries_r6  # noqa: F401 — part 8
    import creek_spark.queries_r6b  # noqa: F401 — part 9
    import creek_spark.queries_r6c  # noqa: F401 — part 10
    import creek_spark.queries_r11  # noqa: F401 — part 11

    return QUERIES


def _t(spark, sf_dir, name):
    return read_table(spark, sf_dir, name)


def _fan_out(df: DataFrame) -> DataFrame:
    """Fan a tiny id/manifest frame out to the session's full
    parallelism before a heavy per-row Python stage (media synth +
    decode).  Spark sizes parquet splits by BYTES, but decode work
    scales with ROWS × per-row media size: a manifest of ids is a
    handful of MB — one split — while the decode it drives is hours of
    CPU, so without this every core but one sits idle (measured at
    sf0.1: the 5000-image JPEG round-trip ran in ONE task, 6.6 s vs
    ~0.4 s of 32-core codec work).  The exchange carries only the id
    column; blobs are synthesized/decoded AFTER it and never shuffle.
    defaultParallelism keeps the fan-out scale-adaptive (local core
    count here, cluster total cores in production)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def dec(col, p=12, s=2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


def dsum(col, alias, p=12, s=2):
    """Exact decimal sum surfaced as double (cross-engine deterministic)."""
    return F.sum(dec(col, p, s)).cast("double").alias(alias)


# =====================================================================
# aggregations
# =====================================================================


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           -- decimal→double via VARCHAR: DuckDB's direct cast is not
           -- correctly rounded past 2^53 (see profile_correlations);
           -- the scale-6 price-product sums here sit at ~53 bits per
           -- group already at sf0.1, so the string route keeps this
           -- oracle bit-exact at any scale factor
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    "aggregation",
    headline=True,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan → filter (pushed down) → hash aggregate.
    Catalyst runs partial+final aggregation automatically."""
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    charge = disc_price * (one + dec("l_tax", 4, 2))
    return (
        li.where(F.col("l_shipdate") <= F.expr("TIMESTAMP'2000-12-01'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(dec("l_discount", 4, 2)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total,
           true AS approx_ok
    FROM orders GROUP BY o_orderpriority
    """,
    "aggregation",
)
def agg_distinct(spark, sf_dir):
    """Exact + approximate distinct counts.  HLL sketch values are
    engine-specific, so the approx side is verified as an error-bound
    check: |approx − exact| / exact ≤ 0.15 must hold (Spark's default
    rsd is 0.05), surfaced as a hash-matched boolean."""
    o = _t(spark, sf_dir, "orders")
    exact = F.countDistinct("o_custkey")
    approx = F.approx_count_distinct("o_custkey")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact.alias("n_customers"),
        dsum("o_totalprice", "sum_total"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            / exact.cast("double")
            <= 0.15
        ).alias("approx_ok"),
    )


_GROUPING_AGG_SQL = """SELECT '{src}' AS src, l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY {clause}"""


@register(
    "agg_grouping_multi",
    "\n    UNION ALL\n    ".join(
        _GROUPING_AGG_SQL.format(src=src, clause=clause)
        for src, clause in [
            ("rollup", "ROLLUP (l_returnflag, l_linestatus)"),
            ("cube", "CUBE (l_returnflag, l_linestatus)"),
            ("gsets", "GROUPING SETS ((l_returnflag), (l_linestatus), ())"),
        ]
    ),
    "aggregation",
)
def agg_grouping_multi(spark, sf_dir):
    """ROLLUP + CUBE + GROUPING SETS over the same keys in one result,
    tagged by src — exercises all three multi-grouping APIs (rollup()/
    cube() DataFrame ops and SQL GROUPING SETS)."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty")]

    def tag(df, src):
        return df.select(
            F.lit(src).alias("src"), "l_returnflag", "l_linestatus", "n", "sum_qty"
        )

    r = tag(li.rollup("l_returnflag", "l_linestatus").agg(*aggs), "rollup")
    c = tag(li.cube("l_returnflag", "l_linestatus").agg(*aggs), "cube")
    li.createOrReplaceTempView("lineitem")
    g = tag(
        spark.sql(
            """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            """
        ),
        "gsets",
    )
    return r.unionByName(c).unionByName(g)


_PIVOT_SQL = """WITH pv AS (
      SELECT l_returnflag,
             COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O'
                        THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS "O",
             COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F'
                        THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS "F"
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'O' AS l_linestatus, "O" AS sum_qty FROM pv
    UNION ALL
    SELECT l_returnflag, 'F' AS l_linestatus, "F" AS sum_qty FROM pv"""


@register("pivot_unpivot", _PIVOT_SQL, "aggregation")
def pivot_unpivot(spark, sf_dir):
    """Pivot wide then unpivot back to long — round-trips both reshaping
    operators (groupBy().pivot() and DataFrame.unpivot, Spark ≥3.4) in one
    verifiable result."""
    li = _t(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
    )
    pv = pv.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("F"),
    )
    return pv.unpivot(
        ids=["l_returnflag"],
        values=["O", "F"],
        variableColumnName="l_linestatus",
        valueColumnName="sum_qty",
    )


# =====================================================================
# joins
# =====================================================================


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    "join",
    headline=True,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → two hash joins → agg → top-k.
    customer grows with scale factor (~150k rows × sf), so the broadcast
    hint is size-gated: under the session threshold it broadcasts (the
    bench-scale plan); over it the join falls back to SMJ where the
    session's runtime Bloom filter prunes the fact side
    (tests/test_plans.py::test_q3_q5_oracle_green_without_broadcast)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr("TIMESTAMP'1998-01-01'")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.expr("TIMESTAMP'1998-01-01'")
    )
    one = F.lit(1).cast("decimal(4,2)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_regional_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    "join",
    headline=True,
)
def q5_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join; the orders↔lineitem join shuffles on
    orderkey only.  region (5 rows) and nation (25 rows) are
    fixed-cardinality → unconditional broadcast; customer and supplier
    grow with scale factor → size-gated hint (SMJ + runtime Bloom filter
    past the threshold)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP'1996-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP'1998-01-01'"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(4,2)")
    revenue = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(
            broadcast_if_small(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "join_semi_anti",
    """
    SELECT 'semi' AS which, c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    UNION ALL
    SELECT 'anti' AS which, c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "join",
)
def join_semi_anti(spark, sf_dir):
    """EXISTS → left-semi and NOT EXISTS → left-anti over the same dims,
    tagged by `which` in one result."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    o = _t(spark, sf_dir, "orders")
    semi = (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select(F.lit("semi").alias("which"), "c_custkey", "c_name")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.lit("anti").alias("which"), "c_custkey", "c_name")
    )
    return semi.unionByName(anti)


@register(
    "join_full_outer",
    """
    WITH ca AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sa AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(ca.nk, sa.nk) AS nationkey, n_cust, n_supp
    FROM ca FULL OUTER JOIN sa ON ca.nk = sa.nk
    """,
    "join",
)
def join_full_outer(spark, sf_dir):
    ca = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sa = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return ca.join(sa, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "join_range_bands",
    """
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
    FROM orders
    JOIN (VALUES (0, 100000, 'low'), (100000, 300000, 'mid'),
                 (300000, 600000, 'high')) b(lo, hi, band)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
    "join",
)
def join_range_bands(spark, sf_dir):
    """Theta/range join: non-equi condition against a broadcast band table
    (BroadcastNestedLoopJoin — fine because one side is tiny)."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [(0, 100000, "low"), (100000, 300000, "mid"), (300000, 600000, "high")],
        "lo long, hi long, band string",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_total"),
        )
    )


@register(
    "join_asof",
    """
    WITH purch AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
         s AS (SELECT user_id, ts, MAX(value) AS value FROM events
               WHERE event_type = 'signup' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts,
           s.ts AS ts_asof, s.value AS value_asof
    FROM purch p ASOF LEFT JOIN s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
    "join",
    headline=True,
)
def join_asof(spark, sf_dir):
    """As-of join: each purchase matched to the latest signup at/before it
    (creek_spark.operators.asof_join: union + last(ignoreNulls) window,
    one shuffle, no UDF)."""
    from creek_spark.operators import asof_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(
        purch, signup, on=["user_id"], left_time="ts", right_time="ts",
        value_cols=["value"],
    )


# =====================================================================
# window functions
# =====================================================================


@register(
    "window_running_lag",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
                (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "window",
    headline=True,
)
def window_running_lag(spark, sf_dir):
    """Running sum + row_number + lag/lead over one window spec — Spark
    evaluates all four in a single Window physical operator (one shuffle)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).alias("rn"),
        F.sum(dec("o_totalprice")).over(wsum).cast("double").alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@register(
    "window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders) t
    WHERE rnk <= 3
    """,
    "window",
)
def window_topk_per_group(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
    )


# =====================================================================
# sorts / limits / set ops
# =====================================================================


@register(
    "sort_limit_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
    "sort",
)
def sort_limit_topk(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + merge on the driver, no full sort at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(25)
    )


@register(
    "set_ops",
    """
    SELECT 'intersect' AS setop, custkey FROM (
      SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
      INTERSECT
      SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997) t1
    UNION ALL
    SELECT 'except' AS setop, custkey FROM (
      SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997) t2
    UNION ALL
    SELECT 'union' AS setop, custkey FROM (
      SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
      UNION
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000) t3
    """,
    "setop",
)
def set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT / UNION(distinct) in one tagged result —
    exercises all three set operators (intersect/subtract/union+distinct)."""
    o = _t(spark, sf_dir, "orders")
    y96 = o.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y97 = o.where(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    c = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey")
    )
    big = o.where(F.col("o_totalprice") > 450000).select(
        F.col("o_custkey").alias("custkey")
    )

    def tag(df, name):
        return df.select(F.lit(name).alias("setop"), "custkey")

    return (
        tag(y96.intersect(y97), "intersect")
        .unionByName(tag(y96.subtract(y97), "except"))
        .unionByName(tag(c.union(big).distinct(), "union"))
    )
