"""Catalog domain: the classic TPC-H query shapes, adapted to the
driver's leaner star schema (no partsupp table; no commit/receipt dates,
phone, or comment columns — filters are re-targeted onto columns that
exist).  Together with q1/q3/q5 in queries_relational this covers the
decision-support shapes: exists/not-exists semi-joins, correlated scalar
subqueries, disjunctive multi-column predicates, left-join histograms,
having-filtered in-subqueries, ratio-of-sums reports, and argmax rows.

Every float aggregate follows the decimal-sandwich rules from queries.py
so Spark and DuckDB agree bit-for-bit.

Scale notes (100 TB design stance): every query keeps dims broadcast,
facts shuffled at most once on their join key, and aggregations partial
(map-side combine) — asserted for representative plans in
tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.plans import broadcast_if_small
from creek_spark.queries import _t, dec, register


def _revenue():
    one = F.lit(1).cast("decimal(4,2)")
    return dec("l_extendedprice") * (one - dec("l_discount", 4, 2))


REV_SQL = """CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"""


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    "tpch",
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS → left-semi hash join on orderkey (the only
    shuffle), then a tiny hash agg on priority."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP'1996-07-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP'1996-10-01'"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
    "tpch",
    headline=True,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan+filter+agg — no shuffle beyond the final
    single-row combine; predicates push to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP'1996-01-01'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP'1997-01-01'"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount", 4, 2))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, CAST(SUM(vol) AS DOUBLE) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 {REV_SQL} AS vol
          FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN customer ON c_custkey = o_custkey
               JOIN nation n1 ON s_nationkey = n1.n_nationkey
               JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01') t
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "tpch",
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    Both nation dims broadcast; lineitem↔orders is the only big shuffle."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP'1996-01-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP'1998-01-01'"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol END) AS DOUBLE)
                / CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 n2.n_name AS supp_nation, {REV_SQL} AS vol
          FROM lineitem JOIN part ON p_partkey = l_partkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation n1 ON c_nationkey = n1.n_nationkey
               JOIN region ON n1.n_regionkey = r_regionkey
               JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01') t
    GROUP BY o_year
    """,
    "tpch",
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional revenue per year —
    ratio of two exact decimal sums (numerator CASE has no ELSE: SUM
    skips NULLs identically in both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP'1996-01-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP'1998-01-01'"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = _revenue().alias("vol")
    base = (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .join(broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("supp_nation"),
            vol,
        )
    )
    share = F.when(F.col("supp_nation") == "NATION_5", F.col("vol"))
    return base.groupBy("o_year").agg(
        (
            F.sum(share).cast("double") / F.sum("vol").cast("double")
        ).cast("double").alias("mkt_share")
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name, CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "tpch",
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: top-20 customers by returned-item revenue in a quarter.
    TopK via global sort of the (small) post-agg result."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP'1996-10-01'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP'1997-01-01'"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) t
    GROUP BY c_count
    """,
    "tpch",
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: orders-per-customer histogram via conditional left join
    (join predicate, not post-filter — customers with zero matches count
    as 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("bigint").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@register(
    "q14_promo_revenue",
    f"""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol END) AS DOUBLE)
                / CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS promo_revenue
    FROM (SELECT p_type, {REV_SQL} AS vol
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE l_shipdate >= TIMESTAMP '1997-09-01'
            AND l_shipdate < TIMESTAMP '1997-10-01') t
    """,
    "tpch",
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: promo share of one month's revenue; part dim broadcast."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP'1997-09-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP'1997-10-01'"))
    )
    p = _t(spark, sf_dir, "part")
    base = li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey).select(
        "p_type", _revenue().alias("vol")
    )
    promo = F.when(F.col("p_type") == "PROMO", F.col("vol"))
    return base.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum("vol").cast("double")
        ).cast("double").alias("promo_revenue")
    )


@register(
    "q15_top_supplier",
    f"""
    WITH rev AS (SELECT l_suppkey AS supplier_no,
                        CAST(SUM({REV_SQL}) AS DOUBLE) AS total_revenue
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                   AND l_shipdate < TIMESTAMP '1997-04-01'
                 GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    "tpch",
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: argmax supplier by quarterly revenue.  The max is a
    one-row aggregate broadcast back against the supplier revenue table
    — no unpartitioned window forcing the post-agg result into a single
    task (suppliers grow with the corpus)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP'1997-01-01'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP'1997-04-01'"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_qty_revenue",
    """
    WITH pa AS (SELECT l_partkey AS pk,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE) AS avg_qty
                FROM lineitem GROUP BY l_partkey)
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
         JOIN pa ON pa.pk = l_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
    """,
    "tpch",
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery (per-part avg
    quantity) decorrelated into a broadcast-joined pre-aggregate; the
    avg is sum(decimal)/count so both engines divide identical values."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(dec("l_quantity")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q18_large_volume",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "tpch",
    headline=True,
)
def q18_large_volume(spark, sf_dir):
    """TPC-H Q18: large-volume orders.  ``o_orderkey`` is unique, so the
    oracle's per-(customer, order, …) SUM equals the per-order SUM the
    HAVING subquery already computes — aggregate lineitem ONCE, filter
    > 300 (a tiny survivor set), broadcast it against orders, broadcast
    customer, TakeOrdered.  ONE lineitem scan and one shuffle total (the
    previous shape scanned lineitem twice and re-aggregated the join
    fanout)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("_sq"))
        .where(F.col("_sq") > 300)
    )
    # big grows linearly with sf (~60k orderkeys/sf past the HAVING):
    # size-gate the hint — Catalyst's non-CBO estimate for the aggregate
    # is lineitem-sized, so past bench scale the static hint drops and
    # AQE decides from the ACTUAL post-shuffle size (still a broadcast
    # whenever big truly fits; never a forced driver OOM at 100 TB)
    return (
        o.join(broadcast_if_small(big), o.o_orderkey == big.l_orderkey)
        .join(broadcast_if_small(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("_sq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size >= 1 AND p_size <= 10
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size >= 1 AND p_size <= 15
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size >= 1 AND p_size <= 20
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    "tpch",
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive predicates spanning both join sides —
    stays one broadcast hash join with the OR applied post-join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")

    def band(brand, size_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_hi)
            & (F.col("l_quantity") >= q_lo)
            & (F.col("l_quantity") <= q_hi)
        )

    cond = (
        band("Brand#1", 10, 1, 11)
        | band("Brand#2", 15, 10, 20)
        | band("Brand#3", 20, 20, 30)
    )
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


@register(
    "q22_global_sales",
    """
    WITH pool AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
                  WHERE c_nationkey < 10),
    avg_bal AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS ab
                FROM pool WHERE c_acctbal > 0.0)
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM pool JOIN nation ON c_nationkey = n_nationkey, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n_name
    """,
    "tpch",
)
def q22_global_sales(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no *recent*
    orders — global scalar aggregate broadcast via cross join + anti
    join on filtered orders (country-code prefix replaced by a
    nationkey pool: the schema has no phone column; the recency filter
    keeps the result non-empty on the synthetic data, where every
    customer has some historical order)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_nationkey") < 10)
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.expr("TIMESTAMP'1999-01-01'")
    )
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(dec("c_acctbal")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q9_profit_by_nation_year",
    f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 {REV_SQL}
                   - CAST(p_retailprice AS DECIMAL(12,2))
                     * CAST(l_quantity AS DECIMAL(12,2)) AS amount
          FROM lineitem JOIN part ON p_partkey = l_partkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN nation ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%gear%') t
    GROUP BY nation, o_year
    """,
    "tpch",
)
def q9_profit_by_nation_year(spark, sf_dir):
    """TPC-H Q9 shape: product-line profit by supplier nation and year.
    The schema has no partsupp, so supply cost is proxied by
    p_retailprice × quantity — the join/agg shape (4 joins + LIKE filter
    + two-column rollup) is what's exercised."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = _revenue() - dec("p_retailprice") * dec("l_quantity")
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .join(broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
    )


@register(
    "q16_part_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13)
    GROUP BY p_brand, p_type, p_size
    """,
    "tpch",
)
def q16_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    (lineitem stands in for the absent partsupp as the part↔supplier
    bridge).  COUNT(DISTINCT) expands to the standard two-phase
    distinct-aggregate plan; the part filter broadcasts."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q21_suppliers_waiting",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    "tpch",
)
def q21_suppliers_waiting(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper in
    multi-supplier finalized orders.

    The correlated EXISTS + NOT EXISTS both range over per-order supplier
    sets, so instead of two self-joins (which would compute the late set
    twice — Spark does not CSE across join branches) each predicate
    becomes a windowed set-statistic over ONE computation of its input,
    partitioned by l_orderkey:
      * NOT EXISTS (other late supplier)  ⇔  min=max supplier over the
        late rows of the order (exactly one distinct late supplier);
      * EXISTS (other supplier shipped)   ⇔  distinct-supplier count ≥ 2
        over the order's lineitems, computed as a partial-aggregated
        groupBy reusing the same orderkey hash partitioning.
    One scan of lineitem per predicate, one shuffle each, both on the
    same key → the final equi-join is co-partitioned (no extra
    exchange); the supplier dim is broadcast.

    'Late' is l_shipdate > o_orderdate + 60 days (this schema has no
    commit/receipt dates; reference shape preserved)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)  # fact-fact: shuffle join
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    w = Window.partitionBy("l_orderkey")
    sole = (
        late.withColumn("_smin", F.min("l_suppkey").over(w))
        .withColumn("_smax", F.max("l_suppkey").over(w))
        .where(F.col("_smin") == F.col("_smax"))  # NOT EXISTS other late
        .select("l_orderkey", "l_suppkey")
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("_nsupp"))
        .where(F.col("_nsupp") >= 2)  # EXISTS another supplier
        .select("l_orderkey")
    )
    return (
        sole.join(multi, "l_orderkey", "left_semi")
        .join(broadcast_if_small(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@register(
    "q2_min_cost_supplier",
    f"""
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk, MIN({REV_SQL}) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    elig AS (
      SELECT ps.pk, ps.sk, ps.cost, s_acctbal, s_name, n_name
      FROM ps JOIN supplier ON s_suppkey = sk
              JOIN nation ON n_nationkey = s_nationkey
              JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'),
    best AS (SELECT pk, MIN(cost) AS mincost FROM elig GROUP BY pk)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           CAST(e.cost AS DOUBLE) AS supplycost
    FROM part JOIN elig e ON p_partkey = e.pk
              JOIN best b ON b.pk = e.pk AND e.cost = b.mincost
    WHERE p_size <= 5 AND p_type = 'LARGE'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    "tpch",
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: min-cost supplier per part within a region (the
    correlated-MIN subquery).  Supply cost is the minimum discounted
    price a (part, supplier) pair ever shipped at — lineitem again
    standing in for partsupp.  The correlated MIN is a per-part window
    minimum over the region-eligible pairs (one shuffle on partkey);
    decimal costs make the min and the equality engine-exact.  Dims
    (supplier/nation/region/filtered part) all broadcast; the final
    top-100 is TakeOrdered, no global sort."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") <= 5) & (F.col("p_type") == "LARGE")
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(_revenue()).alias("cost"))
    elig = (
        ps.join(broadcast_if_small(s), ps.sk == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("pk", "sk", "cost", "s_acctbal", "s_name", "n_name")
    )
    w = Window.partitionBy("pk")
    best = elig.withColumn("mincost", F.min("cost").over(w)).where(
        F.col("cost") == F.col("mincost")
    )
    return (
        best.join(broadcast_if_small(p), best.pk == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            F.col("cost").cast("double").alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q11_important_stock",
    f"""
    WITH value_ps AS (
      SELECT l_partkey AS p_partkey, SUM({REV_SQL}) AS val
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12')
      GROUP BY l_partkey),
    total AS (SELECT SUM(val) AS tot FROM value_ps)
    SELECT p_partkey, CAST(val AS DOUBLE) AS value
    FROM value_ps, total
    WHERE val * 1000 > tot
    """,
    "tpch",
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part value within a supplier-nation group,
    kept only above a fraction of the GLOBAL total (scalar subquery).
    The global total is a 1-row broadcast cross join; the threshold
    compare is `val * 1000 > tot` — integer-scaled decimal, exact in
    both engines (a decimal-fraction multiply would hit each engine's
    different precision-inference rules)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_12")
    )
    value_ps = (
        li.join(broadcast_if_small(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(_revenue()).alias("val"))
    )
    total = value_ps.agg(F.sum("val").alias("tot"))
    return (
        value_ps.crossJoin(F.broadcast(total))
        .where(F.col("val") * 1000 > F.col("tot"))
        .select("p_partkey", F.col("val").cast("double").alias("value"))
    )


@register(
    "q12_late_priority",
    """
    SELECT l_linestatus AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 45 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
    "tpch",
)
def q12_late_priority(spark, sf_dir):
    """TPC-H Q12 shape: late-shipment priority histogram (l_linestatus
    stands in for the absent l_shipmode; ship-vs-order lateness for the
    absent commit/receipt dates).  One fact-fact join shuffled on the
    order key, conditional aggregation entirely map-side partial."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q20_promo_suppliers",
    """
    WITH q_ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey),
    q_p AS (SELECT pk, SUM(q) AS qtot FROM q_ps GROUP BY pk),
    promo AS (SELECT p_partkey FROM part
              WHERE p_name LIKE 'red%' OR p_name LIKE 'hot%'),
    sel AS (SELECT DISTINCT sk FROM q_ps
            JOIN q_p USING (pk)
            JOIN promo ON p_partkey = pk
            WHERE q * 4 > qtot)
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier JOIN sel ON s_suppkey = sk
                  JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_4', 'NATION_5', 'NATION_6')
    """,
    "tpch",
)
def q20_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers holding an outsized share of promo
    parts' volume in a year — the nested IN-subquery chain (partkeys by
    name → supplier share vs part total → suppliers in nations).  The
    share test `q * 4 > qtot` is integer-scaled decimal (exact both
    engines); the part total is a window sum over the (part, supp)
    aggregate, so the fact scans ONCE (a second q_p aggregation would
    re-scan lineitem — Spark does not CSE across join branches); the
    qualifying supplier set is a broadcast semi join into supplier."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_4", "NATION_5", "NATION_6")
    )
    promo = _t(spark, sf_dir, "part").where(
        F.col("p_name").like("red%") | F.col("p_name").like("hot%")
    ).select("p_partkey")
    q_ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.sum(dec("l_quantity")).alias("q"))
    sel = (
        q_ps.withColumn("qtot", F.sum("q").over(Window.partitionBy("pk")))
        .join(broadcast_if_small(promo), F.col("pk") == F.col("p_partkey"))
        .where(F.col("q") * 4 > F.col("qtot"))
        .select("sk")
        .distinct()
    )
    # sel (excess-stock suppliers) grows with sf — same gate rationale
    # as q18's big: let AQE runtime-size the semi-join build side
    return (
        s.join(broadcast_if_small(sel), s.s_suppkey == F.col("sk"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
    )
