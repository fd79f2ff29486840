"""Query catalog, part 10: classic analytics the reference's users reach
for next — Pareto-frontier (skyline) selection, degree-oriented triangle
counting on the co-purchase graph, a deterministic Bloom-filter
membership sketch, time-weighted averages (TWAP), vocabulary/hapax
statistics, Benford first-digit DQ screening, per-group OLS response
curves, and an open-order backlog timeline.

Same determinism rules as queries.py: exact integer/decimal aggregates
under every float, no libm transcendentals at runtime (Benford's
expected frequencies are shared literal constants formatted into BOTH
engines' plans), md5 for any sampling decision, and unique tiebreaks on
every ranking.  Scale notes are on each query — no corpus-scale
order-only or low-cardinality-partition windows (the one day-domain-
bounded cumulative is allow-listed in tests/test_plans.py with the
other summary walkers).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.operators.distributed import const_partition
from creek_spark.plans import broadcast_if_small
from creek_spark.queries import _fan_out, _t, dec, register
from creek_spark.queries_ext import SQL_NORM


# =====================================================================
# skyline / Pareto frontier
# =====================================================================

SKYLINE_ORACLE = """
WITH p AS (SELECT p_brand, p_partkey, p_name, p_size,
                  CAST(p_retailprice AS DECIMAL(12,2)) AS price FROM part)
SELECT p_brand, p_partkey, p_name,
       CAST(price AS DOUBLE) AS price, p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.p_brand = a.p_brand
    AND b.price <= a.price AND b.p_size >= a.p_size
    AND (b.price < a.price OR b.p_size > a.p_size))
ORDER BY p_brand, price, p_partkey
"""


@register("parts_skyline", SKYLINE_ORACLE, "analytics")
def parts_skyline(spark, sf_dir):
    """Per-brand Pareto frontier (skyline): parts not dominated on
    (price ↓, size ↑) — the multi-criteria shortlist operator.

    Scale shape: the naive skyline is an O(n²) dominance self-join (the
    oracle's NOT EXISTS).  Here the 2-D structure collapses it to two
    scans: aggregate to (brand, price)-level max sizes, walk the price
    levels once with a distributed running max (segmented_running — no
    per-brand corpus sort; brand cardinality is fixed at 25 while parts
    grow with sf), and a level survives iff every strictly-cheaper
    level's max size is smaller.  Rows at a surviving level are in the
    skyline iff they achieve the level max (equal-price smaller sizes
    are dominated; exact duplicates never dominate each other, so both
    stay — matching NOT EXISTS semantics exactly)."""
    from creek_spark.operators.distributed import segmented_running

    p = _t(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_name", "p_size",
        dec("p_retailprice", 12, 2).alias("price"),
    )
    from creek_spark.operators.cachereg import register_cache

    lvl = p.groupBy("p_brand", "price").agg(F.max("p_size").alias("_lmax"))
    # cache: the ranked level frame feeds both the prev-level join sides
    r = register_cache(
        segmented_running(
            lvl,
            ["p_brand"],
            F.floor(F.col("price")).cast("bigint"),
            [F.col("price")],
            {"_rn": (F.lit(1), "rownum"), "_rmax": (F.col("_lmax"), "max")},
        ).drop("_seg")
    )
    prev = r.select(
        F.col("p_brand").alias("_kb"),
        (F.col("_rn") + F.lit(1)).alias("_kr"),
        F.col("_rmax").alias("_pmax"),
    )
    surv = (
        r.join(
            prev,
            F.col("p_brand").eqNullSafe(F.col("_kb"))
            & (F.col("_rn") == F.col("_kr")),
            "left",
        )
        .where(F.col("_pmax").isNull() | (F.col("_pmax") < F.col("_lmax")))
        .select("p_brand", "price", "_lmax")
    )
    return (
        p.join(surv, ["p_brand", "price"])
        .where(F.col("p_size") == F.col("_lmax"))
        .select(
            "p_brand", "p_partkey", "p_name",
            F.col("price").cast("double").alias("price"),
            "p_size",
        )
        .orderBy("p_brand", "price", "p_partkey")
    )


# =====================================================================
# triangle counting (degree-oriented)
# =====================================================================

TRI_MINSUP = 2

TRIANGLES_ORACLE = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
e AS (SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b
      ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk HAVING COUNT(*) >= {TRI_MINSUP}),
deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        GROUP BY n),
o AS (SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddst
      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
t AS (SELECT x.src AS a, x.dst AS b, y.dst AS c
      FROM o x JOIN o y ON x.src = y.src
                       AND ((x.ddst, x.dst) < (y.ddst, y.dst))
      JOIN o z ON z.src = x.dst AND z.dst = y.dst),
corner AS (SELECT a AS n FROM t UNION ALL SELECT b FROM t
           UNION ALL SELECT c FROM t)
SELECT n AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corner GROUP BY n
ORDER BY n_triangles DESC, p_partkey LIMIT 15
"""


@register("graph_triangles", TRIANGLES_ORACLE, "graph")
def graph_triangles(spark, sf_dir):
    """Triangle participation on the co-purchase graph (parts co-ordered
    in ≥ TRI_MINSUP orders): the 15 parts in the most triangles — the
    cohesion/community-density metric.

    Scale shape: the classic distributed triangle algorithm.  Edges are
    ORIENTED from the (degree, id)-smaller endpoint, so every node's
    out-degree is O(√m) regardless of skew — the wedge self-join is
    Σ out-deg², bounded m^{3/2} total, never degree² of a hub.  The
    closing-edge probe is a hash join on the oriented pair (the {v,w}
    edge, if present, is oriented v→w because the wedge enumerates its
    endpoints in the same (degree, id) total order that oriented the
    edges).  Each triangle is found exactly once; per-corner counts
    come from a 3-way projection union, and top-15 is TakeOrdered under
    a unique tiebreak.  The edge set and the oriented edges are each
    consumed by several joins, so both are registered caches (cachereg —
    callers/bench own the release): without them the static plan
    re-expands the pair-generation subtree once per consumer (the
    round-5 iterative-lineage lesson applied to a DAG)."""
    from creek_spark.operators.cachereg import register_cache

    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a = li.select("ok", F.col("pk").alias("u"))
    b = li.select("ok", F.col("pk").alias("v"))
    e = register_cache(
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= TRI_MINSUP)
        .select("u", "v")
    )
    from creek_spark.operators.graph import triangle_corner_counts

    return (
        triangle_corner_counts(e)
        .select(F.col("n").alias("p_partkey"), "n_triangles")
        .orderBy(F.desc("n_triangles"), "p_partkey")
        .limit(15)
    )


# =====================================================================
# Bloom-filter membership sketch
# =====================================================================

from creek_spark.operators.sketches import BLOOM_K, BLOOM_M  # noqa: E402

_BLOOM_POS_SQL = (
    "CAST('0x' || substr(md5({name} || '#' || CAST(i AS VARCHAR)), 1, 8)"
    f" AS BIGINT) % {BLOOM_M}"
)

BLOOM_ORACLE = f"""
WITH k AS (SELECT unnest([1, 2, 3]) AS i),
cust AS (SELECT c_name AS name FROM customer),
bits AS (SELECT DISTINCT {_BLOOM_POS_SQL.format(name="name")} AS pos
         FROM cust CROSS JOIN k),
probes AS (SELECT s_name AS name, 'supplier' AS grp FROM supplier
           UNION ALL
           SELECT name, 'customer_sample' AS grp FROM cust
           WHERE substr(md5(name), 1, 1) = '0'),
pp AS (SELECT grp, name, {_BLOOM_POS_SQL.format(name="name")} AS pos
       FROM probes CROSS JOIN k),
ph AS (SELECT grp, pp.name, CAST(COUNT(b.pos) AS BIGINT) AS nhit
       FROM pp LEFT JOIN bits b ON pp.pos = b.pos GROUP BY grp, pp.name),
m AS (SELECT grp, ph.name, nhit,
             CASE WHEN c2.name IS NOT NULL THEN 1 ELSE 0 END AS member
      FROM ph LEFT JOIN (SELECT DISTINCT name FROM cust) c2
      ON ph.name = c2.name)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN nhit = {BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_hits,
       CAST(SUM(member) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN nhit = {BLOOM_K} AND member = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM m GROUP BY grp ORDER BY grp
"""


def bloom_summary(bits, cust, sup):
    """bits + the probe frames → the membership/false-positive summary;
    the batch query applies it to ``bloom_bits(cust)``."""
    from creek_spark.operators.sketches import bloom_probe

    probes = sup.withColumn("grp", F.lit("supplier")).unionByName(
        cust.where(F.substring(F.md5("name"), 1, 1) == "0").withColumn(
            "grp", F.lit("customer_sample")
        )
    )
    ph = bloom_probe(bits, probes, "name", m=BLOOM_M, k=BLOOM_K)
    members = cust.distinct().withColumn("_m", F.lit(1))
    m = ph.join(members, "name", "left").select(
        "grp", "nhit", F.coalesce(F.col("_m"), F.lit(0)).alias("member")
    )
    is_hit = (F.col("nhit") == BLOOM_K).cast("int")
    return (
        m.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum(is_hit).cast("bigint").alias("n_bloom_hits"),
            F.sum("member").cast("bigint").alias("n_members"),
            F.sum(is_hit * (1 - F.col("member")))
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .orderBy("grp")
    )


@register("sketch_bloom_filter", BLOOM_ORACLE, "sketch")
def sketch_bloom_filter(spark, sf_dir):
    """Bloom-filter membership sketch (m=8192 bits, k=3 md5-derived
    hashes): build the filter over customer names, probe it with all
    supplier names (true negatives → measured false-positive count) and
    an md5-chosen 1/16 customer sample (true positives — Bloom filters
    have no false negatives, asserted in tests).

    Scale shape: the bit array is a ≤m-row distinct aggregate —
    broadcastable at any corpus size — and probes join it on the bit
    position; per-probe verdicts are a count-of-matched-positions == k
    aggregate.  Everything is exact integers.  Bit sets are mergeable
    (bits of a union = union of bits)."""
    from creek_spark.operators.sketches import bloom_bits

    cust = _t(spark, sf_dir, "customer").select(F.col("c_name").alias("name"))
    sup = _t(spark, sf_dir, "supplier").select(F.col("s_name").alias("name"))
    return bloom_summary(
        bloom_bits(cust, "name", m=BLOOM_M, k=BLOOM_K), cust, sup
    )


# =====================================================================
# time-weighted average (TWAP)
# =====================================================================

TWAP_ORACLE = """
WITH x AS (
  SELECT event_type, event_id, ts, date_trunc('hour', ts) AS hr,
         CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
  FROM events),
d AS (
  SELECT event_type, cents,
         CAST(epoch_us(COALESCE(
                lead(ts) OVER (PARTITION BY event_type, hr
                               ORDER BY ts, event_id),
                hr + INTERVAL 1 HOUR)) AS BIGINT)
           - CAST(epoch_us(ts) AS BIGINT) AS dt_us
  FROM x),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(dt_us) AS BIGINT) AS sdt,
         SUM(CAST(cents AS DECIMAL(19,0)) * CAST(dt_us AS DECIMAL(19,0)))
           AS snum
  FROM d GROUP BY event_type)
SELECT event_type, n_events,
       CAST(sdt AS DOUBLE) / 3600000000.0 AS hours_observed,
       CAST(snum AS DOUBLE) / CAST(sdt AS DOUBLE) / 100.0 AS twap
FROM s ORDER BY event_type
"""


@register("ts_time_weighted_avg", TWAP_ORACLE, "timeseries")
def ts_time_weighted_avg(spark, sf_dir):
    """Time-weighted average value (TWAP) per event type: each
    observation holds until the next one in its hour (the last holds to
    the hour boundary), weights are exact epoch-µs spans, and the
    weighted mean is one double division of exact decimal sums.

    Scale shape: the only window is lead() partitioned by
    (event_type, hour) — partition count grows with the time domain and
    each partition holds one type-hour of events, so no corpus-scale
    sorted partition exists; the rest is a single hash aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        (dec("value", 14, 2) * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("event_type", "hr").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        "cents",
        (
            F.unix_micros(
                F.coalesce(
                    F.lead("ts").over(w),
                    F.col("hr") + F.expr("INTERVAL 1 HOUR"),
                )
            )
            - F.unix_micros(F.col("ts"))
        ).alias("dt_us"),
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("dt_us").cast("bigint").alias("sdt"),
        F.sum(
            F.col("cents").cast("decimal(19,0)")
            * F.col("dt_us").cast("decimal(19,0)")
        ).alias("snum"),
    )
    return s.select(
        "event_type",
        "n_events",
        (F.col("sdt").cast("double") / F.lit(3600000000.0)).alias(
            "hours_observed"
        ),
        (
            F.col("snum").cast("double") / F.col("sdt").cast("double") / F.lit(100.0)
        ).alias("twap"),
    ).orderBy("event_type")


# =====================================================================
# vocabulary / hapax statistics
# =====================================================================

VOCAB_ORACLE = f"""
WITH t AS (
  SELECT source, w
  FROM (SELECT source,
               unnest(string_split_regex({SQL_NORM.format(c="text")}, '\\s+'))
                 AS w
        FROM documents)
  WHERE w <> ''),
tf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
       FROM t GROUP BY source, w)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS hapax_share
FROM tf GROUP BY source ORDER BY source
"""


@register("text_vocab_hapax", VOCAB_ORACLE, "text")
def text_vocab_hapax(spark, sf_dir):
    """Per-source vocabulary profile: token count, type (distinct-token)
    count, hapax legomena (frequency-1 types), type-token ratio and the
    hapax share — the Heaps/Zipf-style vocabulary-growth signals used to
    spot synthetic or templated corpora.

    Scale shape: tokenize once, one (source, token) hash aggregate
    (token-keyed, skew bounded by natural word frequencies), one
    per-source fold; ratios are single divisions of exact counts."""
    return vocab_from_tf(vocab_tf_cells(_t(spark, sf_dir, "documents")))


def vocab_tf_cells(docs):
    """Corpus → additive (source, token, count) cells — the sufficient
    statistic of the vocabulary profile (Heaps-law sublinear: one row
    per distinct (source, token))."""
    from creek_spark.functions.text import tokens

    t = docs.select("source", F.explode(tokens("text")).alias("w")).where(
        F.col("w") != ""
    )
    return t.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))


def vocab_from_tf(tf):
    """(source, token, count) cells → the vocabulary profile."""
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    return (
        tf.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            hapax.alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.col("n_types").cast("double") / F.col("n_tokens").cast("double"))
            .alias("type_token_ratio"),
            (F.col("n_hapax").cast("double") / F.col("n_types").cast("double"))
            .alias("hapax_share"),
        )
        .orderBy("source")
    )


# =====================================================================
# Benford first-digit DQ screen
# =====================================================================

# log10(1 + 1/d) — shared literal constants (no runtime log on either
# engine; both plans carry the exact same doubles).
BENFORD_EXPECTED = {
    "1": 0.3010299956639812,
    "2": 0.17609125905568124,
    "3": 0.12493873660829993,
    "4": 0.09691001300805642,
    "5": 0.07918124604762482,
    "6": 0.06694678963061322,
    "7": 0.05799194697768673,
    "8": 0.05115252244738129,
    "9": 0.04575749056067514,
}

# e-notation: DuckDB parses a bare decimal literal as DECIMAL (rounded
# to its width) — an exponent forces a DOUBLE parse, bit-equal to
# Python's repr round-trip and Spark's F.lit.
_BENFORD_CASE = "CASE first_digit " + " ".join(
    f"WHEN '{d}' THEN {v!r}e0" for d, v in BENFORD_EXPECTED.items()
) + " END"

BENFORD_ORACLE = f"""
WITH d AS (
  SELECT substr(CAST(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(14,2)))
                          AS BIGINT) AS VARCHAR), 1, 1) AS first_digit
  FROM orders WHERE o_totalprice >= 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM d),
g AS (SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n
      FROM d GROUP BY first_digit)
SELECT first_digit, n,
       CAST(n AS DOUBLE) / total AS obs_share,
       {_BENFORD_CASE} AS exp_share,
       CAST(n AS DOUBLE) / total - {_BENFORD_CASE} AS dev_share
FROM g CROSS JOIN n ORDER BY first_digit
"""


@register("dq_benford", BENFORD_ORACLE, "quality")
def dq_benford(spark, sf_dir):
    """Benford's-law first-digit screen on order totals: observed vs
    expected leading-digit shares and their deviation — the classic
    fabricated-data tripwire for financial columns.

    Scale shape: one scan, one 9-group aggregate, total broadcast back;
    expected shares are literals (log10 precomputed, identical constants
    in both engines), deviations one double subtraction per digit —
    never a cross-row float sum."""
    d = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor(dec("o_totalprice", 14, 2)).cast("bigint").cast("string"),
                1,
                1,
            ).alias("first_digit")
        )
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("total"))
    exp = F.create_map(
        *[x for kv in BENFORD_EXPECTED.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )[F.col("first_digit")]
    return (
        d.groupBy("first_digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(F.broadcast(n))
        .select(
            "first_digit",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("obs_share"),
            exp.alias("exp_share"),
            (F.col("n").cast("double") / F.col("total") - exp).alias("dev_share"),
        )
        .orderBy("first_digit")
    )


# =====================================================================
# per-brand OLS response (quantity on discount)
# =====================================================================

DISCOUNT_RESPONSE_ORACLE = """
WITH d AS (
  SELECT p.p_brand,
         CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS x,
         CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
s AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM d GROUP BY p_brand),
c AS (
  SELECT p_brand, n,
         CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
           - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS num,
         CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
           - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS den,
         CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0))
           - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS dy
  FROM s)
SELECT p_brand, n AS n_lines,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope_qty_per_pt,
       (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
         / (CAST(den AS DOUBLE) * CAST(dy AS DOUBLE)) AS r2
FROM c WHERE den <> 0 AND dy <> 0
ORDER BY p_brand
"""


@register("discount_qty_response", DISCOUNT_RESPONSE_ORACLE, "analytics")
def discount_qty_response(spark, sf_dir):
    """Per-brand OLS of line quantity on discount points (does
    discounting move volume?): slope and r² from exact integer normal
    equations — the demand-response readout of a pricing experiment.

    Scale shape: one fact scan, the part(brand) side joins through
    plans.broadcast_if_small, a 25-group aggregate carries the six
    sufficient statistics; slope/r² are fixed-order IEEE ratios of exact
    decimal cross-products (same primitive as ts_linear_trend)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (dec("l_discount", 4, 2) * 100).cast("bigint").alias("x"),
        dec("l_quantity", 12, 2).cast("bigint").alias("y"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = li.join(broadcast_if_small(p), li.l_partkey == p.p_partkey)
    s = d.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )

    def d19(c):
        return F.col(c).cast("decimal(19,0)")

    c = s.select(
        "p_brand",
        "n",
        (d19("n") * d19("sxy") - d19("sx") * d19("sy")).alias("num"),
        (d19("n") * d19("sxx") - d19("sx") * d19("sx")).alias("den"),
        (d19("n") * d19("syy") - d19("sy") * d19("sy")).alias("dy"),
    )
    return (
        c.where((F.col("den") != 0) & (F.col("dy") != 0))
        .select(
            "p_brand",
            F.col("n").alias("n_lines"),
            (F.col("num").cast("double") / F.col("den").cast("double")).alias(
                "slope_qty_per_pt"
            ),
            (
                (F.col("num").cast("double") * F.col("num").cast("double"))
                / (F.col("den").cast("double") * F.col("dy").cast("double"))
            ).alias("r2"),
        )
        .orderBy("p_brand")
    )


# =====================================================================
# open-order backlog timeline
# =====================================================================

BACKLOG_ORACLE = """
WITH cl AS (SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE) AS close
            FROM lineitem GROUP BY l_orderkey),
j AS (SELECT CAST(o_orderdate AS DATE) AS od, close
      FROM orders JOIN cl ON cl.l_orderkey = o_orderkey),
d AS (SELECT od AS day, 1 AS delta FROM j
      UNION ALL
      SELECT close + 1 AS day, -1 AS delta FROM j),
s AS (SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM d GROUP BY day)
SELECT day,
       CAST(SUM(d) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS open_orders
FROM s ORDER BY day
"""


def backlog_from_pairs(j):
    """(od, close) per order → the backlog timeline; the batch query
    applies it to the joined fact tables."""
    # one scan: ±1 deltas from a single explode rather than a 2-leg
    # union (a union of two projections re-evaluates the join per leg)
    d = j.select(
        F.explode(
            F.array(
                F.struct(F.col("od").alias("day"), F.lit(1).alias("delta")),
                F.struct(
                    F.date_add("close", 1).alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("x")
    ).select("x.day", "x.delta")
    s = d.groupBy("day").agg(F.sum("delta").cast("bigint").alias("d"))
    w = Window.partitionBy(const_partition("day")).orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        s.withColumn("open_orders", F.sum("d").over(w).cast("bigint"))
        .select("day", "open_orders")
        .orderBy("day")
    )


@register("orders_open_backlog", BACKLOG_ORACLE, "timeseries")
def orders_open_backlog(spark, sf_dir):
    """Daily open-order backlog: each order is open from its order date
    through its last ship date (inclusive); the timeline is the
    cumulative sum of ±1 deltas — the WIP/lead-time health curve.

    Scale shape: two hash aggregates (per-order close, per-day delta)
    collapse the fact tables to the ±1 delta summary, whose cardinality
    is bounded by the calendar domain (the 1995–2001 date span — fixed,
    sf-independent), so the single ordered cumulative walks ≤ ~2.4k rows
    regardless of scale.  Allow-listed with the other summary walkers in
    tests/test_plans.py."""
    cl = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close"))
    )
    j = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", F.to_date("o_orderdate").alias("od"))
        .join(cl, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return backlog_from_pairs(j)


# =====================================================================
# hourly autocorrelation
# =====================================================================

ACF_LAGS = (1, 24)

AUTOCORR_ORACLE = f"""
WITH h AS (
  SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hu,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
lags AS (SELECT unnest([{", ".join(str(k) for k in ACF_LAGS)}]) AS lag_hours),
p AS (
  SELECT a.event_type, lags.lag_hours, a.c AS x, b.c AS y
  FROM h a CROSS JOIN lags
  JOIN h b ON b.event_type = a.event_type
          AND b.hu = a.hu + lag_hours * 3600000000),
s AS (
  SELECT event_type, lag_hours,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM p GROUP BY event_type, lag_hours),
c AS (
  SELECT event_type, lag_hours, n,
         CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
           - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS num,
         CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
           - CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS dx,
         CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0))
           - CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS dy
  FROM s)
SELECT event_type, lag_hours, n AS n_pairs,
       CAST(num AS DOUBLE)
         / (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))) AS acf
FROM c WHERE dx <> 0 AND dy <> 0
ORDER BY event_type, lag_hours
"""


@register("ts_autocorrelation", AUTOCORR_ORACLE, "timeseries")
def ts_autocorrelation(spark, sf_dir):
    """Lag-1 and lag-24 autocorrelation of the hourly event-count series
    per type — the seasonality/persistence detector (lag-24 ≫ lag-1 ⇒
    daily cycle).  Pairwise-complete: pairs align on exact epoch-µs hour
    offsets, so calendar gaps drop out instead of zero-filling.

    Scale shape: the corpus collapses to the (type, hour) count summary
    first; the lag alignment is an equi self-join of that summary on
    (type, hu+lag) — no window at all — and Pearson comes from exact
    integer moment sums (same normal-equation primitive as
    ts_linear_trend)."""
    return acf_from_cells(acf_cells(_t(spark, sf_dir, "events")))


def acf_cells(ev):
    """Corpus → additive (event_type, hour-µs, count) cells — the
    sufficient statistic of the lag ACF."""
    return ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hu"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))


def acf_from_cells(h):
    """(event_type, hu, c) cells → the lag-ACF frame."""
    lags = F.explode(
        F.array([F.lit(k) for k in ACF_LAGS])
    ).alias("lag_hours")
    a = h.select("event_type", "hu", F.col("c").alias("x")).select(
        "*", lags
    )
    b = h.select(
        F.col("event_type").alias("_bt"),
        F.col("hu").alias("_bhu"),
        F.col("c").alias("y"),
    )
    p = a.join(
        b,
        (F.col("_bt") == F.col("event_type"))
        & (
            F.col("_bhu")
            == F.col("hu") + F.col("lag_hours") * F.lit(3600000000)
        ),
    )
    s = p.groupBy("event_type", "lag_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )

    def d19(c):
        return F.col(c).cast("decimal(19,0)")

    c = s.select(
        "event_type",
        "lag_hours",
        "n",
        (d19("n") * d19("sxy") - d19("sx") * d19("sy")).alias("num"),
        (d19("n") * d19("sxx") - d19("sx") * d19("sx")).alias("dx"),
        (d19("n") * d19("syy") - d19("sy") * d19("sy")).alias("dy"),
    )
    return (
        c.where((F.col("dx") != 0) & (F.col("dy") != 0))
        .select(
            "event_type",
            "lag_hours",
            F.col("n").alias("n_pairs"),
            (
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("dx").cast("double"))
                    * F.sqrt(F.col("dy").cast("double"))
                )
            ).alias("acf"),
        )
        .orderBy("event_type", "lag_hours")
    )


# =====================================================================
# common-neighbor link prediction
# =====================================================================

CN_MAX_DEG = 256

COMMON_NEIGHBORS_ORACLE = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
e AS (SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b
      ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk HAVING COUNT(*) >= {TRI_MINSUP}),
deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        GROUP BY n),
adj AS (SELECT u AS ctr, v AS nb FROM e UNION ALL SELECT v, u FROM e),
adjc AS (SELECT adj.ctr, adj.nb FROM adj JOIN deg ON deg.n = adj.ctr
         WHERE deg.d <= {CN_MAX_DEG}),
cn AS (SELECT x.nb AS part_a, y.nb AS part_b,
              CAST(COUNT(*) AS BIGINT) AS common_neighbors
       FROM adjc x JOIN adjc y ON x.ctr = y.ctr AND x.nb < y.nb
       GROUP BY x.nb, y.nb),
nonedge AS (SELECT cn.* FROM cn LEFT JOIN e
            ON e.u = cn.part_a AND e.v = cn.part_b
            WHERE e.u IS NULL)
SELECT part_a, part_b, common_neighbors,
       CAST(common_neighbors AS DOUBLE)
         / CAST(da.d + db.d - common_neighbors AS DOUBLE) AS jaccard
FROM nonedge
JOIN deg da ON da.n = part_a
JOIN deg db ON db.n = part_b
ORDER BY common_neighbors DESC, part_a, part_b LIMIT 15
"""


@register("graph_common_neighbors", COMMON_NEIGHBORS_ORACLE, "graph")
def graph_common_neighbors(spark, sf_dir):
    """Link prediction on the ≥2-support co-purchase graph: the 15
    NON-adjacent part pairs sharing the most common neighbors, with
    neighborhood Jaccard — "frequently bought with the same things" ⇒
    substitute/complement candidates.

    Scale shape: wedge enumeration per center is Σ deg², bounded both by
    the support threshold (only repeat co-purchases form edges) and an
    explicit hub cap (centers with degree > {CN_MAX_DEG} are skipped —
    a no-op at bench scale, the standard guard against a
    ordered-with-everything part at 100 TB; same pattern as
    orders_near_duplicates' hot-cell cap).  The anti-join against the
    edge set and the degree joins are all equi-joins; Jaccard is one
    double ratio of exact counts.  The edge set and the capped adjacency
    are registered caches (cachereg) — each feeds multiple joins, and
    without the cache the static plan re-expands the pair-generation
    subtree per consumer."""
    from creek_spark.operators.cachereg import register_cache

    li = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a = li.select("ok", F.col("pk").alias("u"))
    b = li.select("ok", F.col("pk").alias("v"))
    e = register_cache(
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= TRI_MINSUP)
        .select("u", "v")
    )
    from creek_spark.operators.graph import common_neighbor_pairs

    return (
        common_neighbor_pairs(e, max_deg=CN_MAX_DEG)
        .orderBy(F.desc("common_neighbors"), "part_a", "part_b")
        .limit(15)
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
# PCA power iteration
# =====================================================================

PCA_SCALE = 1000
PCA_ITERS = 2

PCA_ORACLE = f"""
WITH ep AS (SELECT vec_id AS id,
            unnest(generate_series(1, len(embedding))) AS pos,
            unnest([CAST(FLOOR(CAST(x AS DOUBLE) * {PCA_SCALE}) AS BIGINT)
                    FOR x IN embedding]) AS x
            FROM embeddings),
d0 AS (SELECT id, CAST(SUM(x) AS BIGINT) AS d FROM ep GROUP BY id),
w1 AS (SELECT ep.pos, CAST(SUM(ep.x * d0.d) AS BIGINT) AS w
       FROM ep JOIN d0 ON d0.id = ep.id GROUP BY ep.pos),
m1 AS (SELECT MAX(ABS(w)) AS mw FROM w1),
v1 AS (SELECT pos, w // GREATEST(mw // {PCA_SCALE}, 1) AS q
       FROM w1 CROSS JOIN m1),
d1 AS (SELECT ep.id, CAST(SUM(ep.x * v1.q) AS BIGINT) AS d
       FROM ep JOIN v1 ON v1.pos = ep.pos GROUP BY ep.id),
w2 AS (SELECT ep.pos, CAST(SUM(ep.x * d1.d) AS BIGINT) AS w
       FROM ep JOIN d1 ON d1.id = ep.id GROUP BY ep.pos),
m2 AS (SELECT MAX(ABS(w)) AS mw FROM w2),
v2 AS (SELECT pos, w // GREATEST(mw // {PCA_SCALE}, 1) AS q
       FROM w2 CROSS JOIN m2),
n2 AS (SELECT CAST(SUM(q * q) AS BIGINT) AS nq FROM v2)
SELECT CAST(pos AS INTEGER) AS pos, q,
       CAST(q AS DOUBLE) / sqrt(CAST(nq AS DOUBLE)) AS loading
FROM v2 CROSS JOIN n2 ORDER BY pos
"""


@register("embedding_pca_power", PCA_ORACLE, "similarity")
def embedding_pca_power(spark, sf_dir):
    """Top principal direction of the embedding corpus by two
    integer-quantized power-iteration rounds (uncentered PCA) — the
    iterative linear-algebra sibling of embedding_kmeans, oracle-exact
    because every step is integer arithmetic with toward-zero division
    on both engines.

    Scale shape (operators/clustering.py:pca_power_top_component): per
    round one map-side packed-array dot product + a posexplode aggregate
    that partial-aggs to ≤ dim rows, with the current vector riding as a
    one-row broadcast — zero corpus shuffle, no driver round-trip."""
    from creek_spark.operators.clustering import pca_power_top_component

    emb = _t(spark, sf_dir, "embeddings")
    return pca_power_top_component(
        emb, "vec_id", "embedding", iters=PCA_ITERS, scale=PCA_SCALE
    )


# =====================================================================
# supplier concentration (HHI)
# =====================================================================

HHI_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
              * 10000 AS BIGINT) AS r
  FROM lineitem GROUP BY l_suppkey),
sn AS (
  SELECT n_name, rev.r
  FROM rev
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey),
agg AS (
  SELECT n_name,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(r) AS BIGINT) AS t,
         SUM(CAST(r AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0))) AS s2,
         CAST(MAX(r) AS BIGINT) AS mx
  FROM sn GROUP BY n_name)
SELECT n_name, n_suppliers,
       CAST(t AS DOUBLE) / 10000.0 AS total_revenue,
       CAST(s2 AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS hhi,
       CAST(mx AS DOUBLE) / CAST(t AS DOUBLE) AS top_share
FROM agg ORDER BY n_name
"""


@register("supplier_concentration_hhi", HHI_ORACLE, "analytics")
def supplier_concentration_hhi(spark, sf_dir):
    """Supplier revenue concentration per nation: Herfindahl–Hirschman
    index (Σ share²), the top supplier's share, and supplier counts —
    the single-point-of-failure screen for a supply base.

    Scale shape: one fact scan collapses to per-supplier exact decimal
    revenue (quantized to 10⁻⁴ units, so shares are ratios of exact
    integers); the supplier and nation dims join through
    broadcast_if_small / broadcast; HHI is one double division of a
    decimal(38) square sum — no window anywhere."""
    from creek_spark.operators.cachereg import register_cache  # noqa: F401

    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(4,2)")
    rev_expr = dec("l_extendedprice") * (one - dec("l_discount", 4, 2))
    rev = li.groupBy("l_suppkey").agg(
        (F.sum(rev_expr) * 10000).cast("bigint").alias("r")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = (
        rev.join(broadcast_if_small(sup), rev.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "r")
    )
    d19 = F.col("r").cast("decimal(19,0)")
    agg = sn.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("r").cast("bigint").alias("t"),
        F.sum(d19 * d19).alias("s2"),
        F.max("r").cast("bigint").alias("mx"),
    )
    return agg.select(
        "n_name",
        "n_suppliers",
        (F.col("t").cast("double") / F.lit(10000.0)).alias("total_revenue"),
        (
            F.col("s2").cast("double")
            / (F.col("t").cast("double") * F.col("t").cast("double"))
        ).alias("hhi"),
        (F.col("mx").cast("double") / F.col("t").cast("double")).alias(
            "top_share"
        ),
    ).orderBy("n_name")


# =====================================================================
# ABC-XYZ inventory matrix
# =====================================================================

ABC_XYZ_ORACLE = """
WITH pr AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_extendedprice AS DECIMAL(14,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem GROUP BY l_partkey),
t AS (SELECT SUM(rev) AS total FROM pr),
r AS (
  SELECT pk, rev,
         SUM(rev) OVER (ORDER BY rev DESC, pk
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM pr),
abc AS (
  SELECT pk, rev,
         CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM r CROSS JOIN t),
m AS (SELECT l_partkey AS pk, date_trunc('month', l_shipdate) AS mon,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS q
      FROM lineitem GROUP BY 1, 2),
s AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_months,
             SUM(CAST(q AS DECIMAL(20,2))) AS sq,
             SUM(CAST(q * q AS DECIMAL(38,4))) AS sqq
      FROM m GROUP BY pk),
xyz AS (
  SELECT pk,
         CASE WHEN SQRT(GREATEST(
                    CAST(sqq AS DOUBLE) / CAST(n_months AS DOUBLE)
                    - (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE))
                      * (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)), 0.0))
                   / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)) < 0.5
              THEN 'X'
              WHEN SQRT(GREATEST(
                    CAST(sqq AS DOUBLE) / CAST(n_months AS DOUBLE)
                    - (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE))
                      * (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)), 0.0))
                   / (CAST(sq AS DOUBLE) / CAST(n_months AS DOUBLE)) < 1.0
              THEN 'Y' ELSE 'Z' END AS xyz_class
  FROM s),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_parts_total FROM pr)
SELECT abc.abc, xyz.xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(abc.rev) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS DOUBLE) / n_parts_total AS part_share
FROM abc JOIN xyz ON xyz.pk = abc.pk CROSS JOIN n
GROUP BY abc.abc, xyz.xyz_class, n_parts_total
ORDER BY abc, xyz_class
"""


@register("parts_abc_xyz_matrix", ABC_XYZ_ORACLE, "analytics")
def parts_abc_xyz_matrix(spark, sf_dir):
    """The ABC-XYZ inventory matrix: revenue importance (cumulative-share
    A/B/C) × demand variability (CV-based X/Y/Z) per part, rolled to the
    9-cell planning grid with per-cell part counts, revenue, and part
    share — the composition of pareto_abc and parts_xyz_variability on
    one partkey join.

    Scale shape: both class axes are the proven distributed shapes (the
    ABC prefix sum is segmented_running over revenue bands; XYZ is two
    skew-free hash aggs); the axes join on partkey and collapse to 9
    rows.  The per-part revenue frame feeds three consumers (ABC walk,
    total, join), so it is a registered cache."""
    from creek_spark.operators.cachereg import register_cache
    from creek_spark.operators.distributed import segmented_running

    li = _t(spark, sf_dir, "lineitem")
    pr = register_cache(
        li.groupBy(F.col("l_partkey").alias("pk")).agg(
            F.sum(
                dec("l_extendedprice", 14, 2)
                * (F.lit(1).cast("decimal(4,2)") - dec("l_discount", 4, 2))
            ).alias("rev")
        )
    )
    t = pr.agg(F.sum("rev").alias("total"))
    r = segmented_running(
        pr,
        [],
        (-F.floor(F.col("rev") / 1000)).cast("bigint"),
        [F.col("rev").desc(), F.col("pk")],
        {"cum": (F.col("rev"), "sum")},
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    abc = r.crossJoin(F.broadcast(t)).select(
        "pk",
        "rev",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C")
        .alias("abc"),
    )
    m = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("month", F.col("l_shipdate")).alias("mon"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("q")
    )
    s = m.groupBy("pk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum(F.col("q").cast("decimal(20,2)")).alias("sq"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,4)")).alias("sqq"),
    )
    mean = F.col("sq").cast("double") / F.col("n_months").cast("double")
    var = (
        F.col("sqq").cast("double") / F.col("n_months").cast("double")
        - mean * mean
    )
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / mean
    xyz = s.select(
        "pk",
        F.when(cv < 0.5, F.lit("X"))
        .when(cv < 1.0, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
    )
    n = pr.agg(F.count(F.lit(1)).cast("double").alias("n_parts_total"))
    return (
        abc.join(xyz, "pk")
        .crossJoin(F.broadcast(n))
        .groupBy("abc", "xyz_class", "n_parts_total")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").cast("double").alias("revenue"),
        )
        .select(
            "abc",
            "xyz_class",
            "n_parts",
            "revenue",
            (F.col("n_parts").cast("double") / F.col("n_parts_total"))
            .alias("part_share"),
        )
        .orderBy("abc", "xyz_class")
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


# =====================================================================
# pixel-level exact dedup (real codec round trip)
# =====================================================================

PIXEL_DEDUP_ORACLE = """
WITH g AS (
  SELECT doc_id, CAST(doc_id % 16 AS BIGINT) AS grp FROM documents),
dims AS (
  SELECT doc_id, grp,
         CAST(grp % 12 + 4 AS BIGINT) AS w,
         CAST(grp % 8 + 3 AS BIGINT) AS h,
         CAST((grp * 13) % 256 AS BIGINT) AS seed
  FROM g),
px AS (
  SELECT doc_id, w, h, x, y, c, (x + 2 * y + seed + c) % 256 AS v
  FROM dims
  CROSS JOIN unnest(generate_series(0, w - 1)) AS tx(x)
  CROSS JOIN unnest(generate_series(0, h - 1)) AS ty(y)
  CROSS JOIN unnest(generate_series(0, 2)) AS tc(c)),
ds AS (
  SELECT doc_id, w, h,
         md5(CAST(h AS VARCHAR) || ':' || CAST(w AS VARCHAR) || ':'
             || string_agg(CAST(v AS VARCHAR), ',' ORDER BY y, x, c)) AS digest
  FROM px GROUP BY doc_id, w, h)
SELECT digest,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
FROM ds GROUP BY digest, w, h ORDER BY keep_id
"""


@register("multimodal_pixel_dedup", PIXEL_DEDUP_ORACLE, "multimodal")
def multimodal_pixel_dedup(spark, sf_dir):
    """Pixel-level exact image dedup through the REAL codec: synthesize
    a gradient PNG per document with dimensions/seed derived from
    doc_id mod 16 (so 16 pixel-identical groups exist by construction),
    encode → decode through the pure-stdlib PNG codec, digest the
    decoded pixels (md5 of the canonical "h:w:" + y,x,c value string —
    shape in the preimage, matching image_pixel_digest), and group
    by digest — content-addressed image dedup where byte-level dedup
    would be fooled by re-encoding.  The oracle predicts every digest
    from the closed-form pixel arithmetic, so a hash mismatch means the
    encoder, the decoder, or the canonicalization mangled pixels.

    Scale shape: ONE mapInPandas stage (encode+decode+digest per image,
    work ∝ media bytes, one digest row out per image); the dedup itself
    is a JVM hash aggregate on the digest — the dedup_exact shape over
    decoded content."""
    from creek_spark.operators.multimodal import (
        decode_png_pixels,
        png_bytes_gradient,
    )

    def synth_digest(batches):
        import hashlib

        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            out = {"media_id": [], "digest": [], "width": [], "height": []}
            for i in pdf["doc_id"]:
                grp = int(i) % 16
                w, h, seed = grp % 12 + 4, grp % 8 + 3, (grp * 13) % 256
                arr = decode_png_pixels(png_bytes_gradient(w, h, seed=seed))
                s = (
                    f"{arr.shape[0]}:{arr.shape[1]}:"
                    + ",".join(str(int(v)) for v in arr.reshape(-1))
                )
                out["media_id"].append(int(i))
                out["digest"].append(hashlib.md5(s.encode()).hexdigest())
                out["width"].append(arr.shape[1])
                out["height"].append(arr.shape[0])
            yield pd.DataFrame(out)

    docs = _fan_out(_t(spark, sf_dir, "documents").select("doc_id"))
    ds = docs.mapInPandas(
        synth_digest,
        schema="media_id bigint, digest string, width int, height int",
    )
    return (
        ds.groupBy("digest", "width", "height")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("media_id").cast("bigint").alias("keep_id"),
        )
        .select("digest", "n_copies", "keep_id", "width", "height")
        .orderBy("keep_id")
    )


# =====================================================================
# collocations (lift-based, log-free PMI)
# =====================================================================

COLLOC_MIN_COUNT = 5

COLLOC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, w, i
  FROM (SELECT doc_id,
               unnest(ws) AS w,
               unnest(generate_series(1, len(ws))) AS i
        FROM (SELECT doc_id,
                     string_split_regex({SQL_NORM.format(c="text")}, '\\s+')
                       AS ws
              FROM documents) d0) u
  WHERE w <> ''),
uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
ntok AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks),
big AS (
  SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  GROUP BY a.w, b.w),
nbig AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_big FROM big),
sc AS (
  SELECT w1, w2, c_ab,
         CAST(CAST(c_ab AS DECIMAL(19,0)) * CAST(n_tok AS DECIMAL(19,0))
              * CAST(n_tok AS DECIMAL(19,0)) AS DOUBLE)
           / CAST(CAST(n_big AS DECIMAL(19,0)) * CAST(ca.c AS DECIMAL(19,0))
                  * CAST(cb.c AS DECIMAL(19,0)) AS DOUBLE) AS lift
  FROM big
  JOIN uni ca ON ca.w = w1
  JOIN uni cb ON cb.w = w2
  CROSS JOIN ntok CROSS JOIN nbig
  WHERE c_ab >= {COLLOC_MIN_COUNT})
SELECT w1, w2, c_ab, lift
FROM sc ORDER BY lift DESC, w1, w2 LIMIT 20
"""


@register("text_collocations", COLLOC_ORACLE, "text")
def text_collocations(spark, sf_dir):
    """Top bigram collocations by LIFT (observed/expected co-occurrence
    — the log-free PMI): phrases whose words stick together far more
    than chance, the phrase-mining/tokenizer-merge signal.

    Scale shape: bigrams come from one JVM zip_with over the token
    array (no position self-join on the corpus — the oracle's adjacency
    join is oracle-only); unigram/bigram counts are token-keyed hash
    aggs; lift is one double division of exact decimal products; top-20
    is TakeOrdered under a unique tiebreak."""
    from creek_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(tokens("text").alias("ws"))
    toks = docs.select(F.explode("ws").alias("w")).where(F.col("w") != "")
    n = F.size(F.col("ws"))
    bigrams = docs.select(
        F.explode(
            F.when(
                n >= 2,
                F.zip_with(
                    F.slice(F.col("ws"), 1, n - 1),
                    F.slice(F.col("ws"), 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2").where((F.col("w1") != "") & (F.col("w2") != ""))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ntok = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    big = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    )
    nbig = big.agg(F.sum("c_ab").cast("bigint").alias("n_big"))

    def d19(c):
        return F.col(c).cast("decimal(19,0)")

    ca = uni.select(F.col("w").alias("w1"), F.col("c").alias("_ca"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c").alias("_cb"))
    sc = (
        big.where(F.col("c_ab") >= COLLOC_MIN_COUNT)
        .join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(ntok))
        .crossJoin(F.broadcast(nbig))
        .select(
            "w1",
            "w2",
            "c_ab",
            (
                (d19("c_ab") * d19("n_tok") * d19("n_tok")).cast("double")
                / (d19("n_big") * F.col("_ca").cast("decimal(19,0)")
                   * F.col("_cb").cast("decimal(19,0)")).cast("double")
            ).alias("lift"),
        )
    )
    return sc.orderBy(F.desc("lift"), "w1", "w2").limit(20)


# =====================================================================
# revenue Gini (exact, distributed rank)
# =====================================================================

GINI_ORACLE = """
WITH r AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS r
  FROM orders GROUP BY o_custkey),
rk AS (
  SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i FROM r),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS t,
         SUM(CAST(i AS DECIMAL(19,0)) * CAST(r AS DECIMAL(19,0))) AS s_ir
  FROM rk)
SELECT n AS n_customers,
       CAST(t AS DOUBLE) / 100.0 AS total_revenue,
       2.0 * CAST(s_ir AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
         - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
FROM s
"""


@register("customer_revenue_gini", GINI_ORACLE, "analytics")
def customer_revenue_gini(spark, sf_dir):
    """Customer revenue inequality: the exact Gini coefficient from the
    rank formula G = 2·Σᵢ i·rᵢ / (n·Σr) − (n+1)/n over revenue-sorted
    customers — the whale-dependency metric next to pareto_abc's bands.

    Scale shape: the global revenue rank comes from segmented_running
    (revenue-band segments, rownum kind — no corpus-scale sorted
    window; the only ordered walk is over the band summary,
    allow-listed), and Σ i·r is an exact decimal(38) sum; the Gini is a
    fixed-order IEEE chain on three exact aggregates."""
    o = _t(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        (F.sum(dec("o_totalprice", 14, 2)) * 100).cast("bigint").alias("r")
    )
    return gini_from_revenue(r)


def gini_from_revenue(r):
    """(o_custkey, r-cents) → the one-row Gini frame; the batch query
    applies it to the orders aggregate."""
    from creek_spark.operators.distributed import segmented_running

    rk = segmented_running(
        r,
        [],
        F.floor(F.col("r") / 1000000).cast("bigint"),
        [F.col("r"), F.col("o_custkey")],
        {"i": (F.lit(1), "rownum")},
    )
    s = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("t"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("r").cast("decimal(19,0)")
        ).alias("s_ir"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        (F.col("t").cast("double") / F.lit(100.0)).alias("total_revenue"),
        (
            F.lit(2.0) * F.col("s_ir").cast("double")
            / (F.col("n").cast("double") * F.col("t").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0))
            / F.col("n").cast("double")
        ).alias("gini"),
    )


# =====================================================================
# as-of join: forward direction + tolerance
# =====================================================================

ASOF_TOL_ORACLE = """
WITH clicks AS (SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
p AS (SELECT user_id, ts, MAX(value) AS value FROM events
      WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, c.ts,
       CASE WHEN p.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 2 HOUR
            THEN p.ts END AS ts_asof,
       CASE WHEN p.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL 2 HOUR
            THEN p.value END AS value_asof
FROM clicks c ASOF LEFT JOIN p
  ON c.user_id = p.user_id AND c.ts <= p.ts
"""


@register("join_asof_tolerance", ASOF_TOL_ORACLE, "join")
def join_asof_tolerance(spark, sf_dir):
    """FORWARD as-of join with a staleness bound: each click matched to
    the next purchase by the same user within 2 hours (beyond the
    tolerance the match columns come back null, exactly like no match) —
    the conversion-window lookup as a join primitive, exercising the
    operator's direction + tolerance dials the backward headline query
    doesn't.

    Scale shape: same union + first(ignoreNulls) window as the backward
    form — one user-keyed shuffle, no UDF, no range join."""
    from creek_spark.operators import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    return asof_join(
        clicks, purch, on=["user_id"], left_time="ts", right_time="ts",
        value_cols=["value"], direction="forward", tolerance="2 hours",
    )


# =====================================================================
# modal aggregate
# =====================================================================

MODE_ORACLE = """
WITH c AS (
  SELECT n_name, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name, c_mktsegment),
t AS (SELECT n_name, CAST(SUM(n) AS BIGINT) AS n_total FROM c GROUP BY n_name),
r AS (
  SELECT n_name, c_mktsegment, n,
         row_number() OVER (PARTITION BY n_name
                            ORDER BY n DESC, c_mktsegment) AS rk
  FROM c)
SELECT r.n_name, c_mktsegment AS mode_segment, n AS n_with_mode, n_total,
       CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS mode_share
FROM r JOIN t ON t.n_name = r.n_name
WHERE rk = 1 ORDER BY r.n_name
"""


@register("agg_mode", MODE_ORACLE, "aggregation")
def agg_mode(spark, sf_dir):
    """Modal aggregate: the most common market segment per nation with
    its share — exact mode with a deterministic tiebreak (count desc,
    segment asc), the categorical counterpart of percentile_disc.

    Scale shape: the corpus collapses to the (nation, segment) count
    summary first; the rank-1 pick windows over that ≤ |nations|·
    |segments| summary (partitioned by nation), never the fact table."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    counts = (
        c.join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    t = counts.groupBy("n_name").agg(F.sum("n").cast("bigint").alias("n_total"))
    w = Window.partitionBy("n_name").orderBy(
        F.desc("n"), F.col("c_mktsegment")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .join(t, "n_name")
        .select(
            "n_name",
            F.col("c_mktsegment").alias("mode_segment"),
            F.col("n").alias("n_with_mode"),
            "n_total",
            (F.col("n").cast("double") / F.col("n_total").cast("double"))
            .alias("mode_share"),
        )
        .orderBy("n_name")
    )


# =====================================================================
# bitwise scalar family
# =====================================================================

BITWISE_ORACLE = """
SELECT p_partkey,
       CAST(p_partkey & 255 AS BIGINT) AS and255,
       CAST(p_partkey | 4096 AS BIGINT) AS or4096,
       CAST(xor(p_partkey, 1365) AS BIGINT) AS xor1365,
       CAST(p_partkey << 3 AS BIGINT) AS shl3,
       CAST(p_partkey >> 2 AS BIGINT) AS shr2,
       CAST(bit_count(p_partkey) AS INTEGER) AS popcount,
       CAST(~p_partkey AS BIGINT) AS bitnot
FROM part
"""


@register("scalar_bitwise", BITWISE_ORACLE, "scalar")
def scalar_bitwise(spark, sf_dir):
    """Bitwise scalar family (AND/OR/XOR/shifts/popcount/NOT) — rounds
    out the scalar-function surface; all whole-stage-codegen JVM
    expressions, one scan."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("p_partkey & 255").cast("bigint").alias("and255"),
        F.expr("p_partkey | 4096").cast("bigint").alias("or4096"),
        F.expr("p_partkey ^ 1365").cast("bigint").alias("xor1365"),
        F.expr("shiftleft(p_partkey, 3)").cast("bigint").alias("shl3"),
        F.expr("shiftright(p_partkey, 2)").cast("bigint").alias("shr2"),
        F.bit_count("p_partkey").cast("int").alias("popcount"),
        F.expr("~p_partkey").cast("bigint").alias("bitnot"),
    )
