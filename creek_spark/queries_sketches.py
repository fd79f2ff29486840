"""Catalog domain: probabilistic sketches — count-min frequency counts,
mergeable histogram quantiles and a deterministic Bloom-filter
membership sketch.

Same determinism rules as queries.py; every hash a sketch uses is
md5-derived, so the DuckDB oracle builds the same cells.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.operators.sketches import BLOOM_K, BLOOM_M
from creek_spark.queries import _t, register
from creek_spark.query_parts import TOKS


CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_PROBES = ["spark", "vector", "merge", "window", "zzzqq"]


def _cms_oracle() -> str:
    probe_vals = ", ".join(f"('{t}')" for t in CMS_PROBES)
    probe_list = ", ".join(f"'{t}'" for t in CMS_PROBES)
    rows_vals = ", ".join(f"({j})" for j in range(CMS_DEPTH))
    return f"""
    WITH toks AS (SELECT unnest({TOKS}) AS tok FROM documents),
    hrows AS (SELECT * FROM (VALUES {rows_vals}) t(j)),
    cells AS (SELECT j,
                     CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 8)
                          AS BIGINT) % {CMS_WIDTH} AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM toks CROSS JOIN hrows GROUP BY 1, 2),
    probes AS (SELECT * FROM (VALUES {probe_vals}) p(term)),
    pc AS (SELECT term, j,
                  CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 8)
                       AS BIGINT) % {CMS_WIDTH} AS bucket
           FROM probes CROSS JOIN hrows),
    est AS (SELECT term, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
            FROM pc LEFT JOIN cells c ON c.j = pc.j AND c.bucket = pc.bucket
            GROUP BY term),
    exact AS (SELECT tok AS term, CAST(COUNT(*) AS BIGINT) AS exact_count
              FROM toks WHERE tok IN ({probe_list}) GROUP BY tok)
    SELECT est.term, est.est_count,
           CAST(COALESCE(exact.exact_count, 0) AS BIGINT) AS exact_count
    FROM est LEFT JOIN exact ON exact.term = est.term
    """


@register("sketch_cms_counts", _cms_oracle(), "sketch")
def sketch_cms_counts(spark, sf_dir):
    """Count-min sketch over the document token stream: fixed
    depth×width cell grid (mergeable by addition — composes with the
    streaming rollup sink), probed for a term list alongside the exact
    counts (est ≥ exact always; equality whenever no collision).  Build
    shuffles ≤ depth·width rows after map-side combine; probing is one
    broadcast join of the sketch (operators/sketches.py cms_*)."""
    from creek_spark.functions.text import tokens as _tokens
    from creek_spark.operators.sketches import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens("text")).alias("tok"))
    sk = cms_build(toks, "tok", depth=CMS_DEPTH, width=CMS_WIDTH)
    probes = spark.createDataFrame([(t,) for t in CMS_PROBES], ["term"])
    est = cms_estimate(sk, probes, "term", depth=CMS_DEPTH, width=CMS_WIDTH)
    exact = (
        toks.where(F.col("tok").isin(CMS_PROBES))
        .groupBy(F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    )
    return est.join(exact, "term", "left").select(
        "term",
        "est_count",
        F.coalesce(F.col("exact_count"), F.lit(0)).cast("bigint").alias("exact_count"),
    )


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


# =====================================================================
# Bloom-filter membership sketch
# =====================================================================

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
