"""Catalog domain: graph operators.

On the events table: the per-user event-type transition graph (edges
from a lead() window over (ts, event_id)), bounded reachability and
PageRank.  Reachability is a bounded recursive CTE on the DuckDB side vs.
distributed BFS on the Spark side; PageRank is the fixed-point integer
formulation so the unrolled SQL oracle matches bit-for-bit.

On the co-purchase graph: degree-oriented triangle counting and
common-neighbor link prediction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.operators import graph as gr
from creek_spark.queries import _t, register


REACH_K = 3
PR_ITERS = 3
PR_SCALE = 10**12
PR_NUM = 85
PR_DEN = 100

_EV = """
    ev AS (SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt
           FROM events),
    e AS (SELECT DISTINCT event_type AS src, nxt AS dst
          FROM ev WHERE nxt IS NOT NULL)
"""


@register(
    "graph_transitions",
    f"""
    WITH {_EV}
    SELECT event_type AS src, nxt AS dst,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM ev WHERE nxt IS NOT NULL GROUP BY event_type, nxt
    """,
    "graph",
)
def graph_transitions(spark, sf_dir):
    """Event-type transition graph: one user-partitioned window pass +
    one (src, dst) hash agg."""
    return gr.event_transitions(_t(spark, sf_dir, "events"))


@register(
    "graph_reachability",
    f"""
    WITH RECURSIVE {_EV},
    r AS (SELECT src, dst, 1 AS hops FROM e
          UNION ALL
          SELECT r.src, n.dst, r.hops + 1
          FROM r JOIN e n ON n.src = r.dst WHERE r.hops < {REACH_K})
    SELECT src, dst, CAST(MIN(hops) AS INT) AS min_hops
    FROM r GROUP BY src, dst
    """,
    "graph",
)
def graph_reachability(spark, sf_dir):
    """Pairs reachable in ≤3 hops with min hop count — distributed BFS
    with a deduplicated frontier (work ∝ NEW pairs per round), matching
    the bounded recursive-CTE oracle exactly."""
    edges = gr.event_transitions(_t(spark, sf_dir, "events"))
    return gr.k_hop_reachability(edges, k=REACH_K)


def _pagerank_oracle() -> str:
    base = ((PR_DEN - PR_NUM) * PR_SCALE) // PR_DEN
    ctes = [f"r0 AS (SELECT n, CAST({PR_SCALE} AS BIGINT) AS rk FROM nodes)"]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""s{i} AS (SELECT e.dst AS m, SUM(r.rk // od.outdeg) AS s
           FROM e JOIN od USING (src) JOIN r{i - 1} r ON r.n = e.src
           GROUP BY e.dst),
    r{i} AS (SELECT nodes.n,
                    {base} + COALESCE(({PR_NUM} * s{i}.s) // {PR_DEN}, 0) AS rk
             FROM nodes LEFT JOIN s{i} ON s{i}.m = nodes.n)"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {_EV},
    nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
    od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    {body}
    SELECT n AS node, CAST(rk AS BIGINT) AS pagerank_scaled FROM r{PR_ITERS}
    """


@register("graph_pagerank", _pagerank_oracle(), "graph")
def graph_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank, 3 unrolled iterations — floor
    division on scaled integer ranks makes the iterative algorithm
    oracle-exact (double summation order would diverge)."""
    edges = gr.event_transitions(_t(spark, sf_dir, "events"))
    return gr.pagerank(
        edges,
        iters=PR_ITERS,
        scale=PR_SCALE,
        damping_num=PR_NUM,
        damping_den=PR_DEN,
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
