"""Graph operators over event streams — transition graphs, bounded-hop
reachability (distributed BFS), and PageRank with exact integer
arithmetic.

The reference (modfin/creek) has no graph surface; these cover the
"iterative algorithm" quadrant of the engine: multi-round joins whose
per-round exchanges are keyed on the frontier/destination column, the
shape a 1000-executor cluster runs as one stage per round.

Determinism: every metric is integer arithmetic (counts, floor
divisions) so DuckDB oracles match bit-for-bit — PageRank runs on
integer-scaled ranks (``scale`` units per node) with floor division,
the classic fixed-point formulation, instead of doubles whose
summation order differs across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Per-user event-type transition graph: (src, dst, n_transitions).

    One window pass (partitioned by user — the natural key, no skew
    beyond per-user activity) + one hash agg on the (src, dst) pair.
    """
    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    pairs = events.select(
        F.col(type_col).alias("src"),
        F.lead(type_col).over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    return pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


def k_hop_reachability(edges: DataFrame, k: int = 3) -> DataFrame:
    """(src, dst, min_hops) for every pair reachable in ≤ k hops.

    Distributed BFS with a deduplicated frontier: each round joins the
    frontier to the edge list on the frontier's dst (one keyed
    exchange per round), then anti-joins pairs already seen, so work
    per round is proportional to NEW pairs — the all-paths blowup of a
    naive UNION ALL expansion never materializes.  Result is identical
    to the bounded recursive-CTE oracle because min-hops is invariant
    to whether longer duplicate paths are enumerated.

    Lineage: every round eagerly ``localCheckpoint``s the new frontier and
    the accumulated ``seen`` set, so round h's logical plan reads two
    materialized RDDs instead of nesting rounds 1..h-1 — plan size and
    analysis cost stay O(1) per round at production hop counts
    (tests/test_plans.py::test_iterative_loops_truncate_lineage).
    """
    e = edges.select("src", "dst").distinct().persist()
    seen = e.withColumn("min_hops", F.lit(1)).localCheckpoint(eager=True)
    frontier = seen.select("src", "dst")
    for h in range(2, k + 1):
        grown = (
            frontier.alias("p")
            .join(e.alias("n"), F.col("p.dst") == F.col("n.src"))
            .select(F.col("p.src").alias("src"), F.col("n.dst").alias("dst"))
            .distinct()
        )
        frontier = grown.join(
            seen.select("src", "dst"), ["src", "dst"], "left_anti"
        ).localCheckpoint(eager=True)
        seen = seen.unionByName(
            frontier.withColumn("min_hops", F.lit(h))
        ).localCheckpoint(eager=True)
    e.unpersist()
    return seen.select(
        "src", "dst", F.col("min_hops").cast("int").alias("min_hops")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Fixed-point PageRank: (node, pagerank_scaled).

    Ranks live in integer "micro-rank" units (``scale`` per node
    initially); each round every node sends ``rank div outdeg`` along
    each out-edge and receives ``base + (85 * incoming) div 100``.
    Floor division on positive integers is identical in Spark (`div`)
    and DuckDB (`//`), so an unrolled SQL oracle matches exactly —
    doubles would diverge on summation order.  Dangling-node mass
    evaporates (the usual simplification); ``scale`` bounds magnitudes:
    size it so max-indegree × scale × damping_num stays under 2^63.

    Scale shape: out-degrees are computed once; every iteration is one
    join keyed on src (rank lookup) + one agg keyed on dst + one left
    join back to the node list — three keyed exchanges of
    edge/node-sized data per round, the canonical distributed-pagerank
    stage plan.

    Lineage: the loop-invariant inputs (``nodes``, weighted edges) are
    persisted once, and each round's ``ranks`` is eagerly
    ``localCheckpoint``ed, truncating the logical plan to one
    materialized RDD — without this, round i's plan nests rounds 1..i-1
    and analysis cost grows superlinearly at the 20-50 iterations real
    PageRank needs (tests/test_plans.py::test_iterative_loops_truncate_lineage).
    """
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("n"))
        .unionByName(e.select(F.col("dst").alias("n")))
        .distinct()
        .persist()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ewd = e.join(outdeg, "src").persist()
    base = ((damping_den - damping_num) * scale) // damping_den
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = ewd.join(
            ranks, ewd["src"] == ranks["n"]
        ).select(
            F.col("dst"), F.expr("rank div outdeg").alias("c")
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, nodes["n"] == sums["dst"], "left")
            .select(
                nodes["n"],
                (
                    F.lit(base)
                    + F.coalesce(
                        F.expr(f"({damping_num} * s) div {damping_den}"),
                        F.lit(0),
                    )
                ).alias("rank"),
            )
        ).localCheckpoint(eager=True)
    nodes.unpersist()
    ewd.unpersist()
    return ranks.select(
        F.col("n").alias("node"),
        F.col("rank").cast("bigint").alias("pagerank_scaled"),
    )


def triangle_corner_counts(e: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    set ``e`` (columns u, v with u < v, distinct) — the degree-oriented
    distributed algorithm (edges oriented from the (degree, id)-smaller
    endpoint bound the wedge join at m^{3/2}; each triangle found
    exactly once; see queries_graph.graph_triangles for the full scale
    argument).  Returns (n, n_triangles).  ``e`` should be a registered
    cache/persisted frame — it feeds several joins.

    Edge-cache sizing at scale (round-13 cost model, OPTIMIZATION_r13.md):
    keep the oriented-edge cache while m·24 bytes fits ~25% of aggregate
    executor storage memory; past that, switch the register_cache to
    DISK_ONLY (same plan, disk-local rescans).  A Bloom-pruned re-scan
    only wins when the wedge frontier is selective, which orientation
    structurally prevents (every node with out-degree ≥ 1 is frontier),
    so it is not a real alternative for this operator."""
    deg = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    from creek_spark.operators.cachereg import register_cache

    o = register_cache(
        ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
        )
    )
    x = o.select("src", F.col("dst").alias("_bv"), F.col("ddst").alias("_bd"))
    y = o.select("src", F.col("dst").alias("_cv"), F.col("ddst").alias("_cd"))
    wedge = x.join(y, "src").where(
        (F.col("_bd") < F.col("_cd"))
        | ((F.col("_bd") == F.col("_cd")) & (F.col("_bv") < F.col("_cv")))
    )
    closing = o.select(F.col("src").alias("_bv"), F.col("dst").alias("_cv"))
    tri = wedge.join(closing, ["_bv", "_cv"]).select(
        F.col("src").alias("a"), F.col("_bv").alias("b"), F.col("_cv").alias("c")
    )
    corner = (
        tri.select(F.col("a").alias("n"))
        .unionByName(tri.select(F.col("b").alias("n")))
        .unionByName(tri.select(F.col("c").alias("n")))
    )
    return corner.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def common_neighbor_pairs(e: DataFrame, *, max_deg: int) -> DataFrame:
    """Common-neighbor counts + neighborhood Jaccard for NON-adjacent
    node pairs of the undirected edge set ``e`` (u < v, distinct);
    centers with degree > ``max_deg`` are skipped (hub cap — Σ deg²
    bound; see queries_graph.graph_common_neighbors).  Returns
    (part_a, part_b, common_neighbors, jaccard)."""
    from creek_spark.operators.cachereg import register_cache

    deg = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    adj = e.select(F.col("u").alias("ctr"), F.col("v").alias("nb")).unionByName(
        e.select(F.col("v").alias("ctr"), F.col("u").alias("nb"))
    )
    adjc = register_cache(
        adj.join(deg.select(F.col("n").alias("ctr"), "d"), "ctr")
        .where(F.col("d") <= max_deg)
        .select("ctr", "nb")
    )
    x = adjc.select("ctr", F.col("nb").alias("part_a"))
    y = adjc.select("ctr", F.col("nb").alias("part_b"))
    cn = (
        x.join(y, "ctr")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_neighbors"))
    )
    nonedge = cn.join(
        e.select(F.col("u").alias("part_a"), F.col("v").alias("part_b")),
        ["part_a", "part_b"],
        "left_anti",
    )
    da = deg.select(F.col("n").alias("part_a"), F.col("d").alias("_da"))
    db = deg.select(F.col("n").alias("part_b"), F.col("d").alias("_db"))
    return (
        nonedge.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (
                    F.col("_da") + F.col("_db") - F.col("common_neighbors")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
