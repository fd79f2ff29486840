"""Distributed k-means over embedding columns — exact fixed-point
arithmetic so the iterative algorithm is oracle-checkable bit-for-bit.

Design (mirrors the IVF machinery in ``similarity.py``):

- Vectors are quantized once to integer "micro-units"
  (``floor(x * scale)`` per component — a single IEEE multiply + floor,
  identical in any engine), so distances are exact BIGINT sums and
  centroid means are exact floor divisions.  No double accumulations
  anywhere → no summation-order divergence between Spark and a SQL
  oracle.
- Initial centroids: the k vectors with the smallest
  (md5(id), id) — the same seedless deterministic draw as
  ``ivf_centroids`` — packed into ONE broadcastable row as an
  md5-sorted struct array.
- Assignment is a per-row ``aggregate`` fold over that broadcast array
  (argmin distance, ties keep the earliest array position via strict
  ``<``): a pure map-side projection, zero shuffle of the corpus.
- Centroid update: ``posexplode`` of the assigned vectors then
  groupBy (cell, dim) — partial aggregation collapses each task's
  contribution to ≤ k·dim rows before the exchange, so the update
  exchanges metadata-sized data, never the corpus.  Empty cells keep
  their previous centroid.

Per iteration: one corpus scan, zero corpus-sized exchanges — the plan
a 1000-executor cluster wants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_vectors(
    df: DataFrame, id_col: str, vec_col: str, scale: int = 10**6
) -> DataFrame:
    """(id, v): per-component ``floor(double(x) * scale)`` as BIGINT."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * scale).cast("long"),
        ).alias("v"),
    )


def _init_centroids(qv: DataFrame, k: int) -> DataFrame:
    """(mkey, cid, cv): deterministic md5-ordered seed draw."""
    return (
        qv.select(
            F.md5(F.col("id").cast("string")).alias("mkey"),
            F.col("id").alias("cid"),
            F.col("v").alias("cv"),
        )
        .orderBy("mkey", "cid")
        .limit(k)
    )


def _cent_row(cents: DataFrame) -> DataFrame:
    """Pack centroids into one broadcastable md5-sorted struct-array row."""
    return F.broadcast(
        cents.agg(
            F.sort_array(
                F.collect_list(F.struct("mkey", "cid", "cv"))
            ).alias("cents")
        )
    )


def _sqdist(v, cv):
    """Exact integer squared distance (BIGINT fold)."""
    return F.aggregate(
        F.zip_with(v, cv, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda a, d: a + d,
    )


def _assign(qv: DataFrame, cent_row: DataFrame) -> DataFrame:
    """(id, v, cid, dist): nearest centroid, map-side only.

    Strict ``<`` keeps the incumbent on ties → earliest array position
    (smallest (mkey, cid)) wins, matching the oracle's
    ORDER BY dist, mkey, cid."""
    scored = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            _sqdist(F.col("v"), c["cv"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("long").alias("d"),
            F.lit(None).cast("long").alias("cid"),
        ),
        lambda acc, x: F.when(
            acc["d"].isNull() | (x["d"] < acc["d"]), x
        ).otherwise(acc),
    )
    return qv.crossJoin(cent_row).select(
        "id",
        "v",
        best["cid"].alias("cid"),
        best["d"].alias("dist"),
    )


def _update(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """New centroids: exact floor-mean per dimension; empty cells keep
    their previous centroid.  Partial agg bounds the exchange at
    k·dim rows per task."""
    ex = assigned.select("cid", F.posexplode("v").alias("pos", "val"))
    per_dim = ex.groupBy("cid", "pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    )
    new_cv = (
        per_dim.withColumn("m", F.expr("s div n"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda x: x["m"],
            ).alias("ncv")
        )
    )
    return cents.join(new_cv, "cid", "left").select(
        "mkey", "cid", F.coalesce("ncv", "cv").alias("cv")
    )


def kmeans_assignments(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 8,
    iters: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """(id, cluster, dist_scaled): final Lloyd assignment after ``iters``
    exact (assign → floor-mean update) rounds plus one reporting assign
    under the final centroids.  ``cluster`` is the seed vector's id."""
    from creek_spark.operators.cachereg import register_cache

    qv = register_cache(quantize_vectors(df, id_col, vec_col, scale))
    cents = _init_centroids(qv, k)
    for _ in range(iters):
        assigned = _assign(qv, _cent_row(cents))
        cents = _update(assigned, cents)
    final = _assign(qv, _cent_row(cents))
    return final.select(
        F.col("id").alias(id_col),
        F.col("cid").alias("cluster"),
        F.col("dist").alias("dist_scaled"),
    )


def kmeans_summary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 8,
    iters: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """(cluster, n_points, inertia_scaled): per-cluster size and exact
    integer inertia under the final centroids."""
    a = kmeans_assignments(
        df, id_col, vec_col, k=k, iters=iters, scale=scale
    )
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("dist_scaled").cast("bigint").alias("inertia_scaled"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 8,
    iters: int = 2,
    scale: int = 10**6,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embeddings, then inside
    each cluster drop every vector whose cosine similarity to an
    earlier-id cluster member is ≥ ``threshold``.

    Output — one row per input vector:
        (id, cluster, removed boolean, dup_of bigint|null, max_sim double|null)
    ``dup_of`` is the smallest offending earlier id; kept rows carry
    nulls.  The "earlier id wins" rank is the paper's one-pass rule
    (remove j when ∃ i<j in-cluster with sim ≥ τ) — deliberately NOT the
    iterative greedy against the kept-set, so the decision for each row
    is independent and the whole operator is two joins, no fixed point.

    Scale: the pair space is |cluster|²-bounded (never corpus²) — the
    k-means blocking is the point of SemDeDup; assignment itself is a
    broadcast-centroid map (zero corpus shuffle, see kmeans_assignments).
    Norms are computed once per row before the self-join, and dot
    products are exact decimal folds (similarity._exact_dot) so the
    result is bit-stable across engines and partitionings.
    """
    from creek_spark.operators.similarity import _exact_dot

    asg = kmeans_assignments(
        df, id_col, vec_col, k=k, iters=iters, scale=scale
    ).select(F.col(id_col).alias("_id"), "cluster")
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .join(asg, "_id")
        .withColumn("_norm_sq", _exact_dot("_vec", "_vec"))
    )
    a = base.select(
        F.col("_id").alias("id_a"),
        F.col("cluster").alias("_c"),
        F.col("_vec").alias("_va"),
        F.col("_norm_sq").alias("_na"),
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        F.col("cluster").alias("_c"),
        F.col("_vec").alias("_vb"),
        F.col("_norm_sq").alias("_nb"),
    )
    sims = (
        a.join(b, "_c")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            _exact_dot("_va", "_vb").cast("double")
            / (
                F.sqrt(F.col("_na").cast("double"))
                * F.sqrt(F.col("_nb").cast("double"))
            ),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )
    removed = sims.groupBy("id_b").agg(
        F.min("id_a").alias("dup_of"), F.max("cos_sim").alias("max_sim")
    )
    return (
        base.select("_id", "cluster")
        .join(removed, base["_id"] == removed["id_b"], "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.col("id_b").isNotNull().alias("removed"),
            "dup_of",
            "max_sim",
        )
    )


def pca_power_top_component(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Top principal direction (uncentered PCA / leading right singular
    vector of X) by power iteration on integer-quantized vectors — the
    iterative linear-algebra sibling of the exact k-means: every step is
    integer arithmetic, so the whole loop is oracle-exact.

      x   = floor(emb · scale)                  (BIGINT components)
      v₀  = 1⃗
      d   = x · vₜ per row;  w_j = Σ_rows x_j·d  (one tiny per-dim agg)
      vₜ₊₁ = w div max(max|w| div scale, 1)      (re-quantized to ±scale;
                                                 div truncates toward 0
                                                 in BOTH engines)

    Returns (pos 1-based, q = quantized component, loading = q/‖q‖₂ as
    double).  Scale shape: per iteration one map-side dot product (JVM
    zip_with/aggregate HOFs over the packed array) + a posexplode
    aggregate that partial-aggs to ≤ dim rows per task before the
    exchange; the current vector rides along as a one-row crossJoin
    (broadcast) — zero corpus shuffle, no driver round-trip, fixed
    iteration count so lineage is bounded.  Magnitude bound: |w| ≤
    N·(scale·|x|ₘₐₓ)²·dim keeps BIGINT sums exact to N ≈ 10⁸ rows at
    scale=1000; raise to decimal sums before raising either knob.

    The quantized corpus is a registered cache (each iteration's d and w
    passes read it; LRU eviction just falls back to the scan)."""
    from creek_spark.operators.cachereg import register_cache

    qv = register_cache(
        df.select(
            F.col(id_col).alias("id"),
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * scale).cast("bigint"),
            ).alias("v"),
        )
    )
    vec = None  # one-row frame (vq: array<bigint>), None ⇒ v₀ = ones
    for _ in range(iters):
        if vec is None:
            d = F.aggregate(
                F.col("v"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
            )
            rows = qv.select(d.alias("d"), F.posexplode("v").alias("p0", "x"))
        else:
            d = F.aggregate(
                F.zip_with(F.col("v"), F.col("vq"), lambda x, q: x * q),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            rows = qv.crossJoin(F.broadcast(vec)).select(
                d.alias("d"), F.posexplode("v").alias("p0", "x")
            )
        w = rows.groupBy("p0").agg(
            F.sum(F.col("x") * F.col("d")).cast("bigint").alias("w")
        )
        mw = w.agg(F.max(F.abs(F.col("w"))).alias("mw"))
        nxt = (
            w.crossJoin(F.broadcast(mw))
            .select(
                "p0",
                F.expr(f"w div greatest(mw div {scale}, 1)").alias("q"),
            )
        )
        vec = nxt.groupBy().agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p0", "q"))),
                lambda s: s["q"],
            ).alias("vq")
        )
    nq = F.aggregate(
        F.col("vq"), F.lit(0).cast("bigint"), lambda acc, q: acc + q * q
    )
    return (
        vec.select(nq.alias("nq"), F.posexplode("vq").alias("p0", "q"))
        .select(
            (F.col("p0") + 1).cast("int").alias("pos"),
            "q",
            (
                F.col("q").cast("double")
                / F.sqrt(F.col("nq").cast("double"))
            ).alias("loading"),
        )
        .orderBy("pos")
    )
