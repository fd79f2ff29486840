"""Catalog domain: similarity search and embedding analytics over the
`embeddings` table — exact top-k, LSH, IVF, PQ and IVFPQ (plain,
reranked, residual ADC), k-means, per-dimension statistics and PCA by
power iteration.

Each oracle is generated from the same parameters the Spark operator
uses, so both sides run the same algorithm by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.operators import similarity as sim
from creek_spark.queries import _t, register
from creek_spark.query_parts import KM_ITERS, KM_K, KM_SCALE, kmeans_ctes


SIM_ORACLE = """
WITH q AS (SELECT vec_id AS q_id, embedding AS e FROM embeddings WHERE vec_id < 10),
qp AS (SELECT q_id, unnest(generate_series(1, len(e))) AS pos,
              unnest([CAST(x AS DOUBLE) FOR x IN e]) AS qv FROM q),
cp AS (SELECT vec_id AS n_id, unnest(generate_series(1, len(embedding))) AS pos,
              unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS cv FROM embeddings),
dots AS (SELECT q_id, n_id, SUM(CAST(qv * cv AS DECIMAL(38,12))) AS dot
         FROM qp JOIN cp USING (pos) GROUP BY q_id, n_id),
norms AS (SELECT vec_id AS id,
                 SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(38,12))) AS ns
          FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) u
          GROUP BY vec_id),
scored AS (SELECT q_id, n_id,
                  CAST(dot AS DOUBLE) / (sqrt(CAST(qn.ns AS DOUBLE)) * sqrt(CAST(cn.ns AS DOUBLE))) AS cos_sim
           FROM dots JOIN norms qn ON qn.id = dots.q_id
                     JOIN norms cn ON cn.id = dots.n_id
           WHERE q_id <> n_id)
SELECT q_id, n_id, cos_sim, rnk FROM (
  SELECT q_id, n_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rnk
  FROM scored) r
WHERE rnk <= 5
"""


@register("similarity_topk", SIM_ORACLE, "similarity", headline=True)
def similarity_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 for 10 query vectors against the
    whole corpus; exact-decimal dot products for cross-engine parity.
    (bench uses the zip_with fast path: cosine_topk_fast.)"""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.cosine_topk(emb, queries, k=5)


ANN_DIM = 64
ANN_PLANES = 6
ANN_CELLS = 16
ANN_NPROBE = 8

# Shared oracle CTEs: per-dimension double values and decimal norm-squares
# (the engine's _exact_dot quantizes each product to DECIMAL(…,12) and sums
# exactly, so any summation order — Spark fold or SQL GROUP BY — agrees).
_ANN_EP = """
ep AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS d,
              unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS v FROM embeddings),
norms AS (SELECT vec_id AS id, SUM(CAST(v * v AS DECIMAL(25,12))) AS ns
          FROM ep GROUP BY vec_id)"""

_ANN_SCORE = """
dots AS (SELECT pr.q_id, pr.n_id, SUM(CAST(qe.v * ce.v AS DECIMAL(25,12))) AS dot
         FROM pairs pr
         JOIN ep qe ON qe.vec_id = pr.q_id
         JOIN ep ce ON ce.vec_id = pr.n_id AND ce.d = qe.d
         GROUP BY pr.q_id, pr.n_id),
scored AS (SELECT d.q_id, d.n_id,
                  CAST(d.dot AS DOUBLE)
                    / (sqrt(CAST(qn.ns AS DOUBLE)) * sqrt(CAST(cn.ns AS DOUBLE))) AS cos_sim
           FROM dots d JOIN norms qn ON qn.id = d.q_id
                       JOIN norms cn ON cn.id = d.n_id)
SELECT q_id, n_id, cos_sim, rnk FROM (
  SELECT q_id, n_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rnk
  FROM scored) r
WHERE rnk <= {k}"""


def _lsh_oracle(dim: int = ANN_DIM, n_planes: int = ANN_PLANES, k: int = 5) -> str:
    """LSH ANN oracle generated from the SAME md5-derived ±1 weight matrix
    the Spark operator inlines (sim.hyperplane_weights) — both engines are
    the same projection by construction."""
    values = ", ".join(
        f"({p}, [{', '.join(str(int(w)) for w in ws)}])"
        for p, ws in enumerate(sim.hyperplane_weights(dim, n_planes))
    )
    return f"""
WITH planes(p, w) AS (VALUES {values}),
{_ANN_EP},
wp AS (SELECT p, unnest(generate_series(1, len(w))) AS d, unnest(w) AS wv FROM planes),
plane_sums AS (SELECT e.vec_id, wp.p, SUM(CAST(e.v * wp.wv AS DECIMAL(25,12))) AS s
               FROM ep e JOIN wp USING (d) GROUP BY e.vec_id, wp.p),
sigs AS (SELECT vec_id, CAST(SUM(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END) AS INTEGER) AS bucket
         FROM plane_sums GROUP BY vec_id),
pairs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id
          FROM sigs q JOIN sigs c ON q.bucket = c.bucket
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
{_ANN_SCORE.format(k=k)}
"""


def _ivf_oracle(n_cells: int = ANN_CELLS, nprobe: int = ANN_NPROBE, k: int = 5) -> str:
    """IVF ANN oracle: centroids are the n_cells smallest md5(id) vectors
    (same seedless draw as sim.ivf_centroids); assignment and probing rank
    by the same decimal-exact cosine with the same cent_ord tie-break."""
    return f"""
WITH {_ANN_EP.lstrip()},
cents AS (SELECT vec_id AS cent_id,
                 CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS cent_ord
          FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {n_cells}),
cd AS (SELECT a.vec_id AS id, ce.cent_id, ce.cent_ord,
              SUM(CAST(a.v * b.v AS DECIMAL(25,12))) AS dot
       FROM ep a
       JOIN cents ce ON TRUE
       JOIN ep b ON b.vec_id = ce.cent_id AND b.d = a.d
       GROUP BY a.vec_id, ce.cent_id, ce.cent_ord),
cent_sims AS (SELECT cd.id, cd.cent_id, cd.cent_ord,
                     CAST(cd.dot AS DOUBLE)
                       / (sqrt(CAST(n1.ns AS DOUBLE)) * sqrt(CAST(n2.ns AS DOUBLE))) AS sim
              FROM cd JOIN norms n1 ON n1.id = cd.id
                      JOIN norms n2 ON n2.id = cd.cent_id),
cells AS (SELECT id AS n_id, cent_id AS cell_id FROM (
            SELECT id, cent_id,
                   row_number() OVER (PARTITION BY id ORDER BY sim DESC, cent_ord) AS r
            FROM cent_sims) t WHERE r = 1),
probes AS (SELECT id AS q_id, cent_id AS cell_id FROM (
            SELECT id, cent_id,
                   row_number() OVER (PARTITION BY id ORDER BY sim DESC, cent_ord) AS r
            FROM cent_sims WHERE id < 10) t WHERE r <= {nprobe}),
pairs AS (SELECT p.q_id, c.n_id
          FROM probes p JOIN cells c ON c.cell_id = p.cell_id
          WHERE p.q_id <> c.n_id),
{_ANN_SCORE.format(k=k)}
"""


@register("similarity_lsh", _lsh_oracle(), "similarity")
def similarity_lsh(spark, sf_dir):
    """Random-hyperplane LSH ANN (fixed planes, zero index shuffle), run
    decimal-exact so bucket membership, candidate set, scores and ranks
    are all bit-reproducible in the generated DuckDB oracle.  Recall < 1
    by design (floors pytest-gated in tests/test_similarity.py); the
    oracle proves the approximation itself is computed correctly."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.lsh_bucket_topk(
        emb, queries, dim=ANN_DIM, n_planes=ANN_PLANES, k=5, exact=True
    )


@register("similarity_ivf", _ivf_oracle(), "similarity")
def similarity_ivf(spark, sf_dir):
    """IVF coarse-quantization ANN (data-adaptive cells, probes 3 of 16),
    decimal-exact end to end: centroid choice, cell assignment (max_by
    partial agg, N-row exchange), probe ranking and final top-k all match
    the generated DuckDB oracle bit for bit."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.ivf_topk(
        emb, queries, k=5, n_cells=ANN_CELLS, nprobe=ANN_NPROBE, exact=True
    )


ANN_PQ_M = 8
ANN_PQ_CODES = 64


def _pq_oracle(dim: int = ANN_DIM, m: int = ANN_PQ_M, n_codes: int = ANN_PQ_CODES, k: int = 5) -> str:
    """PQ/ADC oracle: same md5-drawn codebook, same decimal-quantized
    squared-distance argmin encoding (ties → smallest code ordinal),
    same decimal LUT partial dot products summed per (query, candidate)."""
    sub = dim // m
    return f"""
WITH {_ANN_EP.lstrip()},
cb AS (SELECT cid, CAST(row_number() OVER (ORDER BY mkey, cid) - 1 AS INTEGER) AS t FROM (
         SELECT vec_id AS cid, md5(CAST(vec_id AS VARCHAR)) AS mkey
         FROM embeddings ORDER BY mkey, cid LIMIT {n_codes}) s),
cbe AS (SELECT cb.t, ep.d, ep.v, CAST((ep.d - 1) // {sub} AS INTEGER) AS j
        FROM cb JOIN ep ON ep.vec_id = cb.cid),
cpe AS (SELECT vec_id AS n_id, d, v, CAST((d - 1) // {sub} AS INTEGER) AS j FROM ep),
dists AS (SELECT c.n_id, c.j, b.t,
                 SUM(CAST((c.v - b.v) * (c.v - b.v) AS DECIMAL(25,12))) AS dist
          FROM cpe c JOIN cbe b ON b.j = c.j AND b.d = c.d
          GROUP BY c.n_id, c.j, b.t),
codes AS (SELECT n_id, j, t AS code FROM (
            SELECT n_id, j, t,
                   row_number() OVER (PARTITION BY n_id, j ORDER BY dist, t) AS rn
            FROM dists) r WHERE rn = 1),
qe AS (SELECT vec_id AS q_id, d, v, CAST((d - 1) // {sub} AS INTEGER) AS j
       FROM ep WHERE vec_id < 10),
lut AS (SELECT q.q_id, q.j, b.t, SUM(CAST(q.v * b.v AS DECIMAL(25,12))) AS pdot
        FROM qe q JOIN cbe b ON b.j = q.j AND b.d = q.d
        GROUP BY q.q_id, q.j, b.t),
adc AS (SELECT l.q_id, c.n_id, SUM(l.pdot) AS dot
        FROM codes c JOIN lut l ON l.j = c.j AND l.t = c.code
        WHERE l.q_id <> c.n_id
        GROUP BY l.q_id, c.n_id),
scored AS (SELECT a.q_id, a.n_id,
                  CAST(a.dot AS DOUBLE)
                    / (sqrt(CAST(qn.ns AS DOUBLE)) * sqrt(CAST(cn.ns AS DOUBLE))) AS adc_sim
           FROM adc a JOIN norms qn ON qn.id = a.q_id
                      JOIN norms cn ON cn.id = a.n_id)
SELECT q_id, n_id, adc_sim, rnk FROM (
  SELECT q_id, n_id, adc_sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, n_id) AS INTEGER) AS rnk
  FROM scored) r
WHERE rnk <= {k}
"""


def _ivfpq_oracle(
    dim: int = ANN_DIM,
    m: int = ANN_PQ_M,
    n_codes: int = ANN_PQ_CODES,
    n_cells: int = ANN_CELLS,
    nprobe: int = ANN_NPROBE,
    k: int = 5,
    rerank: int = 0,
    residual: bool = False,
) -> str:
    """IVFADC oracle: the IVF cell/probe CTEs (verbatim from
    `_ivf_oracle`, both already driver-proven) restrict the PQ ADC sum
    (verbatim from `_pq_oracle`) to probed-cell candidate pairs.

    ``residual``: codebook values and corpus encode inputs become
    x − c_cell (double-exact subtraction joining each id's `cells` row
    back to the centroid's raw values), and the ADC dot adds the
    q·c_cell term — already computed for every (id, centroid) pair in
    the `cd` CTE — before the LUT sum.  Mirrors
    operators/similarity.py pq_residual_codebook / _adc_sim_col
    (with_cdot=True) term for term."""
    sub = dim // m
    tail = _ivfpq_tail_rerank(k, rerank) if rerank else _ivfpq_tail_plain(k)
    if residual:
        cbe = f"""cbe AS (SELECT cb.t, e.d, CAST(e.v - ce.v AS DOUBLE) AS v,
               CAST((e.d - 1) // {sub} AS INTEGER) AS j
        FROM cb JOIN cells cl ON cl.n_id = cb.cid
        JOIN ep e ON e.vec_id = cb.cid
        JOIN ep ce ON ce.vec_id = cl.cell_id AND ce.d = e.d)"""
        cpe = f"""cpe AS (SELECT e.vec_id AS n_id, e.d, CAST(e.v - ce.v AS DOUBLE) AS v,
               CAST((e.d - 1) // {sub} AS INTEGER) AS j
        FROM ep e JOIN cells cl ON cl.n_id = e.vec_id
        JOIN ep ce ON ce.vec_id = cl.cell_id AND ce.d = e.d)"""
        adc = """adc AS (SELECT p.q_id, p.n_id,
               CAST(qc.dot + SUM(l.pdot) AS DECIMAL(25,12)) AS dot
        FROM pairs p
        JOIN cells cl ON cl.n_id = p.n_id
        JOIN cd qc ON qc.id = p.q_id AND qc.cent_id = cl.cell_id
        JOIN codes c ON c.n_id = p.n_id
        JOIN lut l ON l.q_id = p.q_id AND l.j = c.j AND l.t = c.code
        GROUP BY p.q_id, p.n_id, qc.dot)"""
    else:
        cbe = f"""cbe AS (SELECT cb.t, ep.d, ep.v, CAST((ep.d - 1) // {sub} AS INTEGER) AS j
        FROM cb JOIN ep ON ep.vec_id = cb.cid)"""
        cpe = f"""cpe AS (SELECT vec_id AS n_id, d, v, CAST((d - 1) // {sub} AS INTEGER) AS j FROM ep)"""
        adc = """adc AS (SELECT p.q_id, p.n_id, SUM(l.pdot) AS dot
        FROM pairs p
        JOIN codes c ON c.n_id = p.n_id
        JOIN lut l ON l.q_id = p.q_id AND l.j = c.j AND l.t = c.code
        GROUP BY p.q_id, p.n_id)"""
    return f"""
WITH {_ANN_EP.lstrip()},
cents AS (SELECT vec_id AS cent_id,
                 CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS cent_ord
          FROM embeddings
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {n_cells}),
cd AS (SELECT a.vec_id AS id, ce.cent_id, ce.cent_ord,
              SUM(CAST(a.v * b.v AS DECIMAL(25,12))) AS dot
       FROM ep a
       JOIN cents ce ON TRUE
       JOIN ep b ON b.vec_id = ce.cent_id AND b.d = a.d
       GROUP BY a.vec_id, ce.cent_id, ce.cent_ord),
cent_sims AS (SELECT cd.id, cd.cent_id, cd.cent_ord,
                     CAST(cd.dot AS DOUBLE)
                       / (sqrt(CAST(n1.ns AS DOUBLE)) * sqrt(CAST(n2.ns AS DOUBLE))) AS sim
              FROM cd JOIN norms n1 ON n1.id = cd.id
                      JOIN norms n2 ON n2.id = cd.cent_id),
cells AS (SELECT id AS n_id, cent_id AS cell_id FROM (
            SELECT id, cent_id,
                   row_number() OVER (PARTITION BY id ORDER BY sim DESC, cent_ord) AS r
            FROM cent_sims) t WHERE r = 1),
probes AS (SELECT id AS q_id, cent_id AS cell_id FROM (
            SELECT id, cent_id,
                   row_number() OVER (PARTITION BY id ORDER BY sim DESC, cent_ord) AS r
            FROM cent_sims WHERE id < 10) t WHERE r <= {nprobe}),
pairs AS (SELECT p.q_id, c.n_id
          FROM probes p JOIN cells c ON c.cell_id = p.cell_id
          WHERE p.q_id <> c.n_id),
cb AS (SELECT cid, CAST(row_number() OVER (ORDER BY mkey, cid) - 1 AS INTEGER) AS t FROM (
         SELECT vec_id AS cid, md5(CAST(vec_id AS VARCHAR)) AS mkey
         FROM embeddings ORDER BY mkey, cid LIMIT {n_codes}) s),
{cbe},
{cpe},
dists AS (SELECT c.n_id, c.j, b.t,
                 SUM(CAST((c.v - b.v) * (c.v - b.v) AS DECIMAL(25,12))) AS dist
          FROM cpe c JOIN cbe b ON b.j = c.j AND b.d = c.d
          GROUP BY c.n_id, c.j, b.t),
codes AS (SELECT n_id, j, t AS code FROM (
            SELECT n_id, j, t,
                   row_number() OVER (PARTITION BY n_id, j ORDER BY dist, t) AS rn
            FROM dists) r WHERE rn = 1),
qe AS (SELECT vec_id AS q_id, d, v, CAST((d - 1) // {sub} AS INTEGER) AS j
       FROM ep WHERE vec_id < 10),
lut AS (SELECT q.q_id, q.j, b.t, SUM(CAST(q.v * b.v AS DECIMAL(25,12))) AS pdot
        FROM qe q JOIN cbe b ON b.j = q.j AND b.d = q.d
        GROUP BY q.q_id, q.j, b.t),
{adc},
scored AS (SELECT a.q_id, a.n_id,
                  CAST(a.dot AS DOUBLE)
                    / (sqrt(CAST(qn.ns AS DOUBLE)) * sqrt(CAST(cn.ns AS DOUBLE))) AS adc_sim
           FROM adc a JOIN norms qn ON qn.id = a.q_id
                      JOIN norms cn ON cn.id = a.n_id){tail}
"""


def _ivfpq_tail_plain(k: int) -> str:
    return f"""
SELECT q_id, n_id, adc_sim, rnk FROM (
  SELECT q_id, n_id, adc_sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, n_id) AS INTEGER) AS rnk
  FROM scored) r
WHERE rnk <= {k}"""


def _ivfpq_tail_rerank(k: int, rerank: int) -> str:
    """Exact-cosine refinement of the top-``rerank`` ADC candidates —
    the decimal dot/norm arithmetic is the driver-proven SIM_ORACLE
    pattern, applied to the ADC-ranked candidate set."""
    return f""",
adc_rank AS (SELECT q_id, n_id FROM (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, n_id) AS rn
  FROM scored) r WHERE rn <= {rerank}),
ex AS (SELECT ar.q_id, ar.n_id,
              SUM(CAST(a.v * b.v AS DECIMAL(25,12))) AS dot
       FROM adc_rank ar
       JOIN ep a ON a.vec_id = ar.q_id
       JOIN ep b ON b.vec_id = ar.n_id AND b.d = a.d
       GROUP BY ar.q_id, ar.n_id)
SELECT q_id, n_id, cos_sim, rnk FROM (
  SELECT e.q_id, e.n_id,
         CAST(e.dot AS DOUBLE)
           / (sqrt(CAST(qn.ns AS DOUBLE)) * sqrt(CAST(cn.ns AS DOUBLE))) AS cos_sim,
         CAST(row_number() OVER (
           PARTITION BY e.q_id
           ORDER BY CAST(e.dot AS DOUBLE)
                      / (sqrt(CAST(qn.ns AS DOUBLE)) * sqrt(CAST(cn.ns AS DOUBLE))) DESC,
                    e.n_id) AS INTEGER) AS rnk
  FROM ex e JOIN norms qn ON qn.id = e.q_id
            JOIN norms cn ON cn.id = e.n_id) t
WHERE rnk <= {k}"""


@register("similarity_ivfpq", _ivfpq_oracle(), "similarity")
def similarity_ivfpq(spark, sf_dir):
    """IVFADC raw ADC ranking (probe 8 of 16 cells, 8×64 codes, no
    rerank) — decimal-exact end to end so cells, probes, codes, scores
    and ranks all match the assembled DuckDB oracle bit for bit.  The
    PRODUCT default adds the exact-cosine rerank (next entry)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.ivfpq_topk(
        emb,
        queries,
        dim=ANN_DIM,
        m=ANN_PQ_M,
        n_codes=ANN_PQ_CODES,
        n_cells=ANN_CELLS,
        nprobe=ANN_NPROBE,
        k=5,
        rerank=0,
    )


@register("similarity_ivfpq_rerank", _ivfpq_oracle(rerank=sim.DEFAULT_RERANK), "similarity")
def similarity_ivfpq_rerank(spark, sf_dir):
    """IVFADC at the shipped defaults — exact-cosine rerank of the
    top-100 ADC candidates (recall@5 ≈ 0.72 on the unstructured bench
    corpus, gated in test_similarity) —
    the recall-restoring refinement as a fully ORACLED operator: cells,
    probes, codes, the ADC candidate ranking AND the exact rescoring all
    reproduce in the generated ANSI-SQL oracle bit for bit.  Candidate
    ids are a tiny broadcast joined back to the co-located vectors; at
    100 TB this is the standard candidates→store lookup
    (operators/similarity.py ivfpq_topk(rerank=...) / ivfpq_search)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.ivfpq_topk(
        emb,
        queries,
        dim=ANN_DIM,
        m=ANN_PQ_M,
        n_codes=ANN_PQ_CODES,
        n_cells=ANN_CELLS,
        nprobe=ANN_NPROBE,
        k=5,
        rerank=sim.DEFAULT_RERANK,
    )


@register(
    "similarity_ivfadc_residual", _ivfpq_oracle(residual=True), "similarity"
)
def similarity_ivfadc_residual(spark, sf_dir):
    """IVFADC with RESIDUAL product codes (Jégou et al. §IV): codes
    quantize r = x − c_cell against a residual-trained codebook and the
    ADC estimate is q·c_cell + q·r̂ — the q·c term rides the probe row
    (one exact dot per probed cell, never per candidate) and the LUT
    stays one-per-query.  Decimal-exact end to end — cell assignment,
    the double-exact residual subtraction, codes, LUTs, the seeded ADC
    sum — so the DuckDB oracle reproduces every row bit for bit.

    Shipped honestly as a NON-default: residual coding wins when the
    corpus clusters (residual variance < raw variance — real embedding
    corpora); on this synthetic unstructured corpus ‖x − c‖ ≈ √2·‖x‖
    and raw codes rank better, so `ivfpq_index_build(residual=None)`
    auto-picks raw here.  This row pins the residual path's full
    cross-engine determinism at the same 8×64-code operating point."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.ivfpq_topk(
        emb,
        queries,
        dim=ANN_DIM,
        m=ANN_PQ_M,
        n_codes=ANN_PQ_CODES,
        n_cells=ANN_CELLS,
        nprobe=ANN_NPROBE,
        k=5,
        rerank=0,
        residual=True,
    )


@register("similarity_pq", _pq_oracle(), "similarity")
def similarity_pq(spark, sf_dir):
    """Product-quantization ANN (8 sub-quantizers × 16 codes, ADC scan):
    the memory-compressed scale path — each candidate costs m table
    lookups instead of dim multiplies, and the stored index is m codes +
    one norm per vector.  Decimal-exact end to end (md5 codebook draw,
    quantized sq-distance argmin encoding, LUT partial dot products), so
    codes, scores and ranks match the generated DuckDB oracle bit for
    bit.  Recall floors pytest-gated in tests/test_similarity.py; the
    rerank refinement is covered there too."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.pq_topk(
        emb, queries, dim=ANN_DIM, m=ANN_PQ_M, n_codes=ANN_PQ_CODES, k=5
    )


def _kmeans_oracle(k: int = KM_K, iters: int = KM_ITERS, s: int = KM_SCALE) -> str:
    ctes, final = kmeans_ctes(k, iters, s)
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(dist) AS BIGINT) AS inertia_scaled
    FROM {final} GROUP BY cid
    """


@register("embedding_kmeans", _kmeans_oracle(), "similarity")
def embedding_kmeans(spark, sf_dir):
    """Distributed k-means (2 exact Lloyd rounds + reporting assign) on
    integer-quantized embeddings.  Assignment is a map-side fold over one
    broadcast centroid row (zero corpus shuffle); the centroid update's
    posexplode collapses to k·dim rows per task via partial aggregation —
    per iteration: one corpus scan, no corpus-sized exchange."""
    from creek_spark.operators.clustering import kmeans_summary

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_summary(
        emb, "vec_id", "embedding", k=KM_K, iters=KM_ITERS, scale=KM_SCALE
    )


# =====================================================================
# embedding-dimension profiling
# =====================================================================

EMB_DIM_STATS_ORACLE = """
WITH pos AS (SELECT unnest(generate_series(1, len(embedding))) AS dim,
                    unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS v
             FROM embeddings),
a AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(FLOOR(v * 1000000000.0) AS DECIMAL(38,0))) AS s,
             SUM(CAST(FLOOR(v * v * 1000000000000.0) AS DECIMAL(38,0))) AS ss,
             MIN(v) AS vmin, MAX(v) AS vmax
      FROM pos GROUP BY dim)
SELECT dim, n,
       CAST(s AS DOUBLE) / (1000000000.0 * CAST(n AS DOUBLE)) AS mean,
       CAST(ss AS DOUBLE) / (1000000000000.0 * CAST(n AS DOUBLE))
           - (CAST(s AS DOUBLE) / (1000000000.0 * CAST(n AS DOUBLE)))
             * (CAST(s AS DOUBLE) / (1000000000.0 * CAST(n AS DOUBLE))) AS variance,
       vmin, vmax
FROM a
"""


@register("embedding_dim_stats", EMB_DIM_STATS_ORACLE, "similarity")
def embedding_dim_stats_q(spark, sf_dir):
    """Per-dimension embedding statistics (count/mean/variance/min/max):
    the index-build sanity pass.  posexplode → hash aggregate on the
    dimension index (64 keys, map-side combine), decimal-sandwich sums,
    fixed-order IEEE mean/variance."""
    from creek_spark.operators.profile import embedding_dim_stats

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb, "embedding")


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
