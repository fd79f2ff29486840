"""Catalog domain: dedup over the `documents` and `embeddings` tables —
exact (digest, keep-best), MinHash-LSH (pairs, incremental, clusters,
cross-source matrix), SimHash, n-gram Jaccard, repeated passages,
embedding cosine and semantic (k-means) dedup.

The MinHash/SimHash oracle SQL is *generated* from the same (n_hashes,
bands, k, bits) parameters the Spark operators use, so both sides are the
same algorithm by construction; hashing is md5 (available and identical in
both engines).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.functions.text import norm_text
from creek_spark.operators import dedup as dd
from creek_spark.operators import similarity as sim
from creek_spark.operators import text as tx
from creek_spark.queries import _t, register
from creek_spark.query_parts import (
    BANDS,
    KM_ITERS,
    KM_K,
    KM_SCALE,
    N_HASHES,
    SHINGLE_K,
    SQL_NORM,
    SQL_TOKENS,
    STOP_LIST,
    TOKS,
    cluster_oracle,
    kmeans_ctes,
    minhash_oracle,
    sql_shingles,
)


JACCARD_K = 5
JACCARD_THRESHOLD = 0.8
MAX_SHINGLE_FREQ = 100
SIMHASH_BITS = 16


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_md5,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
    "dedup",
    headline=True,
)
def dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "text", "doc_id")


@register("dedup_minhash_lsh", minhash_oracle(), "dedup", headline=True)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: shingle → 16 minhashes → 4 banded
    signatures → bucket self-join.  The join keys on (band, sig), so cost
    is bucket-bounded — the property that survives 10⁹ documents."""
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(
        docs, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
    )


@register(
    "dedup_incremental",
    minhash_oracle(" AND (a.doc % 5 = 0 OR b.doc % 5 = 0)"),
    "dedup",
)
def dedup_incremental(spark, sf_dir):
    """Crawl-over-crawl dedup: the docs with doc_id % 5 = 0 play the NEW
    batch, the rest the already-indexed corpus.  Only the batch is
    shingled/hashed; the corpus side is its persisted (doc, band, sig)
    LSH index (operators/dedup.py minhash_index) — cost ∝ batch, never
    corpus.  Oracle: the full-corpus LSH pair set restricted to pairs
    touching the batch (sigs are per-doc, so the two formulations are
    identical — also proven row-level in tests/test_export_ops.py)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    index = dd.minhash_index(
        old, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
    )
    return dd.incremental_lsh_candidates(
        new, index, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
    )


def _simhash_oracle() -> str:
    signs = []
    for j in range(SIMHASH_BITS):
        nib = j // 4 + 1
        k = j % 4
        signs.append(
            f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(th, {nib}, 1)) - 1) >> {k}) & 1 = 1 "
            f"THEN 1 ELSE -1 END) AS s{j}"
        )
    signs_sql = ",\n           ".join(signs)
    total = " + ".join(
        f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tk AS (SELECT doc_id AS doc, unnest({TOKS}) AS tok FROM documents),
    h AS (SELECT doc, md5(tok) AS th FROM tk),
    s AS (SELECT doc, {signs_sql} FROM h GROUP BY doc)
    SELECT doc, CAST({total} AS INTEGER) AS simhash FROM s
    """


@register("dedup_simhash", _simhash_oracle(), "dedup")
def dedup_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash(docs, "text", "doc_id", bits=SIMHASH_BITS)


def _jaccard_oracle() -> str:
    return f"""
    WITH {sql_shingles(JACCARD_K)},
    freq_ok AS (SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= {MAX_SHINGLE_FREQ}),
    fsh AS (SELECT sh.doc, sh.shingle FROM sh JOIN freq_ok USING (shingle)),
    sizes AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS sz FROM fsh GROUP BY doc),
    inter AS (SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
              FROM fsh a JOIN fsh b ON a.shingle = b.shingle AND a.doc < b.doc
              GROUP BY a.doc, b.doc)
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
    WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= {JACCARD_THRESHOLD}
    """


@register("dedup_ngram_jaccard", _jaccard_oracle(), "dedup")
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 5-gram Jaccard ≥ 0.8 with a stop-shingle cap bounding the
    self-join fan-out (hot shingles contribute freq² pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        docs, "text", "doc_id",
        shingle_k=JACCARD_K, threshold=JACCARD_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    )


@register("dedup_clusters", cluster_oracle(), "dedup")
def dedup_clusters(spark, sf_dir):
    """LSH candidate pairs → duplicate clusters via min-label-propagation
    connected components (iterative: O(diameter) distributed rounds).
    The oracle computes the same components with a recursive transitive
    closure — exact match, not rows-only, despite being an iterative
    algorithm."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
    )
    return dd.connected_components(pairs)


EMB_DUP_THRESHOLD = 0.35

EMB_DUP_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
norms AS (SELECT vec_id AS id,
                 SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(38,12))) AS ns
          FROM (SELECT vec_id, unnest(embedding) AS v FROM e) u
          GROUP BY vec_id),
pos AS (SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS pos,
               unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS v
        FROM e),
dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                SUM(CAST(a.v * b.v AS DECIMAL(38,12))) AS dot
         FROM pos a JOIN pos b
           ON a.label = b.label AND a.pos = b.pos AND a.vec_id < b.vec_id
         GROUP BY a.vec_id, b.vec_id)
SELECT id_a, id_b, cos_sim FROM (
  SELECT id_a, id_b,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(na.ns AS DOUBLE)) * sqrt(CAST(nb.ns AS DOUBLE))) AS cos_sim
  FROM dots JOIN norms na ON na.id = id_a
            JOIN norms nb ON nb.id = id_b) s
WHERE cos_sim >= {EMB_DUP_THRESHOLD}
"""


@register("dedup_embedding_cosine", EMB_DUP_ORACLE, "dedup")
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label so the self-join
    is |block|²-bounded (the blocking key generalizes to an LSH bucket
    for unlabeled corpora — see similarity.hyperplane_sign_bits)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.embedding_near_dups(
        emb, id_col="vec_id", vec_col="embedding", block_col="label",
        threshold=EMB_DUP_THRESHOLD,
    )


PASSAGE_WINDOW = 10
PASSAGE_MIN_DOCS = 2


def _passages_oracle() -> str:
    """Same token CTE as the shingle oracles; aligned 10-token chunks,
    md5 digest, grouped across the corpus."""
    w = PASSAGE_WINDOW
    return f"""
    WITH toks AS (SELECT doc_id AS doc, {TOKS} AS t FROM documents),
    ch AS (SELECT doc, array_to_string(t[i*{w}+1 : i*{w}+{w}], ' ') AS chunk
           FROM toks, unnest(generate_series(0, len(t) // {w} - 1)) AS g(i))
    SELECT md5(chunk) AS passage_md5,
           CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc) AS BIGINT) AS first_doc
    FROM ch GROUP BY md5(chunk)
    HAVING COUNT(DISTINCT doc) >= {PASSAGE_MIN_DOCS}
    """


@register("dedup_passages", _passages_oracle(), "dedup")
def dedup_passages(spark, sf_dir):
    """Passage-level exact dedup: aligned 10-token chunks repeated across
    ≥2 documents — the boilerplate/template leak doc-level dedup misses.
    One scan + one explode (fewer rows than the token stream) + one
    hash-agg on the uniform md5 digest; skew-free at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    return dd.repeated_passages(
        docs, "text", "doc_id", window=PASSAGE_WINDOW, min_docs=PASSAGE_MIN_DOCS
    )


def _dedup_keep_best_oracle() -> str:
    """Exact-dup groups on the normalized-text digest over the corpus ∪
    a punctuation-damaged copy of every document (same normalized text,
    strictly worse punct_ratio → lower quality): the kept representative
    must be the clean original, by QUALITY, not by id."""
    toks = SQL_TOKENS.format(c="u.text")
    norm = SQL_NORM.format(c="u.text")
    quality = f"""(CASE WHEN len({toks}) >= 5 THEN 1.0 ELSE 0.0 END)
             * (1.0 - CAST(length(u.text) - length(regexp_replace(u.text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                      / CAST(length(u.text) AS DOUBLE))
             * (0.5 + CAST(len(list_filter({toks}, x -> x IN ({STOP_LIST}))) AS DOUBLE)
                      / CAST(len({toks}) AS DOUBLE))"""
    return f"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' !!!! ???? ####' FROM documents),
    m AS (SELECT u.doc_id, {quality} AS quality_score, md5({norm}) AS h
          FROM u),
    r AS (SELECT doc_id, h, quality_score,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY quality_score DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY h) AS n
          FROM m),
    kept AS (SELECT h, doc_id AS kept_as FROM r WHERE rn = 1)
    SELECT r.doc_id, k.kept_as, CAST(r.n AS BIGINT) AS n_copies
    FROM r JOIN kept k ON k.h = r.h
    WHERE r.n > 1 AND r.rn > 1
    """


@register("dedup_exact_keep_best", _dedup_keep_best_oracle(), "dedup")
def dedup_exact_keep_best(spark, sf_dir):
    """Exact dedup that keeps the BEST copy: the corpus plus a
    punctuation-damaged twin of every document (same normalized text —
    the md5 group key — but strictly lower text_metrics quality) is
    deduped by digest, and within each group the highest quality score
    survives (doc_id tiebreak); the rest emit (doc_id, kept_as,
    n_copies).  The production refinement of keep-smallest-id dedup —
    near-identical crawls differ in truncation/encoding damage and you
    keep the cleanest.  Single scan + ONE digest-keyed window shuffle;
    the kept-representative join rides the same hash key."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    damaged = docs.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" !!!! ???? ####")).alias("text"),
    )
    u = docs.unionByName(damaged)
    m = tx.text_metrics(u, "text", "doc_id", keep=("text",)).select(
        "doc_id", "quality_score",
        F.md5(norm_text(F.col("text"))).alias("h"),
    )
    w = Window.partitionBy("h").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("h")
    r = m.select(
        "doc_id", "h", "quality_score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    kept = r.where(F.col("rn") == 1).select(
        "h", F.col("doc_id").alias("kept_as")
    )
    return (
        r.join(kept, "h")
        .where((F.col("n") > 1) & (F.col("rn") > 1))
        .select("doc_id", "kept_as", F.col("n").cast("bigint").alias("n_copies"))
    )


SEMDEDUP_THRESHOLD = 0.35


def _semdedup_oracle(
    k: int = KM_K, iters: int = KM_ITERS, s: int = KM_SCALE,
    tau: float = SEMDEDUP_THRESHOLD,
) -> str:
    """SemDeDup oracle: the unrolled-Lloyd assignment CTEs as the
    blocking key, then in-cluster upper-triangular cosine (exact decimal
    dot, same shape the green similarity_topk oracle uses) and the
    paper's one-pass "remove j when ∃ i<j with sim ≥ τ" rule."""
    ctes, final = kmeans_ctes(k, iters, s)
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    asg AS (SELECT id, cid FROM {final}),
    ep AS (SELECT vec_id AS id, unnest(generate_series(1, len(embedding))) AS pos,
                  unnest([CAST(x AS DOUBLE) FOR x IN embedding]) AS ev
           FROM embeddings),
    norms AS (SELECT vec_id AS id,
                     SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS ns
              FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) u
              GROUP BY vec_id),
    pairs AS (SELECT a.id AS id_a, b.id AS id_b
              FROM asg a JOIN asg b ON a.cid = b.cid AND a.id < b.id),
    dots AS (SELECT p.id_a, p.id_b,
                    SUM(CAST(ea.ev * eb.ev AS DECIMAL(38,12))) AS dot
             FROM pairs p
             JOIN ep ea ON ea.id = p.id_a
             JOIN ep eb ON eb.id = p.id_b AND eb.pos = ea.pos
             GROUP BY p.id_a, p.id_b),
    sims AS (SELECT id_a, id_b,
                    CAST(dot AS DOUBLE)
                      / (sqrt(CAST(na.ns AS DOUBLE)) * sqrt(CAST(nb.ns AS DOUBLE))) AS cs
             FROM dots
             JOIN norms na ON na.id = dots.id_a
             JOIN norms nb ON nb.id = dots.id_b),
    rem AS (SELECT id_b, MIN(id_a) AS dup_of, MAX(cs) AS max_sim
            FROM sims WHERE cs >= {tau} GROUP BY id_b)
    SELECT asg.id AS vec_id, asg.cid AS cluster,
           (rem.id_b IS NOT NULL) AS removed, rem.dup_of, rem.max_sim
    FROM asg LEFT JOIN rem ON rem.id_b = asg.id
    """


@register("dedup_semantic", _semdedup_oracle(), "dedup")
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means blocking + in-cluster
    cosine ≥ τ against any earlier id → removed, with the surviving
    representative (smallest offending id) attached.

    Scale: pair space is |cluster|²-bounded — the clustering IS the
    blocking; assignment is a broadcast-centroid map-side fold (zero
    corpus shuffle per Lloyd round), norms precomputed pre-join, dots
    exact decimal folds in whole-stage codegen."""
    from creek_spark.operators.clustering import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding",
        k=KM_K, iters=KM_ITERS, scale=KM_SCALE,
        threshold=SEMDEDUP_THRESHOLD,
    )


# =====================================================================
# cross-source duplication matrix
# =====================================================================


def _cross_source_oracle() -> str:
    return f"""
    WITH p AS ({minhash_oracle()}),
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
