"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious and expressible with JVM built-ins
(no Python in the hot path):

  * exact_dedup          — hash-groupBy on content digest (one shuffle)
  * MinHash + LSH        — shingle → K minhashes → banded signatures →
                           bucket self-join; candidate pairs only ever
                           compare within a bucket, so the join is
                           |bucket|²-bounded, not |corpus|²
  * SimHash              — 16-bit md5-derived simhash per document
  * n-gram Jaccard       — exact Jaccard on shingle sets for candidate
                           verification, with a stop-shingle frequency cap
                           so hot shingles can't quadratically blow up the
                           self-join at scale

Hashing is md5-based (not Spark's xxhash64) so every operator is
bit-identical to an ANSI-SQL oracle (DuckDB) — the correctness gate —
while remaining fully distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from creek_spark.functions.text import shingles_from_tokens, tokens

# Cached intermediates (LSH signatures, shingle rows, rank_pick/RFM/CUSUM
# inputs) live in the shared registry: lifetimes are caller-owned, and
# bench.py / tests call release_caches() per query.
from creek_spark.operators.cachereg import (  # noqa: F401  (re-export)
    register_cache as _persist,
    release_caches,
)


def _with_min_parallelism(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition only when the scan partitioning is genuinely poor (few
    large/compressed files).  At 100 TB the scan already has thousands of
    healthy partitions and an unconditional repartition would force a full
    extra shuffle of the corpus text."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, F.col(id_col))


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Group identical content by md5 digest; keep the smallest id.

    Returns (content_md5, keep_id, n_dups).  One hash-aggregate shuffle on
    the digest — the digest is near-uniform so no skew at any scale."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_md5"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, *, distinct: bool = True
) -> DataFrame:
    """(id, shingle) rows — k-word shingles per document.

    ``distinct=False`` skips the dedup shuffle; correct for any consumer
    that is multiset-invariant (min-aggregation: min over duplicates ==
    min over the set).

    The input is repartitioned to full parallelism first — but only when
    the scan partitioning is poor (few large/compressed files would
    serialize the CPU-bound explode+hash work; a well-partitioned 100 TB
    scan must not pay an extra full shuffle).

    Tokenization is materialized in its own projection and the shingle
    transform reads the token array as a plain attribute.  Catalyst's
    CollapseProject leaves the two projections separate (the tokenize
    expression is non-cheap and referenced k+2 times), so the regex+split
    runs once per document — inlining it into the shingle lambda would
    re-run it once per element, O(tokens²) per document (measured 2-3×
    slower end-to-end)."""
    toked = _with_min_parallelism(df, id_col).select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("_toks")
    )
    out = toked.select(
        F.col("doc"),
        F.explode(shingles_from_tokens(F.col("_toks"), k)).alias("shingle"),
    )
    return out.distinct() if distinct else out


CHUNKS_PER_MD5 = 8  # 32 hex chars → 8 chunks of 4 (16-bit minhash space)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document minhash signature, one-permutation style: each md5 of
    ('<g>:' || shingle) yields 8 independent 4-hex-char (16-bit) hash
    values, so n_hashes hashes cost only ceil(n/8) md5 calls per shingle —
    the md5 count, not the agg, dominates at corpus scale.

    Output: (doc, h0..h{n-1}) — one explode + one hash-aggregate with
    map-side combine; shuffle volume is O(docs × n_hashes).  No distinct
    pass: min() is multiset-invariant, so the dedup shuffle is skipped."""
    sh = shingle_rows(df, text_col, id_col, shingle_k, distinct=False)
    n_groups = (n_hashes + CHUNKS_PER_MD5 - 1) // CHUNKS_PER_MD5
    for g in range(n_groups):
        sh = sh.withColumn(
            f"_b{g}", F.md5(F.concat(F.lit(f"{g}:"), F.col("shingle")))
        )
    aggs = []
    for i in range(n_hashes):
        g, off = divmod(i, CHUNKS_PER_MD5)
        aggs.append(
            F.min(F.substring(F.col(f"_b{g}"), off * 4 + 1, 4)).alias(f"h{i}")
        )
    return sh.groupBy("doc").agg(*aggs)


def lsh_bands(sigs: DataFrame, *, bands: int = 4, rows_per_band: int = 4) -> DataFrame:
    """Banded signatures: (doc, band, sig) where sig = md5 of the band's
    concatenated minhashes.  Matching any band ⇒ candidate pair.

    Single posexplode pass — NOT a union of per-band projections: a union
    would re-evaluate the whole upstream shingle→minhash pipeline once per
    band (bands× the work), while posexplode computes signatures exactly
    once and fans out rows in the same stage."""
    band_sigs = F.array(
        *[
            F.md5(
                F.concat(
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                )
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col("doc"), F.posexplode(band_sigs).alias("band", "sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) sharing ≥1 LSH band.

    The self-join keys on (band, sig): only documents agreeing on a full
    band of minhashes meet, so join fan-out is bounded by bucket sizes —
    the property that makes this work on 10⁹ documents where all-pairs
    cannot."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes=n_hashes, shingle_k=shingle_k
    )
    # Materialize signatures once: the self-join would otherwise run the
    # whole shingle→md5→min pipeline twice.  Banded rows are tiny relative
    # to the corpus (docs × bands × ~40 B) — at 10⁹ docs this is a few
    # hundred GB across the cluster, the standard LSH checkpoint.
    # (Round-12 note: a bucket-local collect_list + in-bucket pair
    # explode was implemented and measured as the no-persist alternative
    # — interleaved A/B at sf0.1: join 0.41-0.45 s vs buckets
    # 0.63-0.69 s, so the extra agg + higher-order-filter work costs
    # more than the persist+join it removes; both forms share the same
    # |bucket|² fan-out bound, so the join form stays.)
    banded = _persist(lsh_bands(sigs, bands=bands, rows_per_band=rows_per_band))
    return lsh_band_pairs(banded)


def lsh_band_pairs(nb: DataFrame, index: DataFrame | None = None) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from precomputed banded rows
    (doc, band, sig): the self-join of ``nb`` and, given a persisted
    ``index`` of the same shape, the join of ``nb`` against it.  Both
    joins key on (band, sig), so fan-out stays bucket-bounded.  ``nb``
    is read by both legs; the caller persists it."""
    nn = (
        nb.alias("a")
        .join(nb.alias("b"), on=["band", "sig"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
    )
    if index is None:
        return nn.distinct()
    ne = (
        nb.alias("n")
        .join(index.alias("e"), on=["band", "sig"])
        .where(F.col("n.doc") != F.col("e.doc"))
        .select(
            F.least(F.col("n.doc"), F.col("e.doc")).alias("doc_a"),
            F.greatest(F.col("n.doc"), F.col("e.doc")).alias("doc_b"),
        )
    )
    return ne.unionByName(nn).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Cluster candidate pairs into duplicate groups: (doc, cluster) where
    cluster = the smallest doc id in the connected component.

    This is the step after candidate generation in every dedup pipeline —
    LSH emits pairs, clusters decide which rows survive (keep min id per
    cluster).

    Algorithm: min-label propagation.  Each iteration every node takes the
    min of its own label and its neighbors' labels (one join + one
    partial-aggregated groupBy); converges in O(component diameter)
    iterations — dedup clusters are near-cliques, so typically 2-3.  The
    driver-side loop only checks a changed-count per iteration; all data
    work is distributed.  Each round's labels are eagerly
    ``localCheckpoint``ed: execution already reused the cache, but the
    *logical* lineage used to keep the full history (852 exchanges in the
    static plan at 25 rounds), so driver-side plan analysis grew per
    iteration — truncation pins it at O(1) exchanges per round
    (tests/test_plans.py::test_iterative_loops_truncate_lineage)."""
    fwd = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
    rev = pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d"))
    edges = fwd.unionByName(rev).distinct().persist()
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.d == labels.node)
            .groupBy("s")
            .agg(F.min("label").alias("nl"))
        )
        new_labels = (
            labels.join(neigh, labels.node == neigh.s, "left")
            .select(
                F.col("node"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # A silently split component would keep rows dedup should drop.
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iter} "
            "iterations (component diameter exceeds max_iter); labels may "
            "be split — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("node").alias("doc"), F.col("label").alias("cluster")
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, *, bits: int = 16
) -> DataFrame:
    """md5-derived SimHash over token occurrences.

    bit j of md5(token): nibble j//4 (hex char j//4+1), bit j%4.
    signed weight = +1/-1 per token occurrence; simhash bit = (Σweight)>0.
    Output: (doc, simhash int).  One explode + one aggregate."""
    toked = _with_min_parallelism(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("th", F.md5(F.col("tok")))
    hexval = lambda pos: (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.col("th"), pos, 1)) - 1
    )
    aggs = []
    for j in range(bits):
        nib = j // 4 + 1
        k = j % 4
        bit = F.shiftright(hexval(nib), k).bitwiseAND(F.lit(1))
        aggs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{j}")
        )
    signs = toked.groupBy("doc").agg(*aggs)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return signs.select(
        F.col("doc"), sim.cast("int").alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_k: int = 5,
    threshold: float = 0.8,
    max_shingle_freq: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    Scale guard: shingles occurring in more than ``max_shingle_freq``
    documents are dropped before the self-join (stop-shingles) — a hot
    shingle in F docs contributes F² join rows, so the cap bounds the join
    at corpus scale.  True near-dups share many *rare* shingles and are
    unaffected.

    Output: (doc_a, doc_b, jaccard) with jaccard ≥ threshold.
    """
    # persist both shared intermediates: sh feeds the frequency count AND
    # the filter join; filtered feeds sizes AND both sides of the pair
    # join.  Without these the shingle explode re-runs once per consumer
    # (measured: 8 full corpus scans in the physical plan).
    sh = _persist(shingle_rows(df, text_col, id_col, shingle_k))
    freq_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") <= max_shingle_freq)
        .select("shingle")
    )
    filtered = _persist(sh.join(freq_ok, "shingle"))
    # sizes over the same filtered universe so jaccard is well-defined
    sizes = filtered.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = filtered.alias("a")
    b = filtered.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def repeated_passages(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Passage-level exact dedup: token windows repeated across documents.

    Doc-level dedup misses boilerplate — headers, licenses, templated
    paragraphs — that repeats inside otherwise-distinct documents and
    trains models to memorize it.  This finds every aligned ``window``-
    token chunk occurring in ≥ ``min_docs`` distinct documents.

    Output: (passage_md5, n_docs, n_occurrences, first_doc) — first_doc
    is the smallest doc id containing the passage (the deterministic
    "keep" representative; scrubbing drops the chunk everywhere else).

    Scale shape: one scan + one explode (≈ tokens/window rows per doc,
    i.e. FEWER rows than the input tokens — cheaper than shingling),
    then a single hash-agg on the passage digest whose key space is
    uniform md5 — skew-free at any corpus size."""
    toked = df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("_toks"))
    n_chunks = (F.size(F.col("_toks")) / window).cast("int")
    # guard: F.sequence(0, -1) DESCENDS in Spark; short docs get no chunks
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = toked.select(
        "doc",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_toks"), i * window + 1, window)
                ),
            )
        ).alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5(F.col("chunk")).alias("passage_md5"))
        .agg(
            F.count_distinct(F.col("doc")).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc").alias("first_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Banded LSH rows (doc, band, sig) for a corpus — the persisted
    dedup index.  Write this once (parquet, partitioned/bucketed by
    ``sig`` prefix if desired); each new crawl batch then dedups against
    it via ``incremental_lsh_candidates`` without touching the 100 TB
    corpus text again.  Size: docs × bands × ~40 B."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n_hashes=n_hashes, shingle_k=shingle_k
    )
    return lsh_bands(sigs, bands=bands, rows_per_band=rows_per_band)


def incremental_lsh_candidates(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs for a NEW batch against an existing
    corpus index plus itself: (doc_a < doc_b) where at least one side is
    a new doc.  Exactly the full-corpus pair set restricted to pairs
    touching the batch (signatures are per-doc, so batch-computed sigs
    equal corpus-computed sigs) — proven in tests/test_export_ops.py.

    Scale: shingling/hashing runs over the BATCH only; the index side is
    a pre-computed (doc, band, sig) scan.  Both joins key on (band, sig)
    so fan-out stays bucket-bounded; cost ∝ batch, not corpus — the
    production crawl-over-crawl dedup loop."""
    nb = _persist(
        minhash_index(
            new_df, text_col, id_col,
            n_hashes=n_hashes, bands=bands, shingle_k=shingle_k,
        )
    )
    return lsh_band_pairs(nb, index)


def banded_record_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    amount_col: str,
    date_col: str,
    *,
    tol: float = 500.0,
    days: int = 30,
    max_band_rows: int | None = 64,
):
    """Near-duplicate RECORD pairs (the duplicate-transaction audit):
    same ``key_col``, |Δamount| ≤ tol, |Δdate| ≤ days.  The amount
    predicate is banded — side A replicates to its tol-wide bucket and
    both neighbors, the join is EQUI on (key, bucket) with the exact
    residual predicates, so each qualifying pair is emitted exactly once
    (B's bucket appears exactly once in A's 3-bucket expansion).

    Hot-key cap (the stop-shingle precedent, cf. minhash_signatures'
    max_shingle_freq): a whale key with n rows in one band would emit
    O(n²) candidates.  Cells denser than ``max_band_rows`` are EXCLUDED
    from pair generation on the B side (so no pair is counted inside a
    capped cell) and reported by the companion audit frame.  Cell counts
    are a skew-free hash agg joined back BEFORE the pair join, so the
    quadratic path never materializes.

    Returns ``(pairs, capped_cells)``; ``capped_cells`` lists
    (key, band, n_rows) for every excluded cell.
    """
    b = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id_b"),
        F.col(amount_col).alias("_pb"),
        F.col(date_col).alias("_db"),
        F.floor(F.col(amount_col) / F.lit(tol)).alias("_bkt"),
    )
    cells = b.groupBy("key", "_bkt").agg(F.count(F.lit(1)).alias("n_rows"))
    if max_band_rows is not None:
        capped = cells.where(F.col("n_rows") > F.lit(max_band_rows))
        b = b.join(
            capped.select("key", "_bkt"), ["key", "_bkt"], "left_anti"
        )
    else:
        capped = cells.where(F.lit(False))
    a = df.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id_a"),
        F.col(amount_col).alias("_pa"),
        F.col(date_col).alias("_da"),
        F.explode(
            F.array(
                F.floor(F.col(amount_col) / F.lit(tol)) - 1,
                F.floor(F.col(amount_col) / F.lit(tol)),
                F.floor(F.col(amount_col) / F.lit(tol)) + 1,
            )
        ).alias("_bkt"),
    )
    pairs = (
        a.join(b, ["key", "_bkt"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_pa") - F.col("_pb")) <= F.lit(tol))
            & (F.abs(F.datediff(F.col("_da"), F.col("_db"))) <= F.lit(days))
        )
        .select(
            F.col("key"),
            "id_a",
            "id_b",
            F.abs(F.col("_pa") - F.col("_pb")).cast("double").alias("amount_gap"),
            F.abs(F.datediff(F.col("_da"), F.col("_db")))
            .cast("bigint")
            .alias("day_gap"),
        )
    )
    return pairs, capped.select("key", "_bkt", "n_rows")
