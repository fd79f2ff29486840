"""Text-analysis operators for training-data pipelines.

All metrics are built from JVM-side functions (regexp/length/split) so they
run at full scan speed and are bit-identical to an ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from creek_spark.functions.text import norm_text, shingles_from_tokens, tokens

# tiny multilingual marker lists for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "los", "que"),
    "fr": ("le", "les", "et"),
}

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is")

def text_metrics(
    df: DataFrame, text_col: str, id_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Token counts and the cheap quality filters applied before
    expensive dedup/training steps, in a single projection (one scan, no
    join): (id, *keep, n_tokens, n_bpe_tokens, n_chars_norm, n_chars_raw,
    punct_ratio, stopword_ratio, mean_token_len, quality_score).
    ``keep`` passes extra input columns through so downstream grouping
    (e.g. per-source corpus reports) stays single-scan.

    ``n_tokens`` counts whitespace tokens of the normalized text;
    ``n_bpe_tokens`` counts BPE-style pre-tokens (letter runs, digit runs
    and single punctuation chars); ``quality_score`` is
    [n_tokens ≥ 5] · (1 − punct_ratio) · (0.5 + stopword_ratio).

    Every counter derives from ONE normalized projection instead of
    separate full-text regexp passes.  With ``norm = norm_text(txt)``
    (single-space-separated alnum runs):
      * alnum chars in txt  = length(norm) − (n_tokens − 1)  — every
        [a-zA-Z0-9] survives lowercasing into norm exactly once;
      * whitespace chars    = length(txt) − length(translate(txt, ws, ''))
        — a char-map pass, far cheaper than a regex;
      * punct chars (= BPE's single-char matches)
                            = n_chars_raw − alnum − whitespace;
      * letter/digit runs (= BPE's run matches) are position-preserved by
        the normalization, counted with one short regexp over NORM;
      * Σ token lengths     = alnum (so mean_token_len needs no array
        aggregate).
    The identities are exact for any text whose lowercasing maps
    [A-Za-z0-9] into [a-z0-9] one-to-one (all ASCII; every Latin-1
    letter — the exceptions are exotica like U+212A KELVIN SIGN)."""
    ws = " \t\n\x0b\f\r"  # Java regex \s, as a translate charset
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.length(F.col(text_col)).alias("_n_raw"),
        (
            F.length(F.col(text_col))
            - F.length(F.translate(F.col(text_col), ws, ""))
        ).alias("_n_ws"),
        norm_text(F.col(text_col)).alias("_norm"),
    )
    toks = F.split(F.col("_norm"), r"\s+")
    n_tok = F.size(toks)
    n_chars = F.col("_n_raw")
    n_norm = F.length(F.col("_norm"))
    n_alnum_only = n_norm - F.greatest(n_tok - 1, F.lit(0))
    n_alnum = n_alnum_only + F.col("_n_ws")  # alnum + whitespace survive the strip
    punct_ratio = (n_chars - n_alnum).cast("double") / n_chars.cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = n_stop.cast("double") / n_tok.cast("double")
    mean_tok_len = n_alnum_only.cast("double") / n_tok.cast("double")
    score = (
        F.when(n_tok >= 5, F.lit(1.0)).otherwise(F.lit(0.0))
        * (F.lit(1.0) - punct_ratio)
        * (F.lit(0.5) + stop_ratio)
    )
    n_bpe = (
        F.regexp_count(F.col("_norm"), F.lit(r"[a-z]+|[0-9]+"))
        + (n_chars - n_alnum)
    ).cast("int")
    return base.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_tok.alias("n_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_norm.alias("n_chars_norm"),
        n_chars.alias("n_chars_raw"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        score.alias("quality_score"),
    )


def _marker_argmax(
    base: DataFrame, id_col: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(id, _toks, *carry) → (id, pred_lang, marker_hits, *carry): one
    projection counts each language's marker hits over the materialized
    token array, the next takes the argmax with 'und' (undetermined)
    when no marker hits.  Deterministic tie-break: language code
    ascending."""
    toks = F.col("_toks")
    langs = sorted(LANG_MARKERS)
    hit_exprs = []
    for lang in langs:
        arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        hit_exprs.append(hits.alias(f"_h_{lang}"))
    counted = base.select(F.col(id_col), *carry, *hit_exprs)
    # argmax via greatest + chained when (ascending code order = tie-break)
    best = F.greatest(*[F.col(f"_h_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"_h_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return counted.select(
        F.col(id_col), pred.alias("pred_lang"), best.alias("marker_hits"), *carry
    )


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Marker-word language heuristic: (id, pred_lang, marker_hits)."""
    # tokenize once: the token array feeds every language's count
    return _marker_argmax(
        df.select(F.col(id_col), tokens(text_col).alias("_toks")), id_col
    )


def lang_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """lang_id plus a content fingerprint in one scan: (id, pred_lang,
    marker_hits, fp, fp_bucket), where fp is the md5 of the normalized
    text and fp_bucket its first 8 hex chars, a coarse rolling/partition
    key.  The fingerprint rides through the lang-id projections as a
    plain attribute — no join, no second pass over the text."""
    base = df.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
        F.md5(norm_text(text_col)).alias("fp"),
    )
    return _marker_argmax(base, id_col, ("fp",)).withColumn(
        "fp_bucket", F.substring(F.col("fp"), 1, 8)
    )


REPETITION_SIZES = (2, 3, 5)


def _gram_structs(toks, n_tok, k: int):
    """array<struct<k,gram>> of the doc's k-grams (empty when too short).

    The struct tag lets all gram sizes ride ONE explode instead of one
    scan per size."""
    empty = F.array().cast("array<struct<k:int,gram:string>>")
    grams = F.transform(
        F.sequence(F.lit(1), n_tok - (k - 1)),
        lambda i: F.struct(
            F.lit(k).cast("int").alias("k"),
            F.array_join(F.slice(toks, i, k), " ").alias("gram"),
        ),
    )
    return F.when(n_tok >= k, grams).otherwise(empty)


def repetition_metrics(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sizes: tuple[int, ...] = REPETITION_SIZES,
) -> DataFrame:
    """Intra-document repetition metrics (the Gopher-style repetition
    filters: Rae et al. 2021, arXiv:2112.11446 §A1.1), adapted to
    token windows because the corpus has no line structure.

    Per document and gram size k: total k-gram occurrences
    ``n_{k}grams``, the fraction taken by the single most frequent
    k-gram ``top_{k}gram_frac``, and the fraction of occurrences whose
    gram appears more than once ``dup_{k}gram_frac``.  Docs shorter
    than min(sizes) tokens emit no row; sizes the doc is too short for
    yield NULL columns (mirrored exactly by the SQL oracle).

    Scale: one scan + ONE explode carrying all gram sizes (struct-tagged),
    then two hash aggregations — (doc, k, gram) then (doc) — both keyed
    by doc so the second exchange is per-doc-row-sized.  All fractions
    are single IEEE divisions of exact integers, so results are
    bit-identical across engines at any corpus size."""
    base = df.select(
        F.col(id_col).alias("_doc"), tokens(text_col).alias("_toks")
    )
    t = F.col("_toks")
    n = F.size(t)
    all_grams = F.concat(*[_gram_structs(t, n, k) for k in sizes])
    g = base.select(F.col("_doc"), F.explode(all_grams).alias("_g")).select(
        "_doc", F.col("_g.k").alias("_k"), F.col("_g.gram").alias("_gram")
    )
    per_gram = g.groupBy("_doc", "_k", "_gram").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    per_size = per_gram.groupBy("_doc", "_k").agg(
        F.max("_cnt").alias("_mx"),
        F.sum("_cnt").alias("_tot"),
        F.sum(F.when(F.col("_cnt") > 1, F.col("_cnt")).otherwise(0)).alias(
            "_dup"
        ),
    )
    def pick(col, k):
        return F.max(F.when(F.col("_k") == k, F.col(col)))

    out_cols = []
    for k in sizes:
        tot = pick("_tot", k)
        out_cols.append(tot.cast("bigint").alias(f"n_{k}grams"))
        out_cols.append(
            (pick("_mx", k).cast("double") / tot).alias(f"top_{k}gram_frac")
        )
        out_cols.append(
            (pick("_dup", k).cast("double") / tot).alias(f"dup_{k}gram_frac")
        )
    return per_size.groupBy("_doc").agg(*out_cols).withColumnRenamed(
        "_doc", id_col
    )


def lm_familiarity(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Corpus-n-gram language-model familiarity score per document — the
    count-based stand-in for LM-perplexity quality filtering (CCNet-style,
    Wenzek et al. 2020): documents whose n-grams are rare corpus-wide are
    "surprising" (high novelty), boilerplate scores high familiarity.

    Per doc: ``n_{n}grams`` occurrences, ``mean_{n}gram_freq`` (mean
    corpus-wide frequency of the doc's n-gram occurrences, self-inclusive)
    and ``novel_{n}gram_frac`` (fraction of occurrences whose gram appears
    in no other document and no other position).

    Log-free on purpose: counts and one final IEEE division keep the
    result bit-identical across engines (ln() is libm-dependent).

    Scale: explode → (doc, gram) pre-agg → gram-keyed corpus count →
    gram-keyed join → doc-keyed final agg.  Every exchange after the
    explode carries distinct-(doc,gram) rows — a fraction of the token
    stream — and the gram key space is uniform (no hot keys beyond
    natural Zipf, which AQE skew-join handles)."""
    base = df.select(
        F.col(id_col).alias("_doc"), tokens(text_col).alias("_toks")
    )
    t = F.col("_toks")
    n_tok = F.size(t)
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select("_doc", F.explode(grams).alias("_gram"))
    dg = g.groupBy("_doc", "_gram").agg(F.count(F.lit(1)).alias("_occ"))
    cg = dg.groupBy("_gram").agg(F.sum("_occ").alias("_cnt"))
    joined = dg.join(cg, "_gram")
    occ, cnt = F.col("_occ"), F.col("_cnt")
    tot = F.sum(occ)
    return (
        joined.groupBy("_doc")
        .agg(
            tot.cast("bigint").alias(f"n_{n}grams"),
            (F.sum(occ * cnt).cast("double") / tot).alias(
                f"mean_{n}gram_freq"
            ),
            (
                F.sum(F.when(cnt == occ, occ).otherwise(0)).cast("double")
                / tot
            ).alias(f"novel_{n}gram_frac"),
        )
        .withColumnRenamed("_doc", id_col)
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str, *, k: int = 20
) -> DataFrame:
    """One BPE-training merge step at corpus scale: the k most frequent
    adjacent character pairs, weighted by word frequency.

    The scalable formulation: collapse the corpus to DISTINCT words with
    counts FIRST (the word-count agg is the only token-stream shuffle),
    then enumerate each distinct word's character pairs once and weight
    by the word count — pair enumeration cost is vocabulary-sized, not
    corpus-sized (a 100 TB corpus has ~10⁷ distinct words, not 10¹³
    character positions).  Final top-k is a TakeOrdered with a total
    (count DESC, pair ASC) order, so the result set is deterministic.

    Output: (pair, n_pair) — the argmax row is the merge a BPE trainer
    would apply next."""
    words = df.select(F.explode(tokens(text_col)).alias("w"))
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("wn"))
    n = F.length(F.col("w"))
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        wc.select(F.explode(pairs).alias("pair"), F.col("wn"))
        .groupBy("pair")
        .agg(F.sum("wn").cast("bigint").alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), F.col("pair"))
        .limit(k)
    )


def dsir_contrast(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target_col: str,
    *,
    n: int = 2,
) -> DataFrame:
    """DSIR-style importance contrast (Xie et al. 2023, log-free): score
    each document by how much its n-gram distribution leans toward a
    TARGET corpus versus the RAW corpus.

    Per doc: score = A/N_T − B/N_R where A = Σ_occ c_T(gram),
    B = Σ_occ c_R(gram), c_T/c_R are corpus-wide gram counts inside /
    outside the target set and N_T/N_R their totals.  This is the
    relative-frequency form of the DSIR log-likelihood-ratio (monotone
    substitute: per-gram contribution c_T/N_T − c_R/N_R instead of
    log((c_T/N_T)/(c_R/N_R))) — chosen because ln() is libm-dependent
    while decimal sums + two IEEE divisions are bit-identical across
    engines.  Rank-descending + a deterministic sampler (e.g.
    stratified_exact_sample on the top fraction) = importance
    resampling.

    Scale: explode → distinct-(doc,gram) pre-agg → gram-keyed count →
    gram-keyed join back → doc-keyed final agg; the two totals ride a
    1-row broadcast.  Same exchange profile as lm_familiarity — every
    post-explode shuffle carries distinct (doc, gram) rows, uniform key
    space.  Products are decimal(38,0)-exact (c·occ can exceed 2^63 at
    petabyte gram counts)."""
    base = df.select(
        F.col(id_col).alias("_doc"),
        F.col(is_target_col).cast("boolean").alias("_t"),
        tokens(text_col).alias("_toks"),
    )
    t = F.col("_toks")
    n_tok = F.size(t)
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select("_doc", "_t", F.explode(grams).alias("_gram"))
    dg = g.groupBy("_doc", "_t", "_gram").agg(F.count(F.lit(1)).alias("_occ"))
    cg = dg.groupBy("_gram").agg(
        F.sum(F.when(F.col("_t"), F.col("_occ")).otherwise(0)).alias("_ct"),
        F.sum(F.when(~F.col("_t"), F.col("_occ")).otherwise(0)).alias("_cr"),
    )
    tot = cg.agg(
        F.sum("_ct").alias("_nt"), F.sum("_cr").alias("_nr")
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    joined = dg.join(cg, "_gram").crossJoin(F.broadcast(tot))
    return (
        joined.groupBy("_doc")
        .agg(
            F.sum("_occ").cast("bigint").alias(f"n_{n}grams"),
            (
                F.sum(d19("_occ") * d19("_ct")).cast("double")
                / F.max("_nt").cast("double")
                - F.sum(d19("_occ") * d19("_cr")).cast("double")
                / F.max("_nr").cast("double")
            ).alias("dsir_score"),
        )
        .withColumnRenamed("_doc", id_col)
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword search: top-k documents for a bag of query terms
    (Robertson & Walker 1994), with the rational idf variant
    ``(N - df + 0.5) / (df + 0.5)`` — the ln() of textbook BM25 is
    libm-dependent, and idf is monotone in the rational form, so scores
    stay bit-identical across engines while ranking quality is standard.

    Per-term scores are rounded to integer nanos (deterministic HALF_UP
    in both engines for positive scores) and summed as BIGINT, so the
    cross-term sum is order-independent — doubles are never added to
    doubles.  Output: (id, score_i) with score_i = round(score * 1e9).

    Scale: ONE corpus scan computes both document length and the
    query-term postings; the array is filtered to query terms BEFORE
    explode, so the shuffled posting set is |docs| × |terms| at worst,
    not the token stream.  df/N/avgdl stats are term- or one-row-sized
    and broadcast; the final ranking is TakeOrdered (no global sort).
    """
    base = df.select(
        F.col(id_col).alias("_doc"), tokens(text_col).alias("_toks")
    ).select(
        "_doc",
        F.col("_toks"),
        F.size("_toks").cast("bigint").alias("_dl"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_docs"),
        F.sum("_dl").cast("bigint").alias("_sum_dl"),
    )
    qarr = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        base.select(
            "_doc",
            "_dl",
            F.explode(
                F.filter("_toks", lambda t: F.array_contains(qarr, t))
            ).alias("_term"),
        )
        .groupBy("_doc", "_dl", "_term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_tf"))
    )
    dft = tf.groupBy("_term").agg(F.count(F.lit(1)).cast("bigint").alias("_df"))
    scored = tf.join(F.broadcast(dft), "_term").crossJoin(F.broadcast(stats))
    nd = F.col("_n_docs").cast("double")
    dfv = F.col("_df").cast("double")
    tfv = F.col("_tf").cast("double")
    dlv = F.col("_dl").cast("double")
    sdl = F.col("_sum_dl").cast("double")
    # expression trees mirror the oracle SQL exactly (IEEE ops only)
    idf = (nd - dfv + F.lit(0.5)) / (dfv + F.lit(0.5))
    num = tfv * F.lit(k1 + 1.0)
    den = tfv + F.lit(k1 * (1.0 - b)) + ((F.lit(k1 * b) * dlv) * nd) / sdl
    term_i = F.round((idf * num / den) * F.lit(1000000000.0)).cast("bigint")
    return (
        scored.select("_doc", term_i.alias("_si"))
        .groupBy("_doc")
        .agg(F.sum("_si").cast("bigint").alias("score_i"))
        .withColumnRenamed("_doc", id_col)
        .orderBy(F.col("score_i").desc(), F.col(id_col))
        .limit(k)
    )


def ngram_novelty(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    k-word shingles that appear in NO other document — the
    diversity/novelty score used to prefer documents that add new content
    to a training mix (the complement of the boilerplate that passage
    dedup removes).

    Output: (doc, n_shingles BIGINT, n_unique BIGINT, novelty DOUBLE)
    with novelty = n_unique / n_shingles; documents shorter than k tokens
    have no shingles and are absent (identically in the SQL oracle).

    Scale shape — every step is skew-free by construction:

    * per-doc distinct shingles come from an IN-ROW ``array_distinct``
      (no dedup shuffle), so ``n_shingles`` is a pure map-side column;
    * the shingle-frequency aggregate carries ``min(doc)`` beside the
      count, so a corpus-unique shingle already KNOWS its owning
      document — there is no join back to the shingle stream (the shape
      that would hash every occurrence of a hot shingle to one task:
      a shingle-partitioned window or a shingle-keyed join both do);
      map-side partial aggregation collapses a hot shingle to one row
      per task before the shuffle;
    * the final join is (doc → doc) between two per-document frames —
      uniform keys, broadcast-or-SMJ as AQE prefers.

    Cost: two text scans (the doc-side one is shuffle-free); the only
    corpus-scale shuffle is the partial-aggregated shingle count."""
    # pre-filter on the RAW token count (shingles exist ⟺ ≥ k tokens):
    # a filter on the derived shingle count would be pushed below the
    # token-materializing projection and re-inline the tokenize regex
    # once per element — the O(tokens²) trap shingles_from_tokens
    # documents.  size(split(...)) is one linear pass in the scan filter.
    toked = (
        df.where(F.size(tokens(text_col)) >= k)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("_toks"))
    )
    sh_arr = F.array_distinct(shingles_from_tokens(F.col("_toks"), k))
    per_doc = toked.select(
        "doc", F.size(sh_arr).cast("bigint").alias("n_shingles")
    )
    freq = (
        toked.select("doc", F.explode(sh_arr).alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"), F.min("doc").alias("_only_doc"))
    )
    uniq = (
        freq.where(F.col("_df") == 1)
        .groupBy(F.col("_only_doc").alias("doc"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    )
    return (
        per_doc.join(uniq, "doc", "left")
        .select(
            "doc",
            "n_shingles",
            F.coalesce(F.col("n_unique"), F.lit(0)).cast("bigint").alias("n_unique"),
            (
                F.coalesce(F.col("n_unique"), F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )
