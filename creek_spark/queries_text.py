"""Catalog domain: text analysis over the `documents` table — quality
metrics, language id and fingerprints, corpus report, repetition, BPE
pair counts, DSIR contrast, LM familiarity, BM25 and TF-IDF keyword
search, n-gram novelty, readability, character Gini, vocabulary/hapax
statistics and collocations.

The SQL text fragments (normalization, tokens, shingles, the
text_metrics oracle) come from query_parts and mirror
creek_spark.functions.text exactly.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from creek_spark.operators import text as tx
from creek_spark.queries import _t, register
from creek_spark.query_parts import (
    NORM,
    SQL_NORM,
    TEXT_METRICS_ORACLE,
    TOKS,
    sql_shingles,
)


@register("text_metrics", TEXT_METRICS_ORACLE, "text", headline=True)
def text_metrics(spark, sf_dir):
    """Token stats + quality heuristics in one scan (token counts, BPE-ish
    pre-token count, char counts, punctuation/stopword ratios, mean token
    length, combined quality score) — the cheap pre-dedup filter battery."""
    docs = _t(spark, sf_dir, "documents")
    return tx.text_metrics(docs, "text", "doc_id")


def _lang_fp_oracle() -> str:
    hits = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in sorted(tx.LANG_MARKERS.items())
    }
    greatest = "greatest(" + ", ".join(hits.values()) + ")"
    whens = "\n           ".join(
        f"WHEN {greatest} > 0 AND {h} = {greatest} THEN '{lang}'"
        for lang, h in hits.items()
    )
    return f"""
    WITH base AS (SELECT doc_id, {TOKS} AS toks, md5({NORM}) AS fp
                  FROM documents)
    SELECT doc_id,
           CASE {whens} ELSE 'und' END AS pred_lang,
           CAST({greatest} AS INTEGER) AS marker_hits,
           fp, substr(fp, 1, 8) AS fp_bucket
    FROM base
    """


def _langid_confusion_oracle() -> str:
    hits = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in sorted(tx.LANG_MARKERS.items())
    }
    greatest = "greatest(" + ", ".join(hits.values()) + ")"
    whens = "\n           ".join(
        f"WHEN {greatest} > 0 AND {h} = {greatest} THEN '{lang}'"
        for lang, h in hits.items()
    )
    return f"""
    WITH base AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    p AS (SELECT lang AS true_lang,
                 CASE {whens} ELSE 'und' END AS pred_lang
          FROM base)
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY true_lang, pred_lang
    """


@register("text_langid_confusion", _langid_confusion_oracle(), "text")
def text_langid_confusion(spark, sf_dir):
    """Classifier evaluation in-engine: the marker-word language-ID
    heuristic scored against the labeled lang column as a confusion
    matrix (true_lang, pred_lang, n) — the quality-report every
    lang-filter deployment needs before it gates a corpus.  One scan +
    one |langs|²-bounded agg; the prediction is the same deterministic
    argmax the green text_lang_fingerprint row proves."""
    docs = _t(spark, sf_dir, "documents")
    pred = tx.lang_id(docs, "text", "doc_id").select(
        "doc_id", F.col("pred_lang")
    )
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    return (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register("text_lang_fingerprint", _lang_fp_oracle(), "text")
def text_lang_fingerprint(spark, sf_dir):
    """Marker-word language ID + content fingerprint in one scan."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.lang_fingerprint(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "pred_lang",
        F.col("marker_hits").cast("int").alias("marker_hits"),
        "fp",
        "fp_bucket",
    )


def _corpus_report_oracle() -> str:
    """Wraps the text_metrics oracle (nested WITH in a subquery) and
    aggregates per (source, lang); mean quality rides a decimal cast
    (scale 12 — no double can tie at a 5^13-denominator midpoint, so
    both engines round identically)."""
    inner = TEXT_METRICS_ORACLE
    return f"""
    SELECT d.source, d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(m.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(m.quality_score AS DECIMAL(18,12))) AS DOUBLE)
             / COUNT(*) AS mean_quality,
           CAST(SUM(CASE WHEN m.quality_score < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
    FROM ({inner}) m JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY d.source, d.lang
    """


@register("corpus_report", _corpus_report_oracle(), "text")
def corpus_report(spark, sf_dir):
    """Per-(source, lang) corpus report card: doc counts, token totals,
    mean quality, low-quality counts — the rollup every ingest batch gets
    before it is admitted to a training mix.  Single scan: text_metrics
    passes source/lang through its one projection (keep=), so the report
    is scan → project → one partial+final aggregate, no join."""
    docs = _t(spark, sf_dir, "documents")
    m = tx.text_metrics(docs, "text", "doc_id", keep=("source", "lang"))
    return m.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (
            F.sum(F.col("quality_score").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_quality"),
        F.sum(
            F.when(F.col("quality_score") < 0.5, 1).otherwise(0)
        ).cast("bigint").alias("n_low_quality"),
    )


def _repetition_oracle() -> str:
    """Same gram construction as repetition_metrics: one UNION ALL branch
    per size (DuckDB list comprehension + inclusive 1-based slices)."""
    branches = []
    for k in tx.REPETITION_SIZES:
        branches.append(
            f"SELECT doc, {k} AS k, "
            f"unnest([array_to_string(t[i : i+{k - 1}], ' ') "
            f"FOR i IN generate_series(1, len(t)-{k - 1})]) AS gram "
            f"FROM toks WHERE len(t) >= {k}"
        )
    union = "\n      UNION ALL\n      ".join(branches)
    cols = []
    for k in tx.REPETITION_SIZES:
        tot = f"MAX(CASE WHEN k={k} THEN tot END)"
        cols.append(f"CAST({tot} AS BIGINT) AS n_{k}grams")
        cols.append(
            f"CAST(MAX(CASE WHEN k={k} THEN mx END) AS DOUBLE) / {tot}"
            f" AS top_{k}gram_frac"
        )
        cols.append(
            f"CAST(MAX(CASE WHEN k={k} THEN dup END) AS DOUBLE) / {tot}"
            f" AS dup_{k}gram_frac"
        )
    sel = ",\n           ".join(cols)
    return f"""
    WITH toks AS (SELECT doc_id AS doc, {TOKS} AS t FROM documents),
    g AS ({union}),
    c AS (SELECT doc, k, gram, COUNT(*) AS cnt FROM g GROUP BY doc, k, gram),
    p AS (SELECT doc, k, MAX(cnt) AS mx, SUM(cnt) AS tot,
                 SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
          FROM c GROUP BY doc, k)
    SELECT doc AS doc_id,
           {sel}
    FROM p GROUP BY doc
    """


@register("text_repetition", _repetition_oracle(), "text")
def text_repetition(spark, sf_dir):
    """Gopher-style intra-document repetition filters (top-k-gram and
    duplicate-k-gram fractions over token windows) — the standard cheap
    signal for machine-generated/boilerplate text.  One scan, one
    struct-tagged explode for all gram sizes, two doc-keyed hash aggs."""
    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_metrics(docs, "text", "doc_id")


def _lm_familiarity_oracle(n: int = 2) -> str:
    return f"""
    WITH toks AS (SELECT doc_id AS doc, {TOKS} AS t FROM documents),
    g AS (SELECT doc,
                 unnest([array_to_string(t[i : i+{n - 1}], ' ')
                         FOR i IN generate_series(1, len(t)-{n - 1})]) AS gram
          FROM toks WHERE len(t) >= {n}),
    dg AS (SELECT doc, gram, COUNT(*) AS occ FROM g GROUP BY doc, gram),
    cg AS (SELECT gram, SUM(occ) AS cnt FROM dg GROUP BY gram)
    SELECT doc AS doc_id,
           CAST(SUM(occ) AS BIGINT) AS n_{n}grams,
           CAST(SUM(occ*cnt) AS DOUBLE) / SUM(occ) AS mean_{n}gram_freq,
           CAST(SUM(CASE WHEN cnt = occ THEN occ ELSE 0 END) AS DOUBLE)
             / SUM(occ) AS novel_{n}gram_frac
    FROM dg JOIN cg USING (gram) GROUP BY doc
    """


BPE_TOP_K = 20


def _bpe_oracle(k: int = BPE_TOP_K) -> str:
    return f"""
    WITH w AS (SELECT unnest({TOKS}) AS w FROM documents),
    wc AS (SELECT w, COUNT(*) AS wn FROM w GROUP BY w),
    p AS (SELECT substr(w, i, 2) AS pair, wn
          FROM wc, unnest(generate_series(1, length(w)-1)) AS t(i)
          WHERE length(w) >= 2),
    c AS (SELECT pair, CAST(SUM(wn) AS BIGINT) AS n_pair FROM p GROUP BY pair)
    SELECT pair, n_pair FROM c ORDER BY n_pair DESC, pair LIMIT {k}
    """


@register("text_bpe_pairs", _bpe_oracle(), "text")
def text_bpe_pairs(spark, sf_dir):
    """One BPE-training merge step: top-20 adjacent character pairs by
    corpus frequency.  Scalable formulation — distinct-word counts first
    (the only token-stream shuffle), pair enumeration over the
    VOCABULARY weighted by word count, TakeOrdered top-k with a total
    (count, pair) order (operators/text.py bpe_pair_counts)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(docs, "text", k=BPE_TOP_K)


DSIR_TARGET_LANG = "en"


def _dsir_oracle(n: int = 2) -> str:
    return f"""
    WITH toks AS (SELECT doc_id AS doc, (lang = '{DSIR_TARGET_LANG}') AS t,
                         {TOKS} AS tk FROM documents),
    g AS (SELECT doc, t,
                 unnest([array_to_string(tk[i : i+{n - 1}], ' ')
                         FOR i IN generate_series(1, len(tk)-{n - 1})]) AS gram
          FROM toks WHERE len(tk) >= {n}),
    dg AS (SELECT doc, t, gram, COUNT(*) AS occ FROM g GROUP BY doc, t, gram),
    cg AS (SELECT gram,
                  SUM(CASE WHEN t THEN occ ELSE 0 END) AS ct,
                  SUM(CASE WHEN NOT t THEN occ ELSE 0 END) AS cr
           FROM dg GROUP BY gram),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM cg),
    ds AS (SELECT doc, SUM(occ) AS ng,
                  SUM(CAST(occ AS DECIMAL(19,0)) * CAST(ct AS DECIMAL(19,0))) AS a,
                  SUM(CAST(occ AS DECIMAL(19,0)) * CAST(cr AS DECIMAL(19,0))) AS b
           FROM dg JOIN cg USING (gram) GROUP BY doc)
    SELECT doc AS doc_id, CAST(ng AS BIGINT) AS n_{n}grams,
           CAST(a AS DOUBLE) / CAST(nt AS DOUBLE)
             - CAST(b AS DOUBLE) / CAST(nr AS DOUBLE) AS dsir_score
    FROM ds, tot
    """


@register("text_dsir_contrast", _dsir_oracle(), "text")
def text_dsir_contrast(spark, sf_dir):
    """DSIR-style importance contrast: per-document lean toward the
    English subset (the "target" domain) vs the rest of the corpus on
    bigram relative frequencies — the data-selection score that picks
    raw documents resembling a curated target.  Log-free (decimal sums,
    two IEEE divisions) so it is oracle-exact; post-explode exchanges
    carry distinct (doc, gram) rows only, totals ride a 1-row
    broadcast (operators/text.py dsir_contrast)."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "_is_en", F.col("lang") == DSIR_TARGET_LANG
    )
    return tx.dsir_contrast(docs, "text", "doc_id", "_is_en")


@register("text_lm_familiarity", _lm_familiarity_oracle(), "text")
def text_lm_familiarity(spark, sf_dir):
    """Count-based corpus-LM familiarity / novelty per document (the
    perplexity-filter stand-in, log-free so it is oracle-exact).  All
    post-explode exchanges carry distinct-(doc,gram) rows only."""
    docs = _t(spark, sf_dir, "documents")
    return tx.lm_familiarity(docs, "text", "doc_id")


# =====================================================================
# BM25 keyword search (retrieval over the documents table)
# =====================================================================

BM25_TERMS = ["spark", "vector", "merge", "window"]
BM25_K = 10
# constants below mirror bm25_topk's k1=1.2, b=0.75 defaults
_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in BM25_TERMS)


def _bm25_oracle() -> str:
    return f"""
    WITH bl AS (
      SELECT doc_id AS doc, {TOKS} AS toks FROM documents),
    dl AS (SELECT doc, toks, CAST(len(toks) AS BIGINT) AS dl FROM bl),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (
      SELECT doc, dl, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc, dl, unnest(toks) AS tok FROM dl)
      WHERE tok IN ({_BM25_TERM_LIST})
      GROUP BY doc, dl, tok),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    sc AS (
      SELECT doc,
             CAST(round(
               ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                  / (CAST(df AS DOUBLE) + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2)
               / (CAST(tf AS DOUBLE) + 0.3
                  + ((0.8999999999999999 * CAST(dl AS DOUBLE))
                     * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))
               * 1000000000.0) AS BIGINT) AS si
      FROM tf JOIN dft USING (term) CROSS JOIN stats)
    SELECT doc AS doc_id, CAST(SUM(si) AS BIGINT) AS score_i
    FROM sc GROUP BY doc
    ORDER BY score_i DESC, doc_id LIMIT {BM25_K}
    """


@register("text_bm25_search", _bm25_oracle(), "text")
def text_bm25_search(spark, sf_dir):
    """BM25 keyword retrieval: top-10 documents for a 4-term query, with
    the rational-idf variant (ln is libm-dependent; the rational form is
    monotone in df so ranking behavior is standard) and per-term scores
    fixed to integer nanos before the cross-term sum, so results are
    bit-identical across engines.  One corpus scan (doc length + postings
    together), query-term filter BEFORE explode, df/N/avgdl broadcast,
    TakeOrdered top-k — no token-stream shuffle, no global sort."""
    docs = _t(spark, sf_dir, "documents")
    return tx.bm25_topk(
        docs, "text", "doc_id", BM25_TERMS, k=BM25_K, k1=1.2, b=0.75
    )


@register(
    "text_keywords_tfidf",
    f"""
    WITH tk AS (SELECT doc_id AS doc, unnest({TOKS}) AS term FROM documents),
    tf AS (SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tk GROUP BY doc, term),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    nd AS (SELECT CAST(COUNT(DISTINCT doc) AS DOUBLE) AS n FROM tk),
    sc AS (SELECT doc, term, tf, df,
                  CAST(tf AS DOUBLE) * (n / CAST(df AS DOUBLE)) AS tfidf
           FROM tf JOIN df USING (term) CROSS JOIN nd),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc
                                       ORDER BY tfidf DESC, term) AS rn
          FROM sc)
    SELECT doc AS doc_id, term, tf, df, tfidf, CAST(rn AS INTEGER) AS rn
    FROM r WHERE rn <= 3
    """,
    "text",
)
def text_keywords_tfidf(spark, sf_dir):
    """Keyword extraction: top-3 terms per document by tf-idf with the
    rational idf N/df (log-free — same ranking family as the BM25 row,
    and bit-stable across engines where ln() is not).  Shape: doc-term
    pre-agg → term-keyed df agg → join back → per-doc top-k window.
    Every post-tokenize exchange carries distinct (doc, term) rows; the
    corpus-size scalar rides a 1-row broadcast."""
    from creek_spark.functions.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        F.col("doc_id").alias("doc"), F.explode(_tokens("text")).alias("term")
    )
    tf = tk.groupBy("doc", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    nd = tk.agg(F.countDistinct("doc").cast("double").alias("n"))
    sc = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (F.col("n") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            F.col("doc").alias("doc_id"), "term", "tf", "df", "tfidf", "rn"
        )
    )


# =====================================================================
# n-gram novelty scoring
# =====================================================================

NOVELTY_K = 3


def _novelty_oracle() -> str:
    return f"""
    WITH {sql_shingles(NOVELTY_K)},
    fr AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
           FROM sh GROUP BY shingle)
    SELECT sh.doc, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM sh JOIN fr USING (shingle) GROUP BY sh.doc
    """


@register("text_ngram_novelty", _novelty_oracle(), "text")
def text_ngram_novelty(spark, sf_dir):
    """Per-document 3-gram novelty (fraction of shingles unique to the
    document corpus-wide) — the add-new-content preference signal.  One
    scan, document frequency via an unordered shingle-partitioned window
    (no self-join), one per-doc hash aggregate."""
    from creek_spark.operators.text import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, "text", "doc_id", k=NOVELTY_K)


# =====================================================================
# readability scoring (ARI)
# =====================================================================

READABILITY_ORACLE = """
WITH base AS (
  SELECT doc_id, lang,
         CAST(length(replace(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ', '')) AS BIGINT) AS c,
         CAST(len(string_split_regex(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             '\\s+')) AS BIGINT) AS w,
         GREATEST(CAST(length(text)
             - length(replace(replace(replace(text, '.', ''), '!', ''),
                              '?', '')) AS BIGINT), 1) AS s
  FROM documents)
SELECT doc_id, lang, c AS n_chars_alnum, w AS n_words, s AS n_sentences,
       4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
         + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 AS ari,
       CASE WHEN 4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
                 + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 < 6.0
            THEN 'easy'
            WHEN 4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
                 + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 < 10.0
            THEN 'medium'
            WHEN 4.71 * (CAST(c AS DOUBLE) / CAST(w AS DOUBLE))
                 + 0.5 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE)) - 21.43 < 14.0
            THEN 'hard'
            ELSE 'very_hard' END AS ari_class
FROM base
"""


@register("text_readability", READABILITY_ORACLE, "text")
def text_readability(spark, sf_dir):
    """Automated Readability Index per document: alnum-char / word /
    sentence counts → ARI = 4.71·(c/w) + 0.5·(w/s) − 21.43 with grade
    classes — the classic formula-based quality band a curation pipeline
    uses where a model-based scorer is too expensive (ARI uses only
    counts, so it is exactly reproducible cross-engine — no syllable
    estimation).

    Determinism: all three counts are integers (chars of the normalized
    text minus spaces; token-array length; sentence terminators counted
    by chained literal replace, floored at 1); the ARI chain is
    fixed-order IEEE on exact operands, and the class CASE compares the
    identical double on both sides.

    Scale shape: one scan, one JVM-only projection, no shuffle at all —
    the classifier every row-wise curation stage wants."""
    from creek_spark.functions.text import norm_text, tokens

    docs = _t(spark, sf_dir, "documents")
    norm = norm_text("text")
    c = F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("bigint")
    w = F.size(tokens("text")).cast("bigint")
    s = F.greatest(
        (
            F.length("text")
            - F.length(
                F.replace(
                    F.replace(
                        F.replace(F.col("text"), F.lit("."), F.lit("")),
                        F.lit("!"),
                        F.lit(""),
                    ),
                    F.lit("?"),
                    F.lit(""),
                )
            )
        ).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    base = docs.select(
        "doc_id", "lang", c.alias("c"), w.alias("w"), s.alias("s")
    )
    ari = (
        F.lit(4.71) * (F.col("c").cast("double") / F.col("w").cast("double"))
        + F.lit(0.5) * (F.col("s_w"))
        - F.lit(21.43)
    )
    base = base.withColumn(
        "s_w", F.col("w").cast("double") / F.col("s").cast("double")
    )
    return base.select(
        "doc_id",
        "lang",
        F.col("c").alias("n_chars_alnum"),
        F.col("w").alias("n_words"),
        F.col("s").alias("n_sentences"),
        ari.alias("ari"),
        F.when(ari < 6.0, F.lit("easy"))
        .when(ari < 10.0, F.lit("medium"))
        .when(ari < 14.0, F.lit("hard"))
        .otherwise(F.lit("very_hard"))
        .alias("ari_class"),
    )


# =====================================================================
# character-diversity (Gini) scoring
# =====================================================================

CHAR_GINI_ORACLE = """
WITH base AS (
  SELECT doc_id,
         replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ', '') AS s
  FROM documents),
ch AS (
  SELECT doc_id, substr(s, CAST(i AS INTEGER), 1) AS c
  FROM base, unnest(generate_series(1, length(s))) AS t(i)
  WHERE length(s) > 0),
cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
       FROM ch GROUP BY doc_id, c),
agg AS (SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(n * n) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM cc GROUP BY doc_id)
SELECT doc_id, nt AS n_chars, n_distinct AS n_distinct_chars,
       CAST(nt * nt - s2 AS DOUBLE) / CAST(nt * nt AS DOUBLE) AS char_gini
FROM agg
"""


@register("text_char_gini", CHAR_GINI_ORACLE, "text")
def text_char_gini(spark, sf_dir):
    """Character-diversity score per document: Gini impurity
    1 − Σp(c)² over the normalized alphanumeric character distribution
    — the log-free cousin of character entropy (entropy needs libm `ln`,
    which differs across engines; Gini is pure rational arithmetic), a
    cheap degenerate-text screen (near 0 ⇒ one repeated character).

    Determinism: counts are exact integers and the score is ONE IEEE
    division of exact operands: (N² − Σc²) / N².

    Scale shape: position-explode inflates to one row per character
    (the same budget as shingling), then two hash aggregations —
    (doc, char) with map-side combine, then doc; no window, no join,
    alphabet ≤ 36 bounds the per-doc state."""
    from creek_spark.functions.text import norm_text

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.replace(norm_text("text"), F.lit(" "), F.lit("")).alias("s"),
    ).where(F.length("s") > 0)
    ch = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("s"))).alias("i"),
        "s",
    ).select("doc_id", F.expr("substr(s, i, 1)").alias("c"))
    cc = ch.groupBy("doc_id", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    agg = cc.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        F.col("nt").alias("n_chars"),
        F.col("n_distinct").alias("n_distinct_chars"),
        (
            (F.col("nt") * F.col("nt") - F.col("s2")).cast("double")
            / (F.col("nt") * F.col("nt")).cast("double")
        ).alias("char_gini"),
    )


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
