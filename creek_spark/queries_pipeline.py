"""Catalog domain: the training-data pipeline and data quality — the
fused sampling/scrubbing/packing pipeline, contamination check,
quality-quantile, stratified and token-budget sampling, stable export
shards and the full training export, leakage-safe splits, temperature
mixing and PII audit; and the quality screens: table profile,
correlations, DQ audit, distribution drift (TVD) and Benford.

Determinism rules as in queries.py (decimal sandwich, integer quota
arithmetic, IEEE-only scalar math, md5 orderings).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.operators import dedup as dd
from creek_spark.operators import pipeline as pl
from creek_spark.operators import text as tx
from creek_spark.queries import _t, dec, register
from creek_spark.query_parts import (
    BANDS,
    N_HASHES,
    SHINGLE_K,
    TEXT_METRICS_ORACLE,
    TOKS,
    cluster_oracle,
    sql_shingles,
)


# =====================================================================
# training pipeline (sampling / scrubbing / packing — operators/pipeline)
# =====================================================================

_PIPE_SQL = f"""
    WITH scrubbed AS (
      SELECT doc_id,
             length(text) AS n_chars,
             substr(md5('s' || CAST(doc_id AS VARCHAR)), 1, 2) < '40' AS sampled,
             CAST(len(regexp_extract_all(text, '{pl.EMAIL_RE}'))
                  + len(regexp_extract_all(text, '{pl.IPV4_RE}')) AS INTEGER)
               AS n_redactions,
             CAST(length(regexp_replace(
                    regexp_replace(text, '{pl.EMAIL_RE}', '<EMAIL>', 'g'),
                    '{pl.IPV4_RE}', '<IP>', 'g')) AS INTEGER) AS scrubbed_len,
             CAST(doc_id % 8 AS INTEGER) AS shard
      FROM documents),
    cum AS (
      SELECT *,
             SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars
               AS cum_before
      FROM scrubbed)
    SELECT doc_id, sampled, n_redactions, scrubbed_len, shard,
           CAST(cum_before // 4096 AS INTEGER) AS pack_id,
           CAST(cum_before % 4096 AS INTEGER) AS pack_offset
    FROM cum
"""


@register("training_pipeline", _PIPE_SQL, "pipeline")
def training_pipeline(spark, sf_dir):
    """The per-document decisions of a pretraining-data pipeline in one
    scan: deterministic 25% sample flag (md5-derived — reruns and
    late shards decide identically), PII scrub audit (emails + IPv4
    redacted, span count + scrubbed length), and sequence packing
    (shard → cumulative-offset pack assignment under a 4096-token
    budget).  Sampling/scrub are stateless per-row expressions that
    fuse into the scan; packing adds the pipeline's only shuffle (by
    shard).  Operators: operators/pipeline.py."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n_chars")
    )
    scr = pl.scrub_pii(docs, "text")
    packed = pl.pack_sequences(
        scr,
        "doc_id",
        "n_chars",
        budget=4096,
        n_shards=8,
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return packed.select(
        "doc_id",
        pl.sample_hash(F.col("doc_id"), 25, salt="s").alias("sampled"),
        "n_redactions",
        F.length(F.col("text_scrubbed")).cast("int").alias("scrubbed_len"),
        "shard",
        "pack_id",
        "pack_offset",
    )


CONTAM_K = 5
CONTAM_BENCH_MAX = 20
CONTAM_MIN_COVERAGE = 0.2


def _contamination_oracle() -> str:
    """Same shingle CTE as the dedup oracles; bench side = doc_id <
    CONTAM_BENCH_MAX, coverage = overlap / bench shingle count."""
    return f"""
    WITH {sql_shingles(CONTAM_K)},
    bsz AS (SELECT doc AS bench_doc, CAST(COUNT(*) AS BIGINT) AS bsz
            FROM sh WHERE doc < {CONTAM_BENCH_MAX} GROUP BY doc),
    inter AS (SELECT c.doc, b.doc AS bench_doc, CAST(COUNT(*) AS BIGINT) AS n_overlap
              FROM sh c JOIN sh b ON b.shingle = c.shingle
              WHERE b.doc < {CONTAM_BENCH_MAX} AND c.doc <> b.doc
              GROUP BY c.doc, b.doc)
    SELECT i.doc, i.bench_doc, i.n_overlap,
           CAST(i.n_overlap AS DOUBLE) / CAST(z.bsz AS DOUBLE) AS coverage
    FROM inter i JOIN bsz z USING (bench_doc)
    WHERE CAST(i.n_overlap AS DOUBLE) / CAST(z.bsz AS DOUBLE) >= {CONTAM_MIN_COVERAGE}
    """


@register("contamination_check", _contamination_oracle(), "pipeline")
def contamination_check(spark, sf_dir):
    """Eval-set contamination scan: corpus documents covering ≥ 20% of a
    benchmark document's 5-gram shingles (bench = doc_id < 20 as the
    stand-in eval suite).  One corpus scan, bench shingles broadcast, no
    self-join — the pair space is corpus×bench, not corpus²."""
    from creek_spark.operators.pipeline import contamination_overlap

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < CONTAM_BENCH_MAX)
    return contamination_overlap(
        docs, bench, "text", "doc_id", k=CONTAM_K, min_coverage=CONTAM_MIN_COVERAGE
    )


QUALITY_KEEP_FRAC = 0.5


def _quality_filter_oracle() -> str:
    """Per-language top-half quality filter over the text_metrics score
    (nested WITH in a subquery, same wrapper trick as corpus_report)."""
    inner = TEXT_METRICS_ORACLE
    return f"""
    SELECT doc_id, lang, quality_score, qrank FROM (
      SELECT m.doc_id, d.lang, m.quality_score,
             CAST(row_number() OVER (PARTITION BY d.lang
                                     ORDER BY m.quality_score DESC,
                                              m.doc_id) AS INTEGER) AS qrank,
             COUNT(*) OVER (PARTITION BY d.lang) AS n
      FROM ({inner}) m JOIN documents d ON d.doc_id = m.doc_id) t
    WHERE qrank <= CAST(ceil({QUALITY_KEEP_FRAC} * CAST(n AS DOUBLE)) AS BIGINT)
    """


@register("sample_quality_filter", _quality_filter_oracle(), "pipeline")
def sample_quality_filter(spark, sf_dir):
    """Quality-quantile filtering: keep the best ceil(50%·n) documents
    per language by the text_metrics quality score (ties broken by
    doc_id) — the model-free FineWeb-style "train on the better half"
    selection step.

    Scale shape (proactive round-5 fix): lang has a handful of values,
    so a per-language ranking window is a few single-task sorts of the
    corpus.  The rank instead comes from segmented_running — documents
    window within (lang, score-bucket) segments (the bucket is monotone
    along the score-desc order) with broadcast per-segment offsets — and
    the quota joins back from a tiny per-language count of the raw
    table (no second metrics pass)."""
    from creek_spark.operators.distributed import segmented_running

    docs = _t(spark, sf_dir, "documents")
    m = tx.text_metrics(docs, "text", "doc_id", keep=("lang",)).select(
        "doc_id", "lang", "quality_score"
    )
    base = segmented_running(
        m,
        ["lang"],
        (-F.floor(F.col("quality_score") * 64)).cast("bigint"),
        [F.col("quality_score").desc(), F.col("doc_id")],
        {"qrank": (F.lit(1), "rownum")},
        persist=True,  # input is the derived metrics pipeline
    )
    quota = docs.groupBy("lang").agg(
        F.ceil(
            F.lit(QUALITY_KEEP_FRAC) * F.count(F.lit(1)).cast("double")
        ).alias("_quota")
    )
    return (
        base.join(F.broadcast(quota), "lang")
        .where(F.col("qrank") <= F.col("_quota"))
        .select(
            "doc_id", "lang", "quality_score",
            F.col("qrank").cast("int").alias("qrank"),
        )
    )


# =====================================================================
# table profiling (ANALYZE-style one-pass column statistics)
# =====================================================================

_PROFILE_COLS = {
    "orders": [
        ("o_orderkey", "num"),
        ("o_custkey", "num"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "num"),
        ("o_orderdate", "ts"),
        ("o_orderpriority", "str"),
    ],
    "events": [
        ("event_id", "num"),
        ("ts", "ts"),
        ("user_id", "num"),
        ("event_type", "str"),
        ("value", "num"),
        ("props", "str"),
    ],
}


def _profile_oracle() -> str:
    from creek_spark.operators.profile import profile_oracle_sql

    parts = [
        f"SELECT '{tbl}' AS tbl, p.* FROM ({profile_oracle_sql(tbl, cols)}) p"
        for tbl, cols in _PROFILE_COLS.items()
    ]
    return "\nUNION ALL\n".join(parts)


@register(
    "table_profile",
    _profile_oracle(),
    "profiling",
)
def table_profile(spark, sf_dir):
    """ANALYZE-style statistics for every column of two tables — row
    count, null count, exact distinct cardinality, typed min/max — the
    first pass any training-data pipeline runs to size partitions and
    catch skew/quality problems.

    One scan + one aggregation per table (stats for ALL columns come out
    of a single Aggregate; the unpivot is a stack over the one-row
    result, not a reshuffle).  Exact COUNT(DISTINCT) over k columns
    costs a k+1-way Expand before the single shuffle — the documented
    100 TB knob is profile_columns(approx=True), which switches to
    HyperLogLog++ and drops the Expand (operators/profile.py)."""
    from creek_spark.operators.profile import profile_columns

    parts = []
    for tbl, cols in _PROFILE_COLS.items():
        prof = profile_columns(
            _t(spark, sf_dir, tbl), [c for c, _ in cols]
        ).select(F.lit(tbl).alias("tbl"), "*")
        parts.append(prof)
    return parts[0].unionByName(parts[1])


@register(
    "sample_stratified",
    """
    WITH ranked AS (
      SELECT source, lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS srank,
             COUNT(*) OVER (PARTITION BY source, lang) AS n
      FROM documents)
    SELECT source, lang, doc_id, n_chars
    FROM ranked
    WHERE srank <= CAST(ceil(0.2 * CAST(n AS DOUBLE)) AS BIGINT)
    """,
    "pipeline",
)
def sample_stratified(spark, sf_dir):
    """Exact-count stratified sampling: EXACTLY ceil(20% · n) documents
    per (source, lang) stratum, chosen by md5 rank — the balanced-corpus
    quota step where Bernoulli sampling can't guarantee small strata
    their count.  Pure function of ids → identical rows in any engine /
    any run; one per-stratum window shuffle (operators/pipeline.py)."""
    from creek_spark.operators.pipeline import stratified_exact_sample

    docs = _t(spark, sf_dir, "documents").select(
        "source", "lang", "doc_id", "n_chars"
    )
    return stratified_exact_sample(docs, ["source", "lang"], "doc_id", 0.2)


@register(
    "dq_audit",
    """
    SELECT 'orders_fk_customer' AS check,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT) AS n_bad
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'customer_pk_unique',
           CAST((SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
                AS BIGINT)
    UNION ALL
    SELECT 'events_value_nonnull',
           CAST((SELECT COUNT(CASE WHEN value IS NULL THEN 1 END)
                 FROM events) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT COUNT(CASE WHEN NOT (l_quantity >= 1
                                             AND l_quantity <= 50)
                              THEN 1 END)
                 FROM lineitem) AS BIGINT)
    """,
    "quality",
)
def dq_audit(spark, sf_dir):
    """Data-quality audit (the dbt-test battery as one report): FK
    orphan counts via broadcast left-anti joins, PK uniqueness as
    COUNT − COUNT(DISTINCT), null and domain-range violations as
    conditional counts.  Every check is a one-row aggregate, so the
    union is metadata-sized; at 100 TB the audit costs one scan per
    child table with pushdown-friendly predicates
    (operators/quality.py)."""
    from creek_spark.operators import quality as dq

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")
    return dq.dq_audit(
        [
            dq.fk_check("orders_fk_customer", orders, customer,
                        "o_custkey", "c_custkey"),
            dq.fk_check("lineitem_fk_orders", lineitem, orders,
                        "l_orderkey", "o_orderkey"),
            dq.unique_check("customer_pk_unique", customer, ["c_custkey"]),
            dq.null_check("events_value_nonnull", events, "value"),
            dq.range_check(
                "lineitem_qty_range",
                lineitem,
                (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
            ),
        ]
    )


TOKEN_BUDGET = 2000


@register(
    "sample_token_budget",
    f"""
    SELECT doc_id, source, n_tokens, cum_tokens FROM (
      SELECT doc_id, source,
             CAST(len({TOKS}) AS BIGINT) AS n_tokens,
             SUM(CAST(len({TOKS}) AS BIGINT))
               OVER (PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM documents) t
    WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
    "pipeline",
)
def sample_token_budget(spark, sf_dir):
    """Token-budget sampling: per source, keep documents in md5 order
    while the running whitespace-token total stays ≤ 2000 — the
    "N tokens per source" mixture-construction step (count quotas can't
    cap compute; token budgets do).  Kept set is a deterministic prefix
    of the md5 order; one per-stratum window shuffle, running sum rides
    the rank's exchange (operators/pipeline.py token_budget_sample)."""
    from creek_spark.operators.pipeline import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    return token_budget_sample(
        docs, budget=TOKEN_BUDGET, text_col="text",
        id_col="doc_id", stratum_col="source",
    )


@register(
    "export_shards",
    f"""
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len({TOKS}) AS BIGINT)) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_strata,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM (SELECT *,
                 CAST(strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                      AS INTEGER) AS shard
          FROM documents) t
    GROUP BY shard
    """,
    "pipeline",
)
def export_shards(spark, sf_dir):
    """Stable-shard export manifest: shard = hex-prefix of md5(doc_id)
    (a pure function of the id — re-exports and incremental appends land
    rows in the same shard regardless of partitioning), with per-shard
    doc/token/strata balance stats.  Map-side assignment + one 16-row
    hash agg; the writer half (write_shards) streams each shard with a
    single repartition exchange (operators/pipeline.py)."""
    from creek_spark.operators.pipeline import shard_stats

    docs = _t(spark, sf_dir, "documents")
    return shard_stats(
        docs, id_col="doc_id", text_col="text",
        stratum_col="source", n_shards=16,
    )


def _training_export_oracle() -> str:
    inner = TEXT_METRICS_ORACLE
    return f"""
    WITH m AS (SELECT mm.doc_id, d.lang, d.source, mm.n_tokens, mm.quality_score
               FROM ({inner}) mm JOIN documents d ON d.doc_id = mm.doc_id),
    q AS (SELECT doc_id, lang, source, n_tokens FROM (
            SELECT m.*,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY quality_score DESC, doc_id) AS qrank,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM m) t
          WHERE qrank <= CAST(ceil(0.5 * CAST(n AS DOUBLE)) AS BIGINT)),
    tb AS (SELECT doc_id, lang, source, n_tokens FROM (
            SELECT q.*,
                   SUM(CAST(n_tokens AS BIGINT))
                     OVER (PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
            FROM q) t
          WHERE cum <= 2000),
    sh AS (SELECT *, CAST(strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                          AS INTEGER) AS shard FROM tb)
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM sh GROUP BY shard
    """


@register("training_export", _training_export_oracle(), "pipeline")
def training_export(spark, sf_dir):
    """The full export pipeline as ONE fused plan: quality-filter the
    corpus (best half per language by text_metrics score) → cap each
    source at a 2000-token budget (md5-order prefix) → assign stable
    md5-hex shards → emit the per-shard manifest.

    One metrics pass; the quality metrics computed for filtering are
    REUSED for the token budget (no re-tokenization).  Both ordered
    stages are segmented_running decompositions (proactive round-5 fix —
    lang and source are LOW-cardinality, so plain per-stratum windows
    would be single-task corpus sorts): the quality rank windows within
    (lang, score-bucket) segments, the token cumsum within
    (source, md5-prefix) segments, each with broadcast per-segment
    offsets; quotas come from a tiny per-language count of the raw
    table.  No stage leaves the JVM."""
    from creek_spark.operators import text as tx
    from creek_spark.operators.distributed import segmented_running
    from creek_spark.operators.pipeline import shard_assign

    docs = _t(spark, sf_dir, "documents")
    m = tx.text_metrics(docs, "text", "doc_id", keep=("lang", "source"))
    ranked = segmented_running(
        m.select("doc_id", "lang", "source", "n_tokens", "quality_score"),
        ["lang"],
        (-F.floor(F.col("quality_score") * 64)).cast("bigint"),
        [F.col("quality_score").desc(), F.col("doc_id")],
        {"_qrank": (F.lit(1), "rownum")},
        persist=True,  # input is the derived metrics pipeline
    )
    quota = docs.groupBy("lang").agg(
        F.ceil(F.lit(0.5) * F.count(F.lit(1)).cast("double")).alias("_quota")
    )
    q = (
        ranked.join(F.broadcast(quota), "lang")
        .where(F.col("_qrank") <= F.col("_quota"))
        .drop("_qrank", "_quota", "_seg")
    )
    tb = segmented_running(
        q.withColumn("_skey", F.md5(F.col("doc_id").cast("string"))),
        ["source"],
        F.substring(F.col("_skey"), 1, 2),
        [F.col("_skey"), F.col("doc_id")],
        {"_cum": (F.col("n_tokens").cast("bigint"), "sum")},
        persist=True,  # input chains the metrics + quality-filter legs
    ).where(F.col("_cum") <= 2000)
    sh = shard_assign(tb, "doc_id", n_shards=16)
    return sh.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_tokens").cast("bigint")).cast("bigint").alias("n_tokens"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]

    # decimal→double through VARCHAR: DuckDB's direct decimal→double
    # cast scales the hugeint in float arithmetic and is NOT correctly
    # rounded once the sum needs > 53 bits (measured at sf0.1:
    # ss_l_extendedprice exact 2224071148386123.169 → direct cast
    # ...123.0, Spark/Java/strtod all ...123.2); its string formatter +
    # fast_float parse ARE correctly rounded, so this route makes both
    # engines produce the bit-identical nearest double of the same
    # exact decimal at any scale factor.
    def as_dbl(expr: str) -> str:
        return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"

    stats = ",\n             ".join(
        f"{as_dbl(f'SUM(CAST({c} AS DECIMAL(19,4)))')} AS s_{c},\n             "
        f"{as_dbl(f'SUM(CAST({c} AS DECIMAL(19,4)) * CAST({c} AS DECIMAL(19,4)))')} AS ss_{c}"
        for c in _CORR_COLS
    )
    cross = ",\n             ".join(
        f"{as_dbl(f'SUM(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4)))')} AS sp_{a}_{b}"
        for a, b in pairs
    )
    sel = "\n    UNION ALL\n    ".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
           (sp_{a}_{b} - s_{a} * s_{b} / nd)
             / sqrt((ss_{a} - s_{a} * s_{a} / nd) * (ss_{b} - s_{b} * s_{b} / nd)) AS corr
    FROM m"""
        for a, b in pairs
    )
    return f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
             {stats},
             {cross}
      FROM lineitem)
    {sel}
    """


@register("profile_correlations", _corr_oracle(), "profile")
def profile_correlations(spark, sf_dir):
    """Pairwise Pearson correlations of the lineitem numeric columns in
    ONE scan: every sum / sum-of-squares / cross-product is an exact
    decimal aggregate in a single partial+final agg (no per-pair passes,
    no corr() builtin — its streaming accumulation is
    summation-order-dependent and can't hash-match an oracle), then the
    correlation formula is fixed-order IEEE arithmetic on the one
    broadcast stats row.  dim² terms ride one metadata-sized exchange —
    the column-profiler shape at any corpus size."""
    li = _t(spark, sf_dir, "lineitem")
    cols = _CORR_COLS
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    d = lambda c: dec(c, 14, 4)  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("double").alias("nd")]
    for c in cols:
        aggs.append(F.sum(d(c)).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(d(c) * d(c)).cast("double").alias(f"ss_{c}"))
    for a, b in pairs:
        aggs.append(F.sum(d(a) * d(b)).cast("double").alias(f"sp_{a}_{b}"))
    m = li.agg(*aggs)
    out = None
    for a, b in pairs:
        corr = (
            F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}") / F.col("nd")
        ) / F.sqrt(
            (F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}") / F.col("nd"))
            * (F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}") / F.col("nd"))
        )
        row = m.select(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"), corr.alias("corr")
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "pii_audit",
    r"""
    WITH u AS (
      SELECT source,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                  ELSE text END AS text
      FROM documents),
    m AS (
      SELECT source,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ip
      FROM u)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
           CAST(SUM(CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ip,
           CAST(SUM(n_email) AS BIGINT) AS total_emails,
           CAST(SUM(n_ip) AS BIGINT) AS total_ips
    FROM m GROUP BY source
    """,
    "pipeline",
)
def pii_audit(spark, sf_dir):
    """PII exposure report before a corpus ships: per source, how many
    documents contain emails / IPv4 literals and the total match counts
    — the audit that decides whether scrub_pii must run and proves it
    did (post-scrub, the counts return to zero; asserted in
    tests/test_export_ops.py).  The synthetic corpus carries no PII, so
    every 10th document gets a deterministic injected contact line —
    the regexes (the SAME ones the scrubber uses,
    operators/pipeline.py EMAIL_RE / IPV4_RE) must actually fire for
    the hash to match.  One scan + one source-keyed partial agg."""
    from creek_spark.operators.pipeline import EMAIL_RE, IPV4_RE

    docs = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ),
    ).otherwise(F.col("text"))
    u = docs.select("source", injected.alias("text"))
    ne = F.coalesce(F.regexp_count(F.col("text"), F.lit(EMAIL_RE)), F.lit(0))
    ni = F.coalesce(F.regexp_count(F.col("text"), F.lit(IPV4_RE)), F.lit(0))
    m = u.select("source", ne.alias("n_email"), ni.alias("n_ip"))
    return m.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_email") > 0, 1).otherwise(0)).cast("bigint").alias("docs_with_email"),
        F.sum(F.when(F.col("n_ip") > 0, 1).otherwise(0)).cast("bigint").alias("docs_with_ip"),
        F.sum("n_email").cast("bigint").alias("total_emails"),
        F.sum("n_ip").cast("bigint").alias("total_ips"),
    )


# =====================================================================
# leakage-safe splitting (clusters share a split)
# =====================================================================

SPLIT_FRACTIONS = {"train": 90, "val": 5, "test": 5}
SPLIT_SALT = "split"


def _split_case() -> str:
    """The md5-threshold CASE mirroring pipeline.split_assign for
    SPLIT_FRACTIONS: sorted names, cumulative /256 thresholds."""
    acc, arms = 0, []
    names = sorted(SPLIT_FRACTIONS)
    for name in names[:-1]:
        acc += SPLIT_FRACTIONS[name]
        thr = format(int(acc * 256 / 100), "02x")
        arms.append(f"WHEN _fb < '{thr}' THEN '{name}'")
    return (
        f"CASE "
        + " ".join(arms)
        + f" ELSE '{names[-1]}' END"
    )


def _leakage_split_oracle() -> str:
    """Splice the recursive-closure component CTEs (same as
    dedup_clusters' oracle) into a CTE, then LEFT JOIN every document and
    split on the md5 of the component representative."""
    cluster_sql = cluster_oracle().strip()
    with_part, final_select = cluster_sql.rsplit("SELECT s AS doc", 1)
    with_part = with_part.rstrip()
    if not with_part.endswith(","):
        with_part += ","
    case = _split_case()
    return f"""
    {with_part}
    comp AS (SELECT s AS doc{final_select}),
    rep AS (SELECT d.doc_id,
                   COALESCE(c.cluster, d.doc_id) AS cluster_rep
            FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
    fb AS (SELECT doc_id, cluster_rep,
                  substring(md5('{SPLIT_SALT}' || CAST(cluster_rep AS VARCHAR)), 1, 2) AS _fb
           FROM rep)
    SELECT doc_id, cluster_rep, {case} AS split FROM fb
    """


@register("split_leakage_safe", _leakage_split_oracle(), "pipeline")
def split_leakage_safe(spark, sf_dir):
    """Cluster-aware train/val/test split: every near-duplicate cluster
    (connected components over the MinHash-LSH candidate pairs, exactly
    dedup_clusters' graph) lands in ONE split, keyed on the md5 of the
    cluster representative — the split that makes held-out evaluation
    honest on a corpus with near-dups.

    The oracle recomputes the components with a recursive transitive
    closure and applies the identical md5-threshold assignment — exact
    match despite the Spark side being an iterative
    (checkpoint-truncated) algorithm."""
    from creek_spark.operators.pipeline import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
    )
    return leakage_safe_split(docs, pairs, "doc_id", SPLIT_FRACTIONS,
                              salt=SPLIT_SALT)


# =====================================================================
# temperature-based source mixing
# =====================================================================

MIX_BUDGET = 200
MIX_SALT = "mix"
MIX_SCALE = 1_000_000


def _mix_temperature_oracle() -> str:
    return f"""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM documents GROUP BY lang),
    w AS (SELECT lang,
                 CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * {float(MIX_SCALE)}) AS BIGINT) AS w
          FROM c),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
    q AS (SELECT lang, (CAST({MIX_BUDGET} AS BIGINT) * w) // tw AS quota
          FROM w, tot),
    r AS (SELECT doc_id, lang, n_chars,
                 ROW_NUMBER() OVER (
                     PARTITION BY lang
                     ORDER BY md5('{MIX_SALT}' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rk
          FROM documents)
    SELECT r.doc_id, r.lang, r.n_chars
    FROM r JOIN q USING (lang) WHERE rk <= quota
    """


@register("mix_temperature", _mix_temperature_oracle(), "pipeline")
def mix_temperature(spark, sf_dir):
    """Temperature-(τ=0.5) mixture sampling over languages: per-language
    quotas ∝ sqrt(count) — the multilingual rebalancing move — with
    integer quota arithmetic and md5-rank selection so both engines pick
    the exact same rows.  The oracle's per-language ROW_NUMBER window is
    computed distributed via segmented_running (no low-cardinality
    partition sort)."""
    from creek_spark.operators.pipeline import temperature_mix_sample

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mix_sample(
        docs, "lang", "doc_id",
        budget=MIX_BUDGET, weight_scale=MIX_SCALE, salt=MIX_SALT,
    )
    return out.select("doc_id", "lang", "n_chars")


# =====================================================================
# distribution drift (per-source TVD vs the corpus)
# =====================================================================

DRIFT_BIN_WIDTH = 100
DRIFT_N_BINS = 6


def _drift_oracle() -> str:
    w, nb = DRIFT_BIN_WIDTH, DRIFT_N_BINS
    return f"""
    WITH b AS (SELECT source,
                      LEAST(CAST(n_chars AS BIGINT) // {w}, {nb - 1}) AS bin
               FROM documents),
    gb AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS c_gb
           FROM b GROUP BY source, bin),
    gt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g FROM b GROUP BY source),
    cb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS c_b FROM b GROUP BY bin),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    grid AS (SELECT gt.source, gt.n_g, cb.bin, cb.c_b, n.n,
                    COALESCE(gb.c_gb, 0) AS c_gb
             FROM gt CROSS JOIN cb CROSS JOIN n
             LEFT JOIN gb ON gb.source = gt.source AND gb.bin = cb.bin)
    SELECT source, CAST(n_g AS BIGINT) AS n_docs,
           CAST(CAST(SUM(ABS(c_gb * n - c_b * n_g)) AS BIGINT) AS DOUBLE)
               / (2.0 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE)) AS tvd
    FROM grid GROUP BY source, n_g, n
    """


@register("quality_drift_tvd", _drift_oracle(), "quality")
def quality_drift_tvd(spark, sf_dir):
    """Per-source distribution drift: total-variation distance between
    each source's document-length distribution (100-char bins, top bin
    open) and the whole corpus — the pre-mix drift monitor.  Integer bin
    sums, one final IEEE division; one corpus scan, everything after is
    aggregate-sized and broadcast."""
    from creek_spark.operators.quality import distribution_drift

    docs = _t(spark, sf_dir, "documents")
    return distribution_drift(
        docs, "source", "n_chars",
        bin_width=DRIFT_BIN_WIDTH, n_bins=DRIFT_N_BINS,
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
