"""Pieces that more than one catalog domain module uses: SQL text
fragments, MinHash and k-means oracle builders, oracle constants, and
the events → WAL envelope frame.

This module registers no query, so importing it never changes the
catalog's order, and every oracle built from it is final when its query
is registered.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.operators import text as tx


# Shared SQL fragments (must mirror creek_spark.functions.text exactly)
SQL_NORM = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"
SQL_TOKENS = "string_split_regex(" + SQL_NORM + ", '\\s+')"


def events_envelope(ev):
    """Map the events table to a WAL envelope (error → delete, else
    upsert; lsn from event_id) — the deterministic change stream the CDC
    catalog entries replay through the real operators."""
    return ev.select(
        F.lit("fp-events").alias("fingerprint"),
        F.struct(
            F.lit("creek").alias("name"),
            F.col("ts").alias("tx_at"),
            F.lit("db").alias("db"),
            F.lit("public").alias("schema"),
            F.lit("events").alias("table"),
            F.col("event_id").alias("tx_id"),
            F.concat(F.lit("0/"), F.upper(F.hex("event_id"))).alias("lsn"),
        ).alias("source"),
        F.when(F.col("event_type") == "error", "d").otherwise("u").alias("op"),
        F.col("ts").alias("sent_at"),
        F.struct(F.col("user_id")).alias("before"),
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.struct("user_id", "event_type", "ts", "value")
        ).alias("after"),
        F.lit(None).cast("array<string>").alias("unchanged_toast"),
    )


NORM = SQL_NORM.format(c="text")
TOKS = SQL_TOKENS.format(c="text")


# MinHash-LSH parameters, shared by the Spark operators' callers and the
# generated oracles (dedup, cross-source matrix, clusters, splits)
N_HASHES = 16
BANDS = 4
ROWS_PER_BAND = N_HASHES // BANDS
SHINGLE_K = 3


def sql_shingles(k: int) -> str:
    """CTE producing distinct (doc, shingle) — mirrors dedup.shingle_rows."""
    concat = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
    toks AS (SELECT doc_id AS doc, {TOKS} AS t FROM documents),
    sh AS (SELECT DISTINCT doc, s AS shingle
           FROM (SELECT doc, unnest([{concat} FOR i IN generate_series(1, len(t)-{k - 1})]) AS s
                 FROM toks) u)
    """


def minhash_oracle(extra_where: str = "") -> str:
    # one-permutation minhash: md5('<g>:'||shingle) split into 8 4-hex
    # chunks (mirrors dedup.minhash_signatures / CHUNKS_PER_MD5)
    mins = ",\n           ".join(
        f"MIN(substr(md5('{i // 8}:' || shingle), {(i % 8) * 4 + 1}, 4)) AS h{i}"
        for i in range(N_HASHES)
    )
    band_selects = []
    for b in range(BANDS):
        cols = " || ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        band_selects.append(
            f"SELECT doc, {b} AS band, md5({cols}) AS sig FROM sigs"
        )
    bands_sql = "\n    UNION ALL\n    ".join(band_selects)
    return f"""
    WITH {sql_shingles(SHINGLE_K)},
    sigs AS (SELECT doc, {mins} FROM sh GROUP BY doc),
    bands AS ({bands_sql})
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc < b.doc{extra_where}
    """


def cluster_oracle() -> str:
    """Connected components over the minhash candidate pairs via a
    recursive transitive closure (UNION dedups, so it terminates)."""
    pairs_sql = minhash_oracle().strip()
    # reuse the generated minhash CTEs; splice the final SELECT into a CTE
    # rsplit: the pairs projection is the LAST "SELECT DISTINCT" (the
    # shingle CTE contains an earlier one)
    with_part, select_part = pairs_sql.rsplit("SELECT DISTINCT", 1)
    return f"""
    WITH RECURSIVE {with_part.strip()[len("WITH "):].rstrip().rstrip(",")},
    pairs AS (SELECT DISTINCT{select_part}),
    edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT s, d FROM edges
              UNION
              SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
    SELECT s AS doc, LEAST(s, MIN(d)) AS cluster FROM reach GROUP BY s
    """


STOP_LIST = ", ".join(f"'{s}'" for s in tx.STOPWORDS)

TEXT_METRICS_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text, {NORM} AS norm, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
           CAST(length(norm) AS INTEGER) AS n_chars_norm,
           CAST(length(text) AS INTEGER) AS n_chars_raw,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS punct_ratio,
           CAST(len(list_filter(toks, x -> x IN ({STOP_LIST}))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
           CAST(length(replace(norm, ' ', '')) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS mean_token_len,
           (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE 0.0 END)
             * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE))
             * (0.5 + CAST(len(list_filter(toks, x -> x IN ({STOP_LIST}))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE)) AS quality_score
    FROM base
    """


# k-means parameters (embedding_kmeans, and dedup_semantic on the same
# assignment)
KM_K = 8
KM_ITERS = 2
KM_SCALE = 10**6


def kmeans_ctes(k: int = KM_K, iters: int = KM_ITERS, s: int = KM_SCALE):
    """Unrolled Lloyd iterations as a CTE chain — exact because every
    step is integer arithmetic (quantized components, BIGINT distances,
    truncating-division means: DuckDB `//` and Spark `div` both truncate
    toward zero).  Returns (ctes, final_assign_name) so other oracles
    (semantic dedup) can build on the same assignment."""

    def assign(i, cents):
        return f"""a{i} AS (
      SELECT id, v, cid, d AS dist FROM (
        SELECT id, v, cid, d,
               row_number() OVER (PARTITION BY id ORDER BY d, mkey, cid) AS rn
        FROM (SELECT q.id, q.v, c.mkey, c.cid,
                     list_sum([(q.v[i]-c.cv[i])*(q.v[i]-c.cv[i])
                               FOR i IN generate_series(1, len(q.v))]) AS d
              FROM qv q CROSS JOIN {cents} c) dd) rr
      WHERE rn = 1)"""

    def update(i):
        return f"""e{i} AS (
      SELECT cid, i AS pos, SUM(v[i]) AS sm, COUNT(*) AS n
      FROM a{i}, unnest(generate_series(1, len(v))) AS t(i)
      GROUP BY cid, i),
    c{i} AS (
      SELECT c.mkey, c.cid,
             CASE WHEN COUNT(e.pos) = 0 THEN any_value(c.cv)
                  ELSE list(e.sm // e.n ORDER BY e.pos) END AS cv
      FROM c{i - 1} c LEFT JOIN e{i} e ON e.cid = c.cid
      GROUP BY c.mkey, c.cid)"""

    ctes = [
        f"""qv AS (SELECT vec_id AS id,
                   [CAST(FLOOR(CAST(x AS DOUBLE) * {s}) AS BIGINT)
                    FOR x IN embedding] AS v
            FROM embeddings)""",
        f"""c0 AS (SELECT md5(CAST(id AS VARCHAR)) AS mkey, id AS cid, v AS cv
            FROM qv ORDER BY mkey, cid LIMIT {k})""",
    ]
    for i in range(1, iters + 1):
        ctes.append(assign(i, f"c{i - 1}"))
        ctes.append(update(i))
    ctes.append(assign(iters + 1, f"c{iters}"))
    return ctes, f"a{iters + 1}"


# day-index origin for the per-key OLS trend and the activity streaks
TREND_EPOCH = "2024-01-01 00:00:00"
