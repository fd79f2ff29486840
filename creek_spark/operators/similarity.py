"""Similarity search over embedding columns (array<float>).

Two paths:
  * cosine_topk        — brute-force exact top-k, the correctness baseline.
    Oracle-exact variant: per-dimension products are cast to DECIMAL and
    summed exactly, so Spark and an ANSI-SQL engine agree bit-for-bit
    (double summation is order-dependent; decimal summation is not).
  * cosine_topk_fast   — zip_with/aggregate fold (whole-stage codegen, no
    explode) for throughput; identical ranking in practice, used by bench.
  * lsh_bucket_topk    — random-hyperplane LSH scale path: queries only
    compare against vectors sharing a hash bucket, turning O(Q·N) into
    O(Q·bucket).  Hyperplanes are derived deterministically from md5 so
    results are reproducible (and oracle-able) without a RNG.

At 100 TB the brute-force path is a broadcast of the (small) query set
against a partitioned corpus — no shuffle of the big side; the LSH path
shuffles the corpus once on bucket id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from creek_spark.functions.vectors import cosine_similarity

# The shipped IVFADC operating point (ivfpq_topk/ivfpq_search defaults):
# exact-cosine rerank depth that, with n_codes=64 and nprobe=8/16, holds
# recall@5 ≥ 0.6 on an UNSTRUCTURED corpus (measured 0.72 at bench sf0.1;
# gated in tests/test_similarity.py and reported in bench extras).
DEFAULT_RERANK = 100


# Width of the double-prefilter guard band in cosine_topk.  The emitted
# scores are exact-decimal; the prefilter only has to keep every pair
# whose DECIMAL score could reach the top-k, which is guaranteed when
# 2·max|cos_double − cos_decimal| ≤ PREFILTER_EPS (see the proof note in
# cosine_topk).  The divergence is the per-product decimal quantization
# (≤ dim·5e-13 on the dot) plus the double fold's rounding (~1e-13),
# normalized by the norms — measured ≤ 4e-11 across every driver SF
# (tests/test_similarity.py gates it at 1e-8), so 1e-6 leaves two orders
# of magnitude of slack while still pruning to ~k rows per query.
PREFILTER_EPS = 1e-6


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (q_id, n_id, cos_sim double, rnk int), rnk 1..k, self-match
    excluded, ties broken by n_id.  Scores are `_exact_dot` decimal folds
    (bit-identical to an ANSI-SQL decimal SUM), as always.

    Plan shape (round-12, second pass): the pair set NEVER shuffles.
    Pass 1 is `cosine_topk_fast` — a pure row_number ≤ k cut, so the
    partial WindowGroupLimit truncates map-side and its exchange
    carries ≤ splits·|Q|·k narrow rows; its per-query minimum
    IS the kth-best double score.  Pass 2 re-scans the pairs map-side
    and keeps the eps band {score_double ≥ kth − PREFILTER_EPS} against
    the broadcast kth, rescoring the ~k survivors with the decimal fold
    in place (no survivor broadcast, no third corpus scan).  The earlier
    round-12 form instead ran an eps-band level-1 window whose filter
    is not a pure rank cut, so no WindowGroupLimit applied and the FULL
    |Q|·|corpus| pair set rode the level-1 exchange; the extra map-side
    double-fold pass here is the cheaper term at scale (guide §2:
    shuffle fewer bytes — recompute beats shuffling the corpus).

    Why the result is identical, not approximately so: with
    e = max|cos_double − cos_decimal| over the corpus, any pair in the
    decimal top-k (ties included) has at most k−1 pairs more than 2e of
    double-score above it, so its double score is ≥ (kth double score)
    − 2e; the band keeps everything down to kth − PREFILTER_EPS and
    PREFILTER_EPS ≥ 2e by four orders of magnitude (measured, and gated
    in tests/test_similarity.py).  When a query has fewer than k
    neighbors the pass-1 minimum is the global minimum score, so the
    band keeps every pair — the k>|corpus| edge is covered."""
    kth = (
        cosine_topk_fast(corpus, queries, id_col=id_col, vec_col=vec_col, k=k)
        .groupBy("q_id")
        .agg(F.min("cos_sim").alias("_kth"))
    )
    q = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv"))
    )
    band = (
        corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("_cv"))
        .crossJoin(q)
        .where(F.col("q_id") != F.col("n_id"))
        .join(F.broadcast(kth), "q_id")
        .where(
            cosine_similarity(F.col("_qv"), F.col("_cv"))
            >= F.col("_kth") - F.lit(PREFILTER_EPS)
        )
        .withColumn(
            "cos_sim",
            _exact_dot("_qv", "_cv").cast("double")
            / (
                F.sqrt(_exact_dot("_qv", "_qv").cast("double"))
                * F.sqrt(_exact_dot("_cv", "_cv").cast("double"))
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        band.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


def cosine_topk_fast(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Throughput variant: broadcast cross-join + zip_with fold.

    No explode/shuffle of per-dimension rows; the entire dot product runs
    inside whole-stage codegen.  Used by bench.py.

    Top-k is ONE per-query window with a pure row_number ≤ k cut.  That
    is already the scale-safe shape: Spark's rank-limit pushdown inserts
    a PARTIAL WindowGroupLimit below the exchange, so every map task
    truncates to ≤ k rows per query before shuffling — the exchange
    carries ≤ (map partitions × |Q| × k) rows, never |Q| × |corpus|, and
    the final per-query sort sees ≤ (map partitions × k) rows, never the
    corpus.  (Round 12 added a manual second level ranking within
    (q_id, spark_partition_id()) on the theory that a single window
    sorts each query's whole corpus in one task — but the partial
    WindowGroupLimit was ALREADY doing that truncation map-side, so the
    extra level added one full exchange + window for zero asymptotic
    reduction, and the driver's local[32] bench measured it at 0.21×.
    Reverted round 13; the r11/r12 plan files show the partial
    WindowGroupLimit below the exchange in BOTH forms.)"""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
    )
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(q)
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("cos_sim", cosine_similarity(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


# The exact decimal dot product of float arrays {a} and {b}: each product
# quantized to DECIMAL(25,12), summed by an aggregate fold fully inside
# whole-stage codegen (no explode/shuffle).  Decimal addition is
# associative/commutative, so the fold order does not affect the result —
# bit-identical to an ANSI-SQL decimal SUM.  Precision 25 (not 38): at 38,
# Spark's a+b yields (38,11) — a scale truncation; at 25 the sum is
# (26,12) exact and the cast back to (25,12) is lossless (13 integer
# digits ≫ any bounded-norm dot).  Spelled as SQL because a Column-API
# lambda tree costs one py4j round trip per node (the PQ LUT builds m of
# these per search); one string is one round trip + JVM parse, and the
# SQL-built expressions below embed it.
_EXACT_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(25,12))), "
    "CAST(0 AS DECIMAL(25,12)), "
    "(acc, x) -> CAST(acc + x AS DECIMAL(25,12)))"
)


def _exact_dot(a: str, b: str) -> Column:
    """:data:`_EXACT_DOT` over the array columns (or SQL expressions)
    named ``a`` and ``b``."""
    return F.expr(_EXACT_DOT.format(a=a, b=b))


def _cos_sql(dot: str, qn: str, cn: str) -> str:
    """SQL cosine of a pair from its dot and its two norm-squares; NULL
    when either norm is zero (see :func:`_pair_cos`)."""
    denom = f"(SQRT(CAST({qn} AS DOUBLE)) * SQRT(CAST({cn} AS DOUBLE)))"
    return f"CASE WHEN {denom} != 0.0D THEN CAST({dot} AS DOUBLE) / {denom} END"


def embedding_near_dups(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    Output: (id_a, id_b, cos_sim double), id_a < id_b, cos_sim ≥ threshold.
    Pairs are only formed inside a block (``block_col``) — the standard
    scale guard that keeps the self-join |block|²-bounded instead of
    |corpus|².  For unlabeled corpora pass an LSH bucket id (e.g.
    ``hyperplane_sign_bits``) as the block column; semantics are identical.

    Norms are computed once per row *before* the self-join (N folds, not
    2·pairs), and the dot product is an exact decimal fold so the result
    is deterministic and oracle-matchable across engines."""
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.col(block_col).alias("_blk"),
    ).withColumn("_norm_sq", _exact_dot("_vec", "_vec"))
    a = base.select(
        F.col("_id").alias("id_a"),
        F.col("_vec").alias("_va"),
        F.col("_blk").alias("_blk"),
        F.col("_norm_sq").alias("_na"),
    )
    b = base.select(
        F.col("_id").alias("id_b"),
        F.col("_vec").alias("_vb"),
        F.col("_blk").alias("_blk"),
        F.col("_norm_sq").alias("_nb"),
    )
    return (
        a.join(b, on="_blk")
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
        .select("id_a", "id_b", "cos_sim")
    )


def hyperplane_weights(dim: int, n_planes: int) -> list[list[float]]:
    """±1 weight matrix for the deterministic Rademacher projection.

    Plane p's weight for dimension d is ±1 from one md5("p:d") hex bit —
    reproducible with no RNG and no state, so an ANSI-SQL oracle can inline
    the same literals."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_sign_bits(vec_col, dim: int, n_planes: int = 8):
    """Deterministic random-hyperplane signature (int 0..2^n_planes-1).

    Each plane is ONE `zip_with` product + ONE `aggregate` fold over an
    inlined ±1 weight array — expression size O(n_planes), not the
    O(dim·n_planes) unrolled sum a per-dimension `element_at` chain builds
    (512 nodes at dim=64; a whole-stage-codegen 64KB-method risk at
    dim 1024+).  Products are quantized to DECIMAL(25,12) and summed
    exactly, so the sign — and therefore the bucket — is independent of
    fold order and bit-identical in any ANSI-SQL engine."""
    sig = None
    for p, ws in enumerate(hyperplane_weights(dim, n_planes)):
        warr = F.array(*[F.lit(w) for w in ws])
        prods = F.zip_with(
            vec_col,
            warr,
            lambda x, w: (x.cast("double") * w).cast("decimal(25,12)"),
        )
        acc = F.aggregate(
            prods,
            F.lit(0).cast("decimal(25,12)"),
            lambda a, x: (a + x).cast("decimal(25,12)"),
        )
        bit = F.when(acc > 0, F.lit(1 << p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig.cast("int")


def _pair_cos(qv: str, cv: str, qn: str | None, cn: str | None, exact: bool):
    """Cosine of the pair of vector columns named ``qv``/``cv``.
    exact=True: decimal dot over the precomputed decimal norm-squares
    named ``qn``/``cn`` — bit-reproducible in any ANSI-SQL engine.
    exact=False: double fold (fast path); qn/cn are ignored (None).

    A zero denominator (either side zero-norm) yields NULL — the
    documented exact-path semantics for undefined cosine ("zero rows
    surface NULL / a NULL cell").  Without the guard, ANSI mode raises
    DIVIDE_BY_ZERO instead, which made `on_zero_norm='allow'` builds
    crash whenever the residual path ran this assignment over an
    admitted zero row: the policy promised NULL-cell semantics the
    arithmetic couldn't deliver.  (Verified empirically on this Spark:
    ANSI `/` raises SparkArithmeticException[DIVIDE_BY_ZERO] for
    double/double too — the `/` operator under ANSI is not IEEE
    division; only `try_divide` returns NULL.  Were it IEEE, the
    failure mode would instead be 0/0 → NaN, which Spark's double
    ordering ranks ABOVE every number in desc sorts — zero-norm junk
    ranked FIRST — so the NULL guard is the right fix under either
    semantics; test_ansi_double_division_raises pins the actual one.)
    On any zero-free corpus the guard is value-invariant (the branch
    is never taken), so oracle bit-parity is untouched."""
    if exact:
        return F.expr(_cos_sql(_EXACT_DOT.format(a=qv, b=cv), qn, cn))
    return cosine_similarity(qv, cv)


def ivf_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """Deterministic centroid sample packed into ONE broadcastable row.

    The ``n_cells`` vectors with the smallest md5(id) — a seedless
    pseudo-random draw any SQL engine can replicate — are collected into a
    single md5-sorted array of (mkey, cid, cvec, cnrm) structs.  Array
    position is the stable tie-break ordinal, so no window is needed
    anywhere in the index build; the downstream argmax is a per-row fold
    over this array (see ``ivf_cell_assignment``)."""
    cents = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn("mkey", F.md5(F.col("cid").cast("string")))
        .orderBy("mkey", "cid")
        .limit(n_cells)
        .withColumn("cnrm", _exact_dot("cvec", "cvec"))
    )
    # NOT hinted here: consumers that JOIN wrap with F.broadcast at the
    # join site; index builds also write/collect this frame, and a hint
    # on a non-join consumer logs a HintErrorLogger warning
    return cents.agg(
        F.sort_array(
            F.collect_list(F.struct("mkey", "cid", "cvec", "cnrm"))
        ).alias("cents")
    )


def _cent_sims(side_vec: str, nrm: str | None, exact: bool):
    """array<struct(s,cid)>: cosine of this row's vector against every
    centroid in the broadcast array, computed once per centroid.  The
    exact form is SQL: its cosine names the centroid lambda variable."""
    if exact:
        s = _cos_sql(_EXACT_DOT.format(a=side_vec, b="c.cvec"), nrm, "c.cnrm")
        return F.expr(f"transform(cents, c -> named_struct('s', {s}, 'cid', c.cid))")
    return F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cosine_similarity(F.col(side_vec), c["cvec"]).alias("s"),
            c["cid"].alias("cid"),
        ),
    )


def ivf_cell_assignment(
    df: DataFrame,
    cents: DataFrame,
    side_id: str,
    side_vec: str,
    *,
    exact: bool = False,
    keep_cvec: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffle of the corpus.

    The centroid set is one broadcast row holding an md5-sorted array, so
    assignment is a per-row `aggregate` fold picking argmax(sim) — a pure
    map-side projection: no exchange, no aggregate, no window.  (The
    Window formulation this replaces shuffled and sorted the full
    N·n_cells cross product; even a partial-agg groupBy still exchanges N
    rows and sort-aggregates the cross product.)  Tie-break: earliest
    array position, i.e. smallest md5(cid) — strict `>` in the fold keeps
    the incumbent.

    ``keep_cvec`` also outputs the winning centroid's vector as
    ``cell_vec`` — the residual-encoding input (x − c_cell) rides the
    same fold instead of a centroid-lookup join.

    Output: (side_id, side_vec, cell_id[, cell_vec][, _nrm when exact])."""
    out = df.crossJoin(F.broadcast(cents))  # broadcast NLJ of a 1-row side
    if not exact:
        scored = _cent_sims(side_vec, None, False)
        if keep_cvec:
            scored = F.zip_with(
                scored,
                F.col("cents"),
                lambda sc, c: F.struct(
                    sc["s"].alias("s"),
                    sc["cid"].alias("cid"),
                    c["cvec"].alias("cvec"),
                ),
            )
        acc_fields = [
            F.lit(-2.0).alias("s"),  # below any cosine
            F.when(F.lit(False), F.get(F.col("cents"), 0)["cid"]).alias("cid"),
        ]
        if keep_cvec:
            acc_fields.append(
                F.when(F.lit(False), F.get(F.col("cents"), 0)["cvec"]).alias(
                    "cvec"
                )
            )
        best = F.aggregate(
            scored,
            F.struct(*acc_fields),
            lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
        )
        cols = [side_id, side_vec, best["cid"].alias("cell_id")]
        if keep_cvec:
            cols.append(best["cvec"].alias("cell_vec"))
        return out.select(*cols)

    # Exact path: double-prefiltered decimal argmax (round 13 — the
    # wave-10 pq_encode discipline applied to the centroid assignment,
    # which profiling showed was ~1.1 s of the inline IVFADC query: one
    # full decimal dot per (row, centroid)).  One fold over the centroid
    # array tracks the running DOUBLE cosine maximum and keeps every
    # centroid within IVF_PREFILTER_EPS of it (a prefix-max superset of
    # the final eps band — the running max only increases, so every
    # final-band member was within eps of the prefix max at its own
    # position and is retained; expected band ≈ H(n_cells) ≈ 3, not
    # n_cells).  The exact decimal cosine then scores ONLY the band, in
    # ascending array position with the same strict-> keep-incumbent
    # tie-break.  Exactness: both paths divide by the IDENTICAL
    # denominator (the decimal norms cast to double), so with
    # e = max|cos_double − cos_decimal_as_double| (gated ≤ 1e-8 by
    # test_ivf_prefilter_divergence_bound), every decimal-argmax
    # centroid sits within 2e ≪ eps of the double maximum — the band
    # contains ALL decimal maxima, and every extra member scores
    # strictly lower in the decimal pass, so the band fold returns
    # exactly the full fold's pick, tie-break included.
    # NULL sims (a zero-norm side under on_zero_norm='allow') never
    # update the running max, land in the band (the skip test is NULL),
    # score NULL in the decimal pass and never beat the incumbent — an
    # all-NULL row yields cell_id NULL exactly like the full fold did.
    # NaN payloads are mapped to NULL for the banding (nanvl) so a NaN
    # CENTROID cannot poison the running max and silently skip later
    # centroids; a NaN row vector NaN-poisons every double dot → all
    # band entries NULL-s → decimal pass (NULL on the decimal cast)
    # yields cell_id NULL, matching the full fold.
    out = out.withColumn("_nrm", _exact_dot(side_vec, side_vec))

    def _s_dbl(c):
        dot = F.aggregate(
            F.zip_with(
                F.col(side_vec),
                c["cvec"],
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        denom = F.sqrt(F.col("_nrm").cast("double")) * F.sqrt(
            c["cnrm"].cast("double")
        )
        return F.nanvl(
            F.when(denom != F.lit(0.0), dot / denom), F.lit(None).cast("double")
        )

    cand_t = "array<struct<s:double,i:int>>"
    sd = F.transform(
        F.col("cents"),
        lambda c, i: F.struct(_s_dbl(c).alias("s"), i.alias("i")),
    )
    band = F.aggregate(
        sd,
        F.struct(
            F.lit(float("-inf")).alias("m"),
            F.array().cast(cand_t).alias("cs"),
        ),
        lambda acc, x: F.struct(
            F.greatest(acc["m"], x["s"]).alias("m"),
            F.when(
                x["s"] < acc["m"] - F.lit(IVF_PREFILTER_EPS), acc["cs"]
            )
            .otherwise(F.array_append(acc["cs"], x))
            .alias("cs"),
        ),
    )["cs"]
    out = out.withColumn("_band", band)

    # the band's decimal cosines, in SQL: they name the lambda variable
    c = "element_at(cents, b.i + 1)"
    dec = _cos_sql(_EXACT_DOT.format(a=side_vec, b=f"{c}.cvec"), "_nrm", f"{c}.cnrm")
    best_i = F.aggregate(
        F.expr(f"transform(_band, b -> named_struct('s', {dec}, 'i', b.i))"),
        F.struct(F.lit(-2.0).alias("s"), F.lit(-1).alias("i")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
    )["i"]
    # CASE guards the 1-based element_at from the all-NULL i=-1 sentinel
    win = F.when(best_i >= 0, F.element_at(F.col("cents"), best_i + 1))
    cols = [side_id, side_vec, win["cid"].alias("cell_id")]
    if keep_cvec:
        cols.append(win["cvec"].alias("cell_vec"))
    cols.append(F.col("_nrm"))
    return out.select(*cols)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 8,
    exact: bool = False,
) -> DataFrame:
    """IVF (inverted-file) ANN: data-adaptive coarse quantization.

    Index: ``n_cells`` centroids are chosen deterministically (the vectors
    with the smallest md5(id) — a seedless pseudo-random sample), and every
    corpus vector is assigned to its nearest centroid (its *cell*).
    Search: each query ranks the centroids, probes its ``nprobe`` nearest
    cells, and runs exact cosine only against those cells' members —
    expected cost Q·N·(nprobe/n_cells) instead of Q·N.

    Versus ``lsh_bucket_topk``: IVF cells adapt to the data distribution
    (clustered corpora get balanced cells where fixed hyperplanes
    wouldn't), at the cost of one extra shuffle to build the assignment.

    ``exact=True`` scores every comparison (assignment, probe ranking,
    final top-k) with the decimal fold, making the whole result — which
    cells, which candidates, which ranks — bit-reproducible in an ANSI-SQL
    oracle.  Recall < 1 by design either way; the default double path is
    the throughput variant.

    Scale shape: centroids are a K-row broadcast; cell assignment is one
    crossJoin (map-side, no shuffle of the corpus) folded by a
    partial-aggregated groupBy whose exchange carries N rows (see
    ``ivf_cell_assignment``); the probe join shuffles on cell_id, whose
    cardinality (n_cells) should be sized ≥ executor count at real scale."""
    cents = ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells
    )

    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    cells = ivf_cell_assignment(c, cents, "n_id", "c_vec", exact=exact)

    # query probes: same broadcast-array trick — score all centroids per
    # row, sort the array, slice the top nprobe, explode.  No window: the
    # probe list is computed map-side even when Q is large.
    qx = q.crossJoin(F.broadcast(cents))
    if exact:
        qx = qx.withColumn("_qnrm", _exact_dot("q_vec", "q_vec"))
    scored_arr = F.transform(
        _cent_sims("q_vec", "_qnrm" if exact else None, exact),
        lambda x, i: F.struct(x["s"].alias("s"), (-i).alias("negi"), x["cid"].alias("cid")),
    )
    # struct sort desc: s desc, then -i desc (= array position asc)
    top_cells = F.slice(F.sort_array(scored_arr, asc=False), 1, nprobe)
    probe_cols = ["q_id", "q_vec", F.col("_probe.cid").alias("cell_id")]
    if exact:
        probe_cols.append("_qnrm")
    probes = F.broadcast(
        qx.select(
            "q_id",
            "q_vec",
            *(["_qnrm"] if exact else []),
            F.explode(top_cells).alias("_probe"),
        ).select(*probe_cols)
    )

    scored = (
        cells.join(probes, "cell_id")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos_sim",
            _pair_cos(
                "q_vec",
                "c_vec",
                "_qnrm" if exact else None,
                "_nrm" if exact else None,
                exact,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    k: int = 5,
    exact: bool = False,
) -> DataFrame:
    """ANN: compare queries only against corpus vectors in the same
    random-hyperplane bucket.  Recall < 1 by design; the scale path when
    brute force is too expensive (expected bucket size = N / 2^n_planes).

    The signature (``hyperplane_sign_bits``) is decimal-exact, so bucket
    membership is engine-independent; ``exact=True`` additionally scores
    the in-bucket pairs with the decimal fold, making the full result
    oracle-matchable bit for bit."""
    sig = hyperplane_sign_bits(F.col(vec_col), dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"), sig.alias("bucket")
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), sig.alias("bucket")
    )
    if exact:
        c = c.withColumn("_cn", _exact_dot("c_vec", "c_vec"))
        q = q.withColumn("_qn", _exact_dot("q_vec", "q_vec"))
    q = F.broadcast(q)
    scored = (
        c.join(q, "bucket")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos_sim",
            _pair_cos(
                "q_vec",
                "c_vec",
                "_qn" if exact else None,
                "_cn" if exact else None,
                exact,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


# =====================================================================
# Product quantization (PQ / ADC) — the memory-compressed ANN path
# =====================================================================


def _exact_sqdist(a, b):
    """Exact decimal squared-L2 distance between two float arrays, same
    quantize-then-sum discipline as `_exact_dot` (bit-identical to an
    ANSI-SQL SUM of the identically-quantized per-dimension terms)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ).cast("decimal(25,12)"),
    )
    return F.aggregate(
        diffs,
        F.lit(0).cast("decimal(25,12)"),
        lambda acc, x: (acc + x).cast("decimal(25,12)"),
    )


def _dbl_sqdist(a, b):
    """All-double squared-L2 twin of `_exact_sqdist` — the prefilter
    metric for `pq_encode`'s candidate band (never the result)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


# Guard band for pq_encode's double prefilter.  The decimal distance
# quantizes each per-dimension term to 1e-12 before an exact sum, so
# |d_double − d_decimal| ≤ sub·(0.5e-12 quantization + float64 term
# error) < 1e-10 for any bounded-norm subvector — four orders of
# magnitude inside this band (empirically ≤ ~4e-12 on the bench corpus,
# gated at 1e-8 by test_pq_prefilter_divergence_bound).
PQ_PREFILTER_EPS = 1e-6

# Guard band for ivf_cell_assignment's exact-path double prefilter
# (round 13 — the same discipline on the centroid argmax).  Both paths
# divide by the IDENTICAL denominator (the decimal norms cast to
# double), so the divergence is only the numerator quantization:
# |cos_double − cos_decimal_as_double| ≤ dim·(0.5e-12 + float64 term
# error)/denom < 1e-10 for bounded-norm vectors — empirically ≤ ~4e-11,
# gated at 1e-8 by test_ivf_prefilter_divergence_bound.
IVF_PREFILTER_EPS = 1e-6


def pq_codebook(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
) -> DataFrame:
    """Deterministic PQ codebook packed into ONE broadcastable row.

    The ``n_codes`` corpus vectors with the smallest md5(id) (the same
    seedless draw as ``ivf_centroids``) become the codewords; every
    subspace slices its codeword from the same sampled vector, so the
    whole codebook is one md5-sorted array of (mkey, cid, cvec) structs
    whose position is the code value.  Real k-means training would drop
    in here without changing any downstream shape — the index contract
    is just "an ordered array of codeword vectors"."""
    cb = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn("mkey", F.md5(F.col("cid").cast("string")))
        .orderBy("mkey", "cid")
        .limit(n_codes)
    )
    # unhinted for the same reason as ivf_centroids — see above
    return cb.agg(
        F.sort_array(F.collect_list(F.struct("mkey", "cid", "cvec"))).alias(
            "_cb"
        )
    )


def residual_col(vec_col, cent_col):
    """x − c_cell as array<double> — the residual every IVFADC stage
    quantizes.  Plain IEEE-754 double subtraction of the raw values, so
    it is bit-identical in any engine (`a.v - b.v` in ANSI SQL)."""
    return F.zip_with(
        vec_col, cent_col, lambda x, c: x.cast("double") - c.cast("double")
    )


def pq_residual_codebook(
    corpus: DataFrame,
    cents: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
) -> DataFrame:
    """``pq_codebook`` trained on IVF RESIDUALS (x − c_cell) — the
    canonical IVFADC layout (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", §IV): residuals concentrate around the
    origin with far smaller variance than raw vectors, so the same
    m×n_codes budget quantizes them much more accurately and the raw
    ADC ranking recovers most of the recall a raw-vector codebook loses.

    Same deterministic md5 draw as ``pq_codebook``; each sampled vector
    is assigned to its cell by the same broadcast fold as the corpus and
    its codeword is the double-exact residual.  Output contract is
    identical (one broadcastable `_cb` row) plus an ``is_residual``
    marker column so a persisted index self-describes its encoding."""
    cb = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn("mkey", F.md5(F.col("cid").cast("string")))
        .orderBy("mkey", "cid")
        .limit(n_codes)
    )
    assigned = ivf_cell_assignment(cb, cents, "cid", "cvec", keep_cvec=True)
    res = assigned.select(
        F.col("cid"),
        F.md5(F.col("cid").cast("string")).alias("mkey"),
        residual_col(F.col("cvec"), F.col("cell_vec")).alias("cvec"),
    )
    return res.agg(
        F.sort_array(F.collect_list(F.struct("mkey", "cid", "cvec"))).alias(
            "_cb"
        )
    ).withColumn("is_residual", F.lit(True))


def _md5_sample_np(corpus, id_col: str, vec_col: str, n: int, salt: str = ""):
    """First ``n`` md5-ordered vectors as a float64 matrix — the
    deterministic bounded training/holdout sample every quantizer
    trainer draws from.  One ≤n-row collect regardless of corpus size,
    so the driver-side work is O(sample), never O(corpus).

    ``salt`` keys a DIFFERENT pseudo-random draw: the drift probe
    (ann_maintenance) salts its baseline sample so that, at real scale,
    the rows it measures recall on are disjoint from the unsalted
    training prefix — a held-out baseline instead of an optimistic
    recall-on-trained-rows one."""
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .withColumn(
            "mkey", F.md5(F.concat(F.col("cid").cast("string"), F.lit(salt)))
        )
        .orderBy("mkey", "cid")
        .limit(n)
        .collect()
    )
    return np.asarray([list(r["cvec"]) for r in rows], dtype=np.float64)


def _cos_assign_np(V, C):
    """Nearest centroid by cosine, float64, first-max tie-break — the
    numpy image of the exact fold's strict-``>`` keep-incumbent."""
    import numpy as np

    vn = np.sqrt((V * V).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    vn[vn == 0.0] = 1.0
    cn[cn == 0.0] = 1.0
    return ((V @ C.T) / (vn[:, None] * cn[None, :])).argmax(axis=1)


def kmeans_centroids_np(S, n_cells: int, iters: int = 10):
    """Spherical Lloyd on the sample: assign by cosine, update by mean
    (cosine is scale-invariant so unnormalized means are fine), md5
    order seeds the init — fully deterministic, no RNG.  Empty cells
    keep their previous center."""
    import numpy as np

    C = S[:n_cells].copy()
    for _ in range(iters):
        a = _cos_assign_np(S, C)
        for t in range(len(C)):
            mask = a == t
            if mask.any():
                C[t] = S[mask].mean(axis=0)
    return C


def kmeans_codebook_np(E, n_codes: int, m: int, iters: int = 10):
    """Per-subspace L2 Lloyd — TRUE product-quantizer training: each of
    the m subspaces trains its own n_codes codewords on the sample's
    subvectors (md5-order init, deterministic).  Returned as full-dim
    concatenations so the packed codebook keeps the one-vector-per-code
    contract every encode/LUT path already slices."""
    import numpy as np

    d = E.shape[1]
    sub = d // m
    B = E[:n_codes].copy()
    for j in range(m):
        lo, hi = j * sub, (j + 1) * sub
        Ej = E[:, lo:hi]
        Bj = B[:, lo:hi]
        for _ in range(iters):
            dist = (
                (Ej * Ej).sum(axis=1)[:, None]
                - 2.0 * (Ej @ Bj.T)
                + (Bj * Bj).sum(axis=1)[None, :]
            )
            a = dist.argmin(axis=1)
            for t in range(len(Bj)):
                mask = a == t
                if mask.any():
                    Bj[t] = Ej[mask].mean(axis=0)
        B[:, lo:hi] = Bj
    return B


def pack_centroids(spark, C) -> DataFrame:
    """Pack a trained centroid matrix into the standard 1-row broadcast
    frame (`cents` array of (mkey, cid, cvec, cnrm) structs) — every
    assignment/probe path downstream consumes it unchanged; cnrm stays
    the JVM exact decimal dot so probe scoring keeps the decimal-exact
    discipline."""
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(C)]
    df = spark.createDataFrame(rows, "cid bigint, cvec array<double>")
    df = df.withColumn("mkey", F.md5(F.col("cid").cast("string"))).withColumn(
        "cnrm", _exact_dot("cvec", "cvec")
    )
    return df.agg(
        F.sort_array(
            F.collect_list(F.struct("mkey", "cid", "cvec", "cnrm"))
        ).alias("cents")
    )


def pack_codebook(spark, B, *, residual: bool) -> DataFrame:
    """Pack a trained codeword matrix into the standard 1-row `_cb`
    frame (+ the is_residual self-description marker)."""
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(B)]
    df = spark.createDataFrame(rows, "cid bigint, cvec array<double>")
    df = df.withColumn("mkey", F.md5(F.col("cid").cast("string")))
    out = df.agg(
        F.sort_array(F.collect_list(F.struct("mkey", "cid", "cvec"))).alias(
            "_cb"
        )
    )
    return out.withColumn("is_residual", F.lit(True)) if residual else out


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    side_id: str,
    side_vec: str,
    *,
    dim: int = 64,
    m: int = 8,
    keep: tuple[str, ...] = (),
    nrm_vec: str | None = None,
) -> DataFrame:
    """Encode each vector as ``m`` sub-quantizer codes with ZERO shuffle.

    The codebook is a 1-row broadcast, so encoding is a pure map-side
    projection: per subspace, an `aggregate` fold argmin of the exact
    decimal squared distance to each codeword (strict ``<`` keeps the
    incumbent → ties break to the smallest code, i.e. ORDER BY dist, t).
    Output: (side_id, side_vec, *keep, codes array<int>, _nrm decimal) —
    at real scale you persist (id, codes, _nrm): dim×4 bytes compress to
    m codes + one norm, the whole point of PQ.  ``keep`` passes extra
    input columns through (e.g. an IVF cell_id for IVFADC).  ``nrm_vec``
    names the column ``_nrm`` is computed from when it differs from the
    encoded one — residual encoding quantizes x − c_cell but the cosine
    denominator needs ‖x‖, i.e. the RAW vector's norm."""
    sub = dim // m
    out = df.crossJoin(F.broadcast(codebook.select("_cb")))

    def sub_slice(col, j):
        return F.slice(col, j * sub + 1, sub)

    def _dd_fn(j):
        # closure factory, NOT a `j=j` default arg: PySpark infers the
        # HOF's arity from the lambda's parameter count, so an extra
        # bound parameter breaks (or silently misbinds) the transform
        return lambda c, i: F.struct(
            _dbl_sqdist(
                sub_slice(F.col(side_vec), j), sub_slice(c["cvec"], j)
            ).alias("dd"),
            i.alias("t"),
        )

    def _dec_fn(j):
        return lambda s: F.struct(
            _exact_sqdist(
                sub_slice(F.col(side_vec), j),
                sub_slice(F.element_at(F.col("_cb"), s["t"] + 1)["cvec"], j),
            ).alias("d"),
            s["t"].alias("t"),
        )

    # Double-prefiltered decimal argmin (round 12, the wave-2
    # PREFILTER_EPS discipline applied to encoding): one fold over the
    # codebook tracks the running double minimum and keeps every
    # codeword within PQ_PREFILTER_EPS of it (a prefix-min superset of
    # the final eps band — the running min only decreases, so every
    # final-band member is within eps of the prefix min at its own
    # position and is retained; expected band size is the number of
    # prefix-min records, ~H(n_codes) ≈ 5, not n_codes).  The exact
    # decimal fold then runs ONLY over that band.  Exactness: with
    # e = max|d_double − d_decimal| (< 1e-10, gated at 1e-8), every
    # decimal-minimal codeword t* has d_dbl(t*) ≤ d_dbl(t) + 2e for all
    # t, so the band contains ALL decimal minima, and every extra band
    # member has a strictly larger decimal distance — the fold over the
    # band (in ascending t order, strict <) therefore picks exactly the
    # codeword the full fold picked, identical tie-break included.
    # NaN payloads are pruned SILENTLY, exactly as the pre-prefilter
    # fold behaved (verified round 12 review): Spark's double comparison
    # orders NaN above every value, so a NaN dd PASSES the
    # `dd > m + eps` skip test and never lands in the band — the fold
    # returns t=-1 — and the decimal cast of a NaN norm yields NULL
    # rather than raising.  A NaN vector therefore encodes as
    # codes=[-1,...] with _nrm NULL, identical to the old path.
    cand_t = "array<struct<dd:double,t:int>>"
    code_exprs = []
    for j in range(m):
        dd = F.transform(F.col("_cb"), _dd_fn(j))
        cands = F.aggregate(
            dd,
            F.struct(
                F.lit(float("inf")).alias("m"),
                F.array().cast(cand_t).alias("cs"),
            ),
            lambda acc, x: F.struct(
                F.least(acc["m"], x["dd"]).alias("m"),
                F.when(
                    x["dd"] > acc["m"] + F.lit(PQ_PREFILTER_EPS), acc["cs"]
                )
                .otherwise(F.array_append(acc["cs"], x))
                .alias("cs"),
            ),
        )["cs"]
        best = F.aggregate(
            F.transform(cands, _dec_fn(j)),
            F.struct(
                F.lit(10**12).cast("decimal(25,12)").alias("d"),
                F.lit(-1).alias("t"),
            ),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )
        code_exprs.append(best["t"])
    nv = nrm_vec if nrm_vec is not None else side_vec
    return out.select(
        F.col(side_id),
        F.col(side_vec),
        *[F.col(c) for c in keep],
        F.array(*code_exprs).alias("codes"),
        _exact_dot(nv, nv).alias("_nrm"),
    )


def assign_encode_fast(
    df: DataFrame,
    cents: DataFrame,
    codebook: DataFrame,
    side_id: str,
    side_vec: str,
    *,
    dim: int = 64,
    m: int = 8,
    residual: bool = False,
) -> DataFrame:
    """Fused IVF assignment + PQ encode for index builds: ONE Arrow
    stage computes each vector's nearest centroid (float64 cosine
    argmax; numpy's first-max tie-break equals the exact fold's strict
    ``>`` keep-incumbent, i.e. earliest md5-sorted position) and its m
    subspace codes, against closure-shipped centroid/codeword matrices.
    ``_nrm`` stays the JVM exact decimal dot.  Still zero shuffle — and
    one Python stage instead of two interpreted decimal folds.  Parity
    with the exact path is gated by test_similarity
    (persisted-search == inline-exact, fast==exact codes).

    ``residual=True``: subtract the assigned centroid before encoding
    (codebook must then be a `pq_residual_codebook`) — one extra fancy-
    indexed subtraction in the same Arrow stage, nothing else moves."""
    import numpy as np

    from pyspark.sql import types as T

    cent_rows = cents.first()["cents"]
    CC = np.asarray([list(r["cvec"]) for r in cent_rows], dtype=np.float64)
    cent_ids = [r["cid"] for r in cent_rows]
    cnorm = np.sqrt((CC * CC).sum(axis=1))
    # zero-norm guard (same as _cos_assign_np): a degenerate all-zero
    # centroid must not NaN-poison every row's similarity column
    cnorm[cnorm == 0.0] = 1.0
    cb_rows = codebook.first()["_cb"]
    C = np.asarray([list(r["cvec"]) for r in cb_rows], dtype=np.float64)
    sub = dim // m
    src = df.select(side_id, side_vec)
    cents_field = next(f for f in cents.schema.fields if f.name == "cents")
    cid_type = cents_field.dataType.elementType["cid"].dataType
    out_schema = T.StructType(
        list(src.schema.fields)
        + [
            T.StructField("cell_id", cid_type),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def fused(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.copy()
                pdf["cell_id"] = []
                pdf["codes"] = []
                yield pdf
                continue
            V = np.vstack(pdf[side_vec].to_numpy()).astype(np.float64)
            vnorm = np.sqrt((V * V).sum(axis=1))
            # zero-norm guard, mirroring _cos_assign_np: a zero vector's
            # similarities become exactly 0 and argmax assigns the first
            # centroid deterministically (cosine is undefined for it, so
            # any cell is equally "right"); without the guard the NaN row
            # would still argmax to 0 on this numpy version but that is
            # unspecified behavior, and it diverges from the driver
            # helper's guarded path.  NOTE: the exact decimal fold keeps
            # its -2.0 incumbent for a zero vector → NULL cell; fast==
            # exact parity is therefore gated on zero-free corpora (all
            # real embedding corpora — a zero embedding is upstream junk)
            vnorm[vnorm == 0.0] = 1.0
            sims = (V @ CC.T) / (vnorm[:, None] * cnorm[None, :])
            cell = sims.argmax(axis=1)
            E = V - CC[cell] if residual else V
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                Vj = E[:, j * sub : (j + 1) * sub]
                Cj = C[:, j * sub : (j + 1) * sub]
                d = (
                    (Vj * Vj).sum(axis=1)[:, None]
                    - 2.0 * (Vj @ Cj.T)
                    + (Cj * Cj).sum(axis=1)[None, :]
                )
                codes[:, j] = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf["cell_id"] = [cent_ids[i] for i in cell]
            pdf["codes"] = [r.tolist() for r in codes]
            yield pdf

    return src.mapInPandas(fused, schema=out_schema).withColumn(
        "_nrm", _exact_dot(side_vec, side_vec)
    )


def _pq_query_lut(queries: DataFrame, codebook: DataFrame, dim: int, m: int) -> DataFrame:
    """(q_id, q_vec, _qnrm, _lut): per-query ADC lookup table — the
    m×n_codes exact decimal partial dot products against the codebook.
    Input must already project (q_id, q_vec).  Works unchanged for a
    RESIDUAL codebook: the LUT is q·r̂ and the candidate estimate just
    adds the q·c_cell term (see `_adc_sim_col(with_cdot=True)`) — the
    table stays one-per-query, never per-(query, cell)."""
    sub = dim // m
    qx = queries.crossJoin(F.broadcast(codebook.select("_cb")))
    # one parsed SQL expression for the whole m-subspace LUT array (and
    # one for the norm) instead of m Column-API lambda-HOF trees — see
    # _EXACT_DOT for why (driver-side build cost, guide §5)
    luts = ", ".join(
        "transform(_cb, c -> "
        + _EXACT_DOT.format(
            a=f"slice(q_vec, {j * sub + 1}, {sub})",
            b=f"slice(c.cvec, {j * sub + 1}, {sub})",
        )
        + ")"
        for j in range(m)
    )
    return qx.select(
        "q_id",
        "q_vec",
        _exact_dot("q_vec", "q_vec").alias("_qnrm"),
        F.expr(f"array({luts})").alias("_lut"),
    )


def _adc_sim_col(m: int, *, with_cdot: bool = False):
    """ADC cosine estimate from a row's `_lut`/`codes`/`_qnrm`/`_nrm`:
    m decimal lookup-adds, then one double division — the per-candidate
    cost that replaces dim multiplies.

    ``with_cdot``: the residual-codebook form — codes quantize
    r = x − c_cell, so q·x ≈ q·c_cell + q·r̂ and the fold seeds with the
    probe row's exact `_cdot` (q·c_cell, computed once per probed cell
    during probe selection, NOT per candidate).  Decimal addition is
    exact, so the sum is order-free and reproduces in ANSI SQL."""
    # one parsed SQL expression instead of ~5m chained py4j Column calls
    # (driver-side build cost, guide §5; same move as _EXACT_DOT) —
    # the string spells out exactly the tree the Column form built:
    # element_at chain per subspace, a CAST(.. AS DECIMAL(25,12)) after
    # every add, the NULL-on-zero-denominator CASE
    terms = [
        f"element_at(element_at(_lut, {j + 1}), "
        f"element_at(codes, {j + 1}) + 1)"
        for j in range(m)
    ]
    adc = "_cdot" if with_cdot else terms.pop(0)
    for t_ in terms:
        adc = f"CAST({adc} + {t_} AS DECIMAL(25,12))"
    # zero-norm side (possible only under on_zero_norm='allow') → NULL
    # similarity, ranked last — matching the exact path's NULL on
    # undefined cosine; without the guard ANSI mode fails EVERY search
    # over an index containing one admitted zero row (ANSI `/` raises
    # DIVIDE_BY_ZERO even for double/double — verified, see _pair_cos;
    # and under IEEE semantics 0/0→NaN would rank the junk row FIRST
    # in desc sorts, so the guard is right either way).  Value-
    # invariant on zero-free corpora (the branch never taken), so
    # oracle bit-parity holds.
    return F.expr(_cos_sql(adc, "_qnrm", "_nrm"))


def _probe_frame(qlut: DataFrame, cents: DataFrame, nprobe: int, *, with_cdot: bool):
    """Broadcastable probe list: (q_id, _qnrm, _lut, cell_id[, _cdot]) —
    one row per (query, probed cell).  Probe selection is the map-side
    sorted-array slice over the 1-row centroid broadcast (no window);
    ``with_cdot`` also carries the exact decimal q·c_cell each probed
    cell contributes to the residual ADC estimate — computed once per
    probed cell here, never per candidate."""
    qx = qlut.crossJoin(F.broadcast(cents.select("cents")))
    # one parsed SQL expression for the probe-selection array (guide §5
    # driver-build cost; see _EXACT_DOT).  Spelled to match the
    # Column-API tree it replaces node for node: per centroid a struct of
    # the exact cosine (_pair_cos exact=True — NULL on a zero
    # denominator), the -i index tie-break, the cell id, and (residual
    # builds) the exact q·c_cell — identical field order, so sort_array's
    # lexicographic descending order and the slice are unchanged.  The
    # Column form built the cosine via _cent_sims + a zip_with + a
    # re-struct transform; the single indexed transform here produces the
    # same final structs (s, negi, cid[, cdot]) with the same types.
    dot = _EXACT_DOT.format(a="q_vec", b="c.cvec")
    s_field = _cos_sql(dot, "_qnrm", "c.cnrm") + " AS s"
    fields = [s_field, "-i AS negi", "c.cid AS cid"] + (
        [f"{dot} AS cdot"] if with_cdot else []
    )
    top_cells = F.expr(
        "slice(sort_array(transform(cents, (c, i) -> "
        f"struct({', '.join(fields)})), false), 1, {int(nprobe)})"
    )
    cols = ["q_id", "_qnrm", "_lut", F.col("_probe.cid").alias("cell_id")] + (
        [F.col("_probe.cdot").alias("_cdot")] if with_cdot else []
    )
    return F.broadcast(
        qx.select(
            "q_id", "_qnrm", "_lut", F.explode(top_cells).alias("_probe")
        ).select(*cols)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 5,
    rerank: int = 0,
) -> DataFrame:
    """PQ/ADC approximate top-k: asymmetric-distance scan over codes.

    Search precomputes, per query, an m×n_codes lookup table of exact
    decimal partial dot products (query subvector · codeword subvector);
    each corpus candidate then costs m table lookups + m decimal adds —
    the ADC trick that replaces dim multiplies per pair.  Everything is
    deterministic (md5 codebook draw, decimal arithmetic, total-order
    ranks), so the full result is reproducible in an ANSI-SQL oracle.

    ``rerank=r`` keeps the top r ADC candidates per query and re-scores
    them with the exact decimal cosine before the final top-k — the
    standard recall-restoring refinement.  At 100 TB the re-rank joins
    the candidate ids back to the vector store; here the vector column
    is already co-located so it is a projection, not a join.

    Scale shape: codebook = 1-row broadcast (no corpus shuffle to build
    or apply the index); queries+LUTs broadcast; the only exchange is
    the per-query top-k window.  For corpus-partitioned pruning compose
    with IVF: assign cells with ``ivf_cell_assignment``, then ADC-score
    only probed cells (IVFADC)."""
    cb = pq_codebook(corpus, id_col=id_col, vec_col=vec_col, n_codes=n_codes)
    enc = pq_encode(
        corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec")),
        cb,
        "n_id",
        "c_vec",
        dim=dim,
        m=m,
    )
    qlut = F.broadcast(
        _pq_query_lut(
            queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
            cb,
            dim,
            m,
        )
    )
    scored = (
        enc.crossJoin(qlut)
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("adc_sim", _adc_sim_col(m))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_sim").desc(), F.col("n_id").asc())
    if not rerank:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("q_id", "n_id", "adc_sim", "rnk")
        )
    cands = scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= rerank
    )
    rescored = cands.withColumn(
        "cos_sim",
        _pair_cos("q_vec", "c_vec", "_qnrm", "_nrm", True),
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id").asc())
    return (
        rescored.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 64,
    n_cells: int = 16,
    nprobe: int = 8,
    k: int = 5,
    rerank: int = 100,
    residual: bool = False,
) -> DataFrame:
    """IVFADC: IVF cell pruning composed with PQ/ADC scoring — the
    canonical billion-scale ANN layout (coarse quantizer prunes the
    candidate set to nprobe/n_cells of the corpus, product codes make
    each surviving candidate cost m lookups).

    ``residual=True`` is the layout Jégou et al. §IV actually describe:
    codes quantize r = x − c_cell against a codebook trained on
    residuals, and the candidate estimate is q·c_cell + q·r̂ — same
    per-candidate cost (m lookup-adds; the q·c_cell term rides the
    probe row).  With SAMPLED codebooks it wins exactly when cells
    share local structure (residuals across cells draw from a common,
    codable distribution — e.g. translated copies of one pattern set);
    on unstructured vectors ‖x − c‖ ≈ √2·‖x‖ and it measurably LOSES
    recall (bench corpus, rerank=0: 0.36 raw vs 0.26 residual), and
    even on plain well-separated clusters raw sampled codewords already
    sit inside the clusters so residual merely ties.  Hence the default
    here is raw, and ``ivfpq_index_build(residual=None)`` auto-picks
    per corpus with a measured holdout quantization-error probe.

    Defaults are the measured ≥0.6-recall operating point on the bench
    corpus (unstructured embeddings — the ANN worst case): 64-codeword
    codebooks (6 bits × m=8), probe 8 of 16 cells, exact-cosine rerank
    of the top-100 ADC candidates → recall@5 ≈ 0.72 at sf0.1
    (BENCH extras; gated in tests/test_similarity.py).  Clustered
    corpora reach the same recall at much lower nprobe — these defaults
    are the honest floor, and ``rerank=0`` exposes the raw ADC ranking
    (the fully-oracled `similarity_ivfpq` catalog entry).

    Everything runs the decimal-exact discipline (cell assignment, probe
    ranking, codes, LUTs), so the full result — which cells, which
    candidates, which ranks — is reproducible in the generated ANSI-SQL
    oracle, exactly like the standalone IVF and PQ paths it composes.

    Scale shape: centroids AND codebook are 1-row broadcasts; assignment
    and encoding are a single map-side projection over the corpus (zero
    index shuffle); the probe join shuffles on cell_id only; final top-k
    is the one per-query window.  At real scale, persist the encoded
    corpus (id, cell_id, codes, _nrm) partitioned by cell_id: searches
    then scan only probed partitions — partition pruning on cells."""
    cents = ivf_centroids(corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells)
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"))
    if residual:
        cb = pq_residual_codebook(
            corpus, cents, id_col=id_col, vec_col=vec_col, n_codes=n_codes
        )
        cells = ivf_cell_assignment(
            c, cents, "n_id", "c_vec", exact=True, keep_cvec=True
        ).select(
            "n_id",
            "c_vec",
            "cell_id",
            residual_col(F.col("c_vec"), F.col("cell_vec")).alias("_rvec"),
        )
        enc = pq_encode(
            cells, cb, "n_id", "_rvec", dim=dim, m=m,
            keep=("cell_id", "c_vec"), nrm_vec="c_vec",
        )
    else:
        cb = pq_codebook(corpus, id_col=id_col, vec_col=vec_col, n_codes=n_codes)
        cells = ivf_cell_assignment(c, cents, "n_id", "c_vec", exact=True).select(
            "n_id", "c_vec", "cell_id"
        )
        enc = pq_encode(cells, cb, "n_id", "c_vec", dim=dim, m=m, keep=("cell_id",))

    # query side: LUTs + probe list in one projection over two 1-row
    # broadcasts (codebook, centroids) — same map-side probe selection as
    # ivf_topk (sorted-array slice, no window)
    qlut = _pq_query_lut(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        cb,
        dim,
        m,
    )
    probes = _probe_frame(qlut, cents, nprobe, with_cdot=residual)

    scored = (
        enc.join(probes, "cell_id")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("adc_sim", _adc_sim_col(m, with_cdot=residual))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_sim").desc(), F.col("n_id").asc())
    if not rerank:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("q_id", "n_id", "adc_sim", "rnk")
        )
    # recall-restoring refinement (see pq_topk): exact cosine over the
    # top-r ADC candidates only — r·|queries| rows, never the corpus.
    # The query vector rides the probe broadcast; the candidate vector is
    # still co-located from the encoding projection.
    cands = scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= rerank
    )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
    )
    rescored = cands.join(qv, "q_id").withColumn(
        "cos_sim",
        _pair_cos("q_vec", "c_vec", "_qnrm", "_nrm", True),
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


def _simulated_recall_np(S, E, cbm, base_dot, m, n_queries: int = 16, k: int = 5):
    """Simulated-recall kernel shared by the build-time raw-vs-residual
    probe and the maintenance drift probe (ann_maintenance): the first
    ``n_queries`` md5-ordered sample rows query the whole sample ``S``;
    the encoding matrix ``E`` (raw vectors, or residuals) is PQ-encoded
    against ``cbm`` and ADC-ranked exactly as the real search would
    (``base_dot`` carries the q·c_cell term for residual coding).
    Returns (hits, possible): Σ |ADC top-k ∩ exact cosine top-k| and
    n_queries·k.  This measures the end metric itself — reconstruction
    error provably mispredicts it (see ivfpq_index_build docstring)."""
    import numpy as np

    d = S.shape[1]
    sub = d // m
    Q = S[:n_queries]
    qn = np.sqrt((Q * Q).sum(axis=1))
    sn = np.sqrt((S * S).sum(axis=1))
    qn[qn == 0.0] = 1.0
    sn[sn == 0.0] = 1.0
    denom = qn[:, None] * sn[None, :]
    true_sim = (Q @ S.T) / denom
    idx = np.arange(len(Q))
    true_sim[idx, idx] = -2.0  # exclude self, like the real search
    true_top = np.argsort(-true_sim, axis=1, kind="stable")[:, :k]

    codes = np.empty((len(E), m), dtype=np.int64)
    for j in range(m):
        Ej = E[:, j * sub : (j + 1) * sub]
        Cj = cbm[:, j * sub : (j + 1) * sub]
        dist = (
            (Ej * Ej).sum(axis=1)[:, None]
            - 2.0 * (Ej @ Cj.T)
            + (Cj * Cj).sum(axis=1)[None, :]
        )
        codes[:, j] = dist.argmin(axis=1)
    est = np.zeros((len(Q), len(S)))
    for j in range(m):
        lut = Q[:, j * sub : (j + 1) * sub] @ cbm[:, j * sub : (j + 1) * sub].T
        est += lut[:, codes[:, j]]
    est = (est + base_dot) / denom
    est[idx, idx] = -2.0
    top = np.argsort(-est, axis=1, kind="stable")[:, :k]
    hits = sum(len(set(t) & set(a)) for t, a in zip(true_top, top))
    return hits, len(Q) * k


def _probe_pick_residual(S, CC, cb_raw_m, cb_res_m, m, n_queries: int = 16, k: int = 5):
    """Decide raw vs residual coding by SIMULATED RECALL
    (`_simulated_recall_np`): the encoding whose top-k agrees better
    with the exact cosine top-k wins, ties → raw."""
    cell = _cos_assign_np(S, CC)
    R = S - CC[cell]
    Q = S[:n_queries]
    raw, _ = _simulated_recall_np(S, S, cb_raw_m, 0.0, m, n_queries, k)
    res, _ = _simulated_recall_np(
        S, R, cb_res_m, (Q @ CC.T)[:, cell], m, n_queries, k
    )
    return bool(res > raw)


def _zero_norm_cond(vec_col: str):
    """True exactly for the vectors cosine is undefined on: NULL, empty,
    containing a NULL element (their norm computes to NULL), or all-zero.
    Never three-valued: the NULL-element disjunct is true whenever the
    all-zero ``exists`` would have been NULL under SQL's 3VL (no true
    element + a null element), so a WHERE on this (or its negation)
    drops nothing silently."""
    zl = F.col(vec_col)
    return (
        zl.isNull()
        | (F.size(zl) == 0)
        | F.exists(zl, lambda x: x.isNull())
        | ~F.exists(zl, lambda x: x != F.lit(0.0))
    )


def _police_zero_norm(
    corpus: DataFrame, id_col: str, vec_col: str, on_zero_norm: str, *,
    site: str,
) -> DataFrame:
    """Apply the zero-norm policy shared by `ivfpq_index_build` and
    `ivfpq_index_append`: ``raise``/``warn`` probe for one offending row
    (a LIMIT-1 filter — a DIRTY corpus early-outs at the first hit; a
    clean one pays one column-pruned scan of ``id_col``+``vec_col``,
    small next to the training/encode passes the build already runs);
    ``filter`` drops offending rows before encoding (the streaming-
    friendly policy — a poison-pill row must not wedge every replay of
    its trigger); ``allow`` admits them unchecked (documented
    divergence: exact path NULL, ADC arbitrary-but-deterministic 0)."""
    if on_zero_norm not in ("raise", "warn", "filter", "allow"):
        raise ValueError(
            "on_zero_norm must be 'raise', 'warn', 'filter' or 'allow', "
            f"got {on_zero_norm!r}"
        )
    if on_zero_norm == "allow":
        return corpus
    cond = _zero_norm_cond(vec_col)
    if on_zero_norm == "filter":
        return corpus.where(~cond)
    bad = (
        corpus.where(cond)
        .select(F.col(id_col).alias("_zid"))
        .limit(1)
        .collect()
    )
    if bad:
        msg = (
            f"{site} corpus has zero-norm {vec_col!r} rows (first: "
            f"{id_col}={bad[0]['_zid']!r}; NULL/empty vectors and vectors "
            "with NULL elements count — their norm is NULL): cosine is "
            "undefined on them and ADC would rank them deterministically-"
            "arbitrarily — filter them upstream, pass "
            "on_zero_norm='filter' to drop them here, or 'allow' to index "
            "them anyway (documented divergence from the exact path's "
            "NULL)"
        )
        if on_zero_norm == "raise":
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, stacklevel=3)
    return corpus


def ivfpq_index_build(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 64,
    n_cells: int = 16,
    store_vectors: bool = True,
    residual: bool | None = None,
    train: str = "sample",
    sample: int = 4096,
    iters: int = 10,
    codes_dir: str | None = None,
    encode: str = "fast",
    on_zero_norm: str = "raise",
) -> None:
    """Persist the IVFADC index the ivfpq_topk docstring prescribes for
    real scale: the encoded corpus (n_id, codes, _nrm) partitioned by
    cell_id — searches then scan ONLY probed cell partitions — plus the
    1-row centroid and codebook broadcasts.  Build cost is one corpus
    scan (assignment + encoding are map-side folds over two 1-row
    broadcasts); amortized over every subsequent search.

    ``store_vectors`` (default) keeps the raw vector beside each code
    row so the default exact-cosine rerank can refine candidates from
    the index itself (the IVFFlat-style rerankable layout: index size ≈
    corpus vectors, still cell-partition-pruned).  Set False for the
    pure-ADC footprint — searches then need ``vectors=`` for rerank.

    ``train="kmeans"`` trains the coarse quantizer (spherical Lloyd)
    and a true per-subspace product quantizer on a bounded md5 sample
    (``sample`` rows, ``iters`` sweeps) with driver numpy —
    deterministic (md5-order init, no RNG), O(sample) regardless of
    corpus size, and the precondition for residual coding to pay off:
    sampled "centroids" are arbitrary data points whose offset pollutes
    every residual, while k-means means cancel it.  The default
    ``train="sample"`` keeps the md5-draw quantizers of the oracled
    catalog rows, so the persisted index stays bit-identical to inline
    ``ivfpq_topk`` (gated in tests).

    ``residual=None`` (default) auto-picks the encoding per corpus by
    SIMULATED RECALL on the md5 sample: both candidate codebooks (raw
    vs cell-residual) ADC-rank the sample against a handful of sample
    queries in driver numpy and the encoding whose top-5 agrees better
    with the exact cosine top-5 wins (ties → raw).  Reconstruction-
    error probes are NOT a substitute — measured here: k-means raw
    codes have lower reconstruction error than sampled codes on the
    bench corpus yet 0.14 vs 0.24 rerank-0 recall, while k-means
    residual codes reconstruct worse than raw yet rank better — so the
    probe measures the end metric itself.  Deterministic (md5 order, no
    RNG), O(sample²) numpy.  The stored codebook's ``is_residual``
    column self-describes the choice, so ``ivfpq_search`` needs no
    flag — old raw-codebook indexes (no such column) keep reading
    correctly.

    ``encode`` picks the encoding stage: ``"fast"`` (default) is the
    fused float64 numpy assign+encode in one Arrow stage; ``"exact"``
    runs the decimal-fold `ivf_cell_assignment` + `pq_encode` path — the
    arithmetic the generated ANSI-SQL oracles reproduce.  The two agree
    whenever no codeword/centroid pair sits within float64 rounding of
    equidistant from a vector (gated on the bench corpus); pass
    ``encode="exact"`` when bit-parity with the inline `ivfpq_topk` MUST
    hold regardless of such near-ties, at ~3-4× the build cost.

    ``on_zero_norm`` polices zero-norm rows (all-zero, empty, or NULL
    vectors) at BUILD time: cosine similarity is undefined on them — the
    exact path surfaces NULL, while the fast ADC fold ranks them at an
    arbitrary-but-deterministic 0, so letting them into the index turns
    a documented divergence into silent wrong neighbors.  NULL/empty
    vectors and vectors with NULL ELEMENTS count (their norm is NULL —
    the same undefined-cosine class).  ``"raise"`` (default) fails the
    build on the first such row — a LIMIT-1 probe: a dirty corpus
    early-outs at the first hit, a clean one pays one column-pruned
    scan, small next to the training + encode passes the build already
    runs; ``"warn"`` logs and proceeds; ``"filter"`` drops such rows
    before training/encoding; ``"allow"`` skips the probe (the
    pre-round-10 behavior) for corpora where the caller owns the
    junk-filtering upstream.  `ivfpq_index_append` polices the same
    policy on the continuous-ingest path."""
    if encode not in ("fast", "exact"):
        raise ValueError(f"encode must be 'fast' or 'exact', got {encode!r}")
    corpus = _police_zero_norm(
        corpus, id_col, vec_col, on_zero_norm, site="build"
    )
    cents, cb, residual = _ivfpq_train(
        corpus, id_col=id_col, vec_col=vec_col, m=m, n_codes=n_codes,
        n_cells=n_cells, residual=residual, train=train, sample=sample,
        iters=iters,
    )
    _ivfpq_write(
        corpus, cents, cb, residual, id_col=id_col, vec_col=vec_col,
        dim=dim, m=m, store_vectors=store_vectors, encode=encode,
        codes_dir=codes_dir or f"{path}/codes",
        centroids_dir=f"{path}/centroids", codebook_dir=f"{path}/codebook",
    )


def _ivfpq_train(corpus: DataFrame, *, id_col: str, vec_col: str, m: int,
                 n_codes: int = 64, n_cells: int = 16,
                 residual: bool | None = None, train: str = "sample",
                 sample: int = 4096, iters: int = 10):
    """The training half of `ivfpq_index_build`: the coarse centroids
    and the PQ codebook trained on ``corpus`` → (centroids frame,
    codebook frame, residual), not yet written.  The options are the
    build's; ``StreamingAnnIndex.retrain`` trains on one corpus here and
    encodes another through `_ivfpq_write`."""
    import numpy as np

    if train not in ("sample", "kmeans"):
        raise ValueError(f"train must be 'sample' or 'kmeans', got {train!r}")
    spark = corpus.sparkSession
    S = CC = None
    if train == "kmeans" or residual is None:
        # the probe simulates recall on this draw — full `sample` size
        # in BOTH modes, so tiny draws don't make the decision noisy
        S = _md5_sample_np(corpus, id_col, vec_col, max(2 * n_codes, sample))
    if train == "kmeans":
        CC = kmeans_centroids_np(S, n_cells, iters)
        cents = pack_centroids(spark, CC)
    else:
        cents = ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells
        )
        if S is not None:
            CC = np.asarray(
                [list(r["cvec"]) for r in cents.first()["cents"]],
                dtype=np.float64,
            )
    cb_raw_m = cb_res_m = None
    if S is not None:
        R = S - CC[_cos_assign_np(S, CC)]
        if train == "kmeans":
            if residual is not False:
                cb_res_m = kmeans_codebook_np(R, n_codes, m, iters)
            if residual is not True:
                cb_raw_m = kmeans_codebook_np(S, n_codes, m, iters)
        else:
            cb_res_m, cb_raw_m = R[:n_codes], S[:n_codes]

    if residual is None:
        residual = (
            False
            if len(S) <= n_codes
            else _probe_pick_residual(S, CC, cb_raw_m, cb_res_m, m)
        )
    if train == "kmeans":
        cb = pack_codebook(
            spark, cb_res_m if residual else cb_raw_m, residual=residual
        )
    elif residual:
        cb = pq_residual_codebook(
            corpus, cents, id_col=id_col, vec_col=vec_col, n_codes=n_codes
        )
    else:
        cb = pq_codebook(corpus, id_col=id_col, vec_col=vec_col, n_codes=n_codes)
    return cents, cb, residual


def _ivfpq_write(rows: DataFrame, cents: DataFrame, cb: DataFrame,
                 residual: bool, *, id_col: str, vec_col: str, dim: int,
                 m: int, codes_dir: str, centroids_dir: str,
                 codebook_dir: str, store_vectors: bool = True,
                 encode: str = "fast") -> None:
    """The encoding half of `ivfpq_index_build`: encode ``rows`` under
    the quantizers `_ivfpq_train` returned and write the code rows
    (partitioned by cell_id), the centroids and the codebook.  A
    retrain (streaming/ann.py) writes its frames into a fresh
    quantizer-epoch directory, so a live index is never overwritten
    under concurrent readers."""
    c = rows.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"))
    # default builds take the fused vectorized assignment+encode (numpy
    # argmax/argmin in one Arrow stage); the decimal-fold
    # ivf_cell_assignment + pq_encode remain available as encode="exact"
    # (the oracled catalog arithmetic, immune to float64 near-ties).
    # test_ivfpq_persisted_search_equals_inline gates that the persisted
    # index reproduces the exact path's results bit-for-bit.
    if encode == "exact":
        if residual:
            cells = ivf_cell_assignment(
                c, cents, "n_id", "c_vec", exact=True, keep_cvec=True
            ).select(
                "n_id",
                "c_vec",
                "cell_id",
                residual_col(F.col("c_vec"), F.col("cell_vec")).alias("_rvec"),
            )
            enc = pq_encode(
                cells, cb, "n_id", "_rvec", dim=dim, m=m,
                keep=("cell_id", "c_vec"), nrm_vec="c_vec",
            )
        else:
            cells = ivf_cell_assignment(
                c, cents, "n_id", "c_vec", exact=True
            ).select("n_id", "c_vec", "cell_id")
            enc = pq_encode(
                cells, cb, "n_id", "c_vec", dim=dim, m=m, keep=("cell_id",)
            )
    else:
        enc = assign_encode_fast(
            c, cents, cb, "n_id", "c_vec", dim=dim, m=m, residual=residual
        )
    cols = ["n_id", "cell_id", "codes", "_nrm"] + (
        ["c_vec"] if store_vectors else []
    )
    enc.select(*cols).write.mode("overwrite").partitionBy("cell_id").parquet(
        codes_dir
    )
    cents.write.mode("overwrite").parquet(centroids_dir)
    cb.write.mode("overwrite").parquet(codebook_dir)


def ivfpq_index_append(corpus: DataFrame, path: str, *,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       dim: int = 64, m: int = 8,
                       codes_dir: str | None = None,
                       mode: str = "append",
                       on_zero_norm: str = "raise",
                       quantizers: str | None = None) -> None:
    """Append a batch to a persisted IVFADC index WITHOUT rebuilding —
    the production freshness path: quantizers (centroids + codebook) are
    read back from the index and FROZEN, the new vectors run the same
    fused Arrow assign+encode as the original build, and the code rows
    land in append mode under their cell partitions (dynamic partition
    append — only the touched cells gain files).

    Because the quantizers are frozen, appends are bit-exact associative:
    build(A) + append(B) ≡ encode(A ∪ B) under A's quantizers, proven in
    test_similarity (searches of both layouts compare equal, any batch
    split).  Recall drifts only as the DATA distribution drifts away
    from the frozen quantizers — re-train by rebuilding, exactly like
    every production IVF deployment (Faiss add vs train).

    Cost ∝ the batch: one map-side encode of the new rows + appended
    parquet; the existing index is never read or rewritten (the
    quantizer frames are two 1-row reads).

    A MANIFEST-MANAGED index (streaming/ann.py layout) refuses the
    default-codes_dir append: rows written loose under the codes root
    would never appear in the committed-batch list, so the gated reader
    would silently ignore them forever — append through
    ``StreamingAnnIndex.apply_batch`` (which commits), or pass an
    explicit fenced ``codes_dir`` and commit it yourself.

    ``on_zero_norm`` enforces the same junk gate as `ivfpq_index_build`
    on the continuous-ingest path — without it, a zero-norm row in any
    micro-batch would silently bypass the build-time policy forever.
    Streams that must not wedge on a poison-pill row (a raise replays
    with the same batch on every retry) should pass ``"filter"``.

    ``quantizers`` overrides the frame directory (a dir holding
    ``centroids``/``codebook``), mirroring `ann_recall_probe`: the
    retrain's catch-up rounds encode gap rows under the freshly
    built epoch BEFORE the manifest flip publishes it.  Default: the
    index's own frames, resolved through the manifest like every other
    reader."""
    spark = corpus.sparkSession
    corpus = _police_zero_norm(
        corpus, id_col, vec_col, on_zero_norm, site="append"
    )
    from creek_spark.operators.ann_maintenance import (
        quantizer_dirs,
        read_codes,
        read_manifest,
    )

    man = read_manifest(spark, path)
    if codes_dir is None and man is not None:
        raise ValueError(
            f"index at {path} is manifest-managed: a bare append to "
            "codes/ would be invisible to the gated reader; append "
            "through StreamingAnnIndex.apply_batch, which writes a fenced "
            "batch directory and commits it to the index's _manifest.json"
        )
    # quantizers + layout probe resolve through the SAME manifest read:
    # a retrained index's frames live in their epoch directory, and the
    # store_vectors sniff must see committed rows only (the codes root
    # may hold torn in-flight batch dirs)
    if quantizers is not None:
        cents_dir, cb_dir = (
            f"{quantizers}/centroids", f"{quantizers}/codebook"
        )
    else:
        cents_dir, cb_dir = quantizer_dirs(path, man)
    cents = spark.read.parquet(cents_dir)
    cb = spark.read.parquet(cb_dir)
    residual = "is_residual" in cb.columns and bool(cb.first()["is_residual"])
    stored = read_codes(spark, path, man)
    store_vectors = "c_vec" in stored.columns
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec"))
    # align the batch to the index's STORED column types BEFORE encoding:
    # parquet dirs with mixed physical types (float c_vec from a float
    # corpus, double from a later double-typed stream) read fine
    # column-pruned but fail the moment a search or compaction touches
    # the divergent column — a schema-torn index, the quiet cousin of
    # the torn-file read the manifest exists to prevent.  The cast runs
    # before assign_encode_fast so codes, _nrm and the stored c_vec all
    # derive from the SAME (storage-precision) values — a post-encode
    # cast would store codes computed from the double vector beside a
    # float-rounded c_vec, breaking the build+append ≡ one-build parity
    # the module guarantees.  Vectors round to the index's own storage
    # precision; IDS are different — a narrowing id cast silently wraps
    # (non-ANSI) or nulls, corrupting every result that cites the row,
    # so only provably lossless widenings pass and anything else raises.
    want_vec = stored.schema["c_vec"].dataType if store_vectors else None
    if want_vec is not None and c.schema["c_vec"].dataType != want_vec:
        c = c.withColumn("c_vec", F.col("c_vec").cast(want_vec))
    want_id = stored.schema["n_id"].dataType
    have_id = c.schema["n_id"].dataType
    if have_id != want_id:
        widths = {"byte": 1, "short": 2, "integer": 3, "long": 4,
                  "float": 1.5, "double": 2.5}
        hn, wn = have_id.typeName(), want_id.typeName()
        if hn in widths and wn in widths and widths[hn] < widths[wn] and (
            (hn in ("byte", "short", "integer", "long"))
            == (wn in ("byte", "short", "integer", "long"))
        ):
            c = c.withColumn("n_id", F.col("n_id").cast(want_id))
        else:
            raise ValueError(
                f"batch {id_col!r} type {hn} does not losslessly widen to "
                f"the index's stored id type {wn}: a narrowing/lossy id "
                "cast would silently corrupt result ids — cast the batch "
                "explicitly upstream if the values are known to fit"
            )
    enc = assign_encode_fast(
        c, cents, cb, "n_id", "c_vec", dim=dim, m=m, residual=residual
    )
    cols = ["n_id", "cell_id", "codes", "_nrm"] + (
        ["c_vec"] if store_vectors else []
    )
    # codes_dir + mode="overwrite" is the streaming-fenced form: each
    # micro-batch owns a `codes/batch=<id>` directory and a replayed
    # trigger overwrites its OWN dir (idempotent), never the others —
    # see streaming/ann.py
    enc.select(*cols).write.mode(mode).partitionBy("cell_id").parquet(
        codes_dir or f"{path}/codes"
    )


def ivfpq_search(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    nprobe: int = 8,
    k: int = 5,
    rerank: int = 100,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Search a persisted IVFADC index: probe selection and ADC LUTs are
    map-side over the two 1-row broadcasts; the candidate join keys on
    cell_id — the INDEX'S PARTITION COLUMN, so only nprobe/n_cells of
    the stored codes are ever scanned (partition pruning).  Results
    match the inline ivfpq_topk on the same corpus: decimal-exact LUT/
    ADC arithmetic round-trips through parquet losslessly, and the
    stored codes agree with the inline fold's whenever no codeword or
    centroid pair sits within float64 rounding of equidistant from a
    vector — the default build encodes through the float64
    `assign_encode_fast` stage, so on a corpus where such near-ties
    exist the identity is not guaranteed (gated bit-exact on the bench
    corpus; build with ``encode="exact"`` when it must hold regardless).
    The stored codebook's ``is_residual`` column (written by residual
    builds) selects the matching ADC estimate automatically.

    Streaming-maintained indexes (streaming/ann.py) carry a commit
    manifest: code rows are then read ONLY from committed
    ``codes/batch=<id>`` directories, so a search concurrent with an
    in-flight or crashed micro-batch can never rank over a torn
    partial write (ann_maintenance.read_codes).  Static indexes have
    no manifest and read the codes root exactly as before.  Codes and
    quantizer frames resolve through ONE manifest read (read_index), so
    a concurrent retrain's manifest flip can never pair new quantizers
    with old codes inside a single search."""
    from creek_spark.operators.ann_maintenance import read_index

    enc, cents, cb = read_index(spark, path)
    # the is_residual flag costs a Spark job (first() on the 1-row
    # codebook) per search; read_index hands back the SAME DataFrame
    # object per index snapshot, so the flag rides as an attribute on it
    # — recomputed automatically whenever the snapshot (and hence the
    # object) changes
    residual = getattr(cb, "_creek_is_residual", None)
    if residual is None:
        residual = "is_residual" in cb.columns and bool(
            cb.first()["is_residual"]
        )
        cb._creek_is_residual = residual
    qlut = _pq_query_lut(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        cb,
        dim,
        m,
    )
    probes = _probe_frame(qlut, cents, nprobe, with_cdot=residual)
    scored = (
        enc.join(probes, "cell_id")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("adc_sim", _adc_sim_col(m, with_cdot=residual))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_sim").desc(), F.col("n_id").asc())
    if not rerank:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("q_id", "n_id", "adc_sim", "rnk")
        )
    # refinement: exact-cosine rescore of the top-r ADC candidates.
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
    )
    if vectors is None and "c_vec" in enc.columns:
        # store_vectors index (round-12, guide §2.1/§5): the candidate
        # rows ALREADY carry their raw vector — rerank is a second
        # window over the SAME q_id partitioning, in the same job.  The
        # old candidates→store form cost a separate broadcast-build job
        # that re-executed the whole probe/ADC subtree, plus a second,
        # cell-UNpruned scan of the index for the vector lookup.  The
        # rnk ≤ rerank filter is a pure row_number cut, so the partial
        # WindowGroupLimit truncates map-side and the one exchange
        # carries ≤ splits·|Q|·rerank vector rows, never the probed
        # corpus.  Candidate set, rescore arithmetic and both tiebreaks
        # are unchanged — row-identical to the join form (A/B-gated).
        rescored = (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= rerank)
            .select("q_id", "n_id", "c_vec", "_qnrm", "_nrm")
            .join(qv, "q_id")
            .withColumn(
                "cos_sim",
                _pair_cos("q_vec", "c_vec", "_qnrm", "_nrm", True),
            )
        )
    else:
        # external vector store: the top-r candidate ids (a tiny
        # broadcast — r·|queries| rows) join back to the store for the
        # raw vectors — at 100 TB the standard candidates→store path.
        cands = F.broadcast(
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= rerank)
            .select("q_id", "n_id", "_qnrm", "_nrm")
        )
        if vectors is None:
            raise ValueError(
                "rerank needs vectors: build the index with "
                "store_vectors=True or pass the vector store "
                "(vectors=...), or set rerank=0"
            )
        vstore = vectors.select(
            F.col(id_col).alias("n_id"), F.col(vec_col).alias("c_vec")
        )
        rescored = (
            vstore.join(cands, "n_id")
            .join(qv, "q_id")
            .withColumn(
                "cos_sim",
                _pair_cos("q_vec", "c_vec", "_qnrm", "_nrm", True),
            )
        )
    w2 = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id").asc()
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )
