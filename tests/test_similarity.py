"""ANN quality gates: the approximate paths (LSH buckets, IVF cells)
must be real approximations of the exact cosine top-k — measured recall
against `cosine_topk` on the same data, not just "runs and returns
rows"."""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.operators import similarity as sim
from creek_spark.sources import read_table
from tests.conftest import SF_DIR


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["n_id"])
    return out


def _recall(approx, exact):
    hits = total = 0
    for q, neighbors in exact.items():
        total += len(neighbors)
        hits += len(neighbors & approx.get(q, set()))
    return hits / total


def test_ivf_recall_beats_floor(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    approx = _topk_sets(sim.ivf_topk(emb, queries, k=5, n_cells=16, nprobe=3))
    # probing 3/16 cells of a random corpus scans ~19% of vectors; anything
    # clearly above that floor shows the cells concentrate true neighbors
    assert _recall(approx, exact) >= 0.35


def test_ivf_all_queries_answered(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = sim.ivf_topk(emb, queries, k=5, n_cells=16, nprobe=3)
    per_q = {r["q_id"]: r["rnk"] for r in out.collect()}
    assert len(per_q) == queries.count()  # every query produced neighbors
    assert out.where(F.col("rnk") > 5).count() == 0


def test_lsh_recall_beats_floor(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    approx = _topk_sets(sim.lsh_bucket_topk(emb, queries, dim=64, n_planes=6, k=5))
    # 6 hyperplanes → 64 buckets, so a random 1/64 ≈ 1.6% scan would land
    # ~0.016 recall.  The synthetic embeddings are near-uniform (top-5
    # neighbors sit at cos ≈ 0.3-0.45), the hardest case for sign-LSH, so
    # the gate is "clearly above random", not an absolute bar: ≥ 2.5×
    # the random-scan floor.  (IVF's data-adaptive cells do much better
    # on the same data — see test_ivf_recall_beats_floor.)
    assert _recall(approx, exact) >= 2.5 / 64


def test_exact_and_fast_paths_agree(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk(emb, queries, k=5))
    fast = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    assert exact == fast


def test_pq_recall_and_rerank(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    adc = _topk_sets(sim.pq_topk(emb, queries, dim=64, m=8, n_codes=16, k=5))
    # a 16-codeword sampled codebook quantizes the near-uniform synthetic
    # embeddings hard (top-5 sits at cos ≈ 0.3-0.45 — the worst case for
    # any quantizer, same story as the LSH floor above), so the gate is
    # "clearly above random": ≥ 5× a random pick of 5 of N (~1%)
    r_adc = _recall(adc, exact)
    assert r_adc >= 0.05
    # exact re-ranking of the top-25 ADC candidates must not hurt recall
    rr = _topk_sets(
        sim.pq_topk(emb, queries, dim=64, m=8, n_codes=16, k=5, rerank=25)
    )
    assert _recall(rr, exact) >= r_adc


def test_pq_all_queries_answered(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    out = sim.pq_topk(emb, queries, k=5)
    per_q = {}
    for r in out.collect():
        per_q.setdefault(r["q_id"], []).append(r["rnk"])
    assert len(per_q) == queries.count()
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_pq_codes_shape(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    cb = sim.pq_codebook(emb, n_codes=16)
    enc = sim.pq_encode(
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_vec")),
        cb, "n_id", "c_vec", dim=64, m=8,
    )
    row = enc.select("codes").first()
    assert len(row["codes"]) == 8
    stats = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.count_distinct(F.col("codes").cast("string")).alias("nsig"),
    ).first()
    assert stats["lo"] >= 0 and stats["hi"] <= 15
    assert stats["nsig"] > 1  # quantizer actually separates vectors


def test_ivfpq_recall_between_parts(spark):
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    out = sim.ivfpq_topk(emb, queries, k=5, rerank=0)  # raw ADC ranking
    comp = _topk_sets(out)
    # composition stacks two approximations (cell pruning × code
    # quantization); it must still answer every query and clearly beat
    # the random floor (~1%)
    assert len(comp) == queries.count()
    assert _recall(comp, exact) >= 0.04
    # every IVFADC hit must come from a probed cell: candidates are a
    # subset of the standalone-PQ ranking restricted to probed cells, so
    # scores agree with pure ADC where both rank the same pair
    adc = {
        (r["q_id"], r["n_id"]): r["adc_sim"]
        # same codebook width as ivfpq_topk's default (64 codewords)
        for r in sim.pq_topk(emb, queries, k=500, n_codes=64).collect()
    }
    for r in out.collect():
        key = (r["q_id"], r["n_id"])
        if key in adc:
            assert abs(adc[key] - r["adc_sim"]) < 1e-12


def test_ivfpq_persisted_search_equals_inline(spark, tmp_path):
    """Searching the persisted cell-partitioned index must return rows
    bit-identical to the inline ivfpq_topk (decimal index artifacts
    round-trip parquet losslessly), and the candidate scan must key on
    cell_id — the partition column — so only probed cells are read."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    inline = sim.ivfpq_topk(emb, queries)
    sim.ivfpq_index_build(emb, str(tmp_path / "idx"))
    searched = sim.ivfpq_search(spark, str(tmp_path / "idx"), queries)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(searched) == key(inline)
    plan = searched._jdf.queryExecution().executedPlan().toString()
    assert "cell_id" in plan
    # the probed-cell filter must REACH the index scan at runtime
    # (dynamic partition pruning on the cell_id partition column) — the
    # load-bearing mechanism behind "searches scan only probed cells";
    # "cell_id somewhere in the plan" alone would accept a full scan
    assert "dynamicpruningexpression(cast(cell_id" in plan, plan[:2000]


def test_ivfpq_exact_encode_build_matches_fast_and_inline(spark, tmp_path):
    """encode="exact" (the decimal-fold build path for corpora where
    float64 near-ties could diverge from the inline arithmetic) must
    produce an index whose stored codes AND search results equal both
    the default fast build and the inline ivfpq_topk."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    sim.ivfpq_index_build(emb, str(tmp_path / "fast"))
    sim.ivfpq_index_build(emb, str(tmp_path / "exact"), encode="exact")
    codes = lambda p: sorted(
        (r["n_id"], r["cell_id"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{p}/codes").collect()
    )
    assert codes(tmp_path / "fast") == codes(tmp_path / "exact")
    inline = sorted(map(tuple, sim.ivfpq_topk(emb, queries).collect()))
    got = sorted(
        map(
            tuple,
            sim.ivfpq_search(spark, str(tmp_path / "exact"), queries).collect(),
        )
    )
    assert got == inline


def test_ivf_recall_high_on_clustered_data(spark):
    """On data WITH cluster structure (the case IVF exists for), probing
    3/16 cells must recover most true neighbors — unlike the near-
    uniform driver embeddings where recall ~ probe fraction by
    construction.  Deterministic synthetic: 16 well-separated centers,
    small noise, queries drawn from the same clusters."""
    import math
    import random

    rng = random.Random(123)
    dim, n_clusters, per = 64, 16, 40
    centers = [
        [math.sin(0.7 * c * (j + 1)) * 10 for j in range(dim)]
        for c in range(n_clusters)
    ]
    rows = []
    vid = 0
    for c, ctr in enumerate(centers):
        for _ in range(per):
            rows.append(
                (vid, [round(x + rng.uniform(-0.5, 0.5), 3) for x in ctr])
            )
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = emb.where(F.col("vec_id") % 40 == 7)  # one per cluster
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    approx = _topk_sets(sim.ivf_topk(emb, queries, k=5, n_cells=16, nprobe=3))
    r = _recall(approx, exact)
    assert r >= 0.7, r  # probe fraction is 3/16 ≈ 0.19; structure >> that


def test_ivfpq_rerank_restores_recall(spark, tmp_path):
    """The exact-cosine rerank over top-25 ADC candidates must beat the
    raw ADC ranking's recall (PQ quantization noise dominates on the
    near-uniform driver embeddings), and the persisted-index rerank path
    must agree with the inline one."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    raw = _topk_sets(sim.ivfpq_topk(emb, queries, rerank=0))
    rr = _topk_sets(sim.ivfpq_topk(emb, queries, rerank=25))
    assert _recall(rr, exact) >= _recall(raw, exact)
    sim.ivfpq_index_build(emb, str(tmp_path / "idx"))
    rr_p = _topk_sets(
        sim.ivfpq_search(
            spark, str(tmp_path / "idx"), queries, rerank=25, vectors=emb
        )
    )
    assert rr_p == rr


def test_ivfpq_inindex_rerank_single_pass(spark, tmp_path):
    """The store_vectors rerank must be single-pass (round 12): the
    candidate rows already carry their raw vector, so the plan must
    scan the codes directory ONCE (the old candidates→store form
    re-scanned the whole index, unpruned, for the vector lookup and
    paid a second broadcast-build job for it) and shuffle ONCE (both
    rank windows share the q_id partitioning), with the partial
    WindowGroupLimit truncating the candidate cut map-side."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    p = str(tmp_path / "idx")
    sim.ivfpq_index_build(emb, p)
    df = sim.ivfpq_search(spark, p, queries, rerank=25)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("codes") - plan.count("codes#") == 1, plan[:3000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "WindowGroupLimit" in plan, plan[:3000]


def test_ivfpq_default_recall_gate(spark):
    """The shipped IVFADC defaults (n_codes=64, nprobe=8/16, exact-cosine
    rerank-100) must hold recall@5 ≥ 0.6 on the BENCH corpus — the
    near-uniform embeddings that are the ANN worst case (round-5 verdict
    item 3: a 0.2-recall default is not a done ANN path).  Runs against
    sf0.1 (the bench scale) when present, else the test SF_DIR."""
    import os

    bench_dir = "/root/testdata/sf0.1"
    sf = bench_dir if os.path.isdir(bench_dir) else SF_DIR
    emb = read_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    dflt = _topk_sets(sim.ivfpq_topk(emb, queries))  # all defaults
    r = _recall(dflt, exact)
    assert r >= 0.6, r


def test_pq_encode_fast_matches_exact_codes(spark):
    """The vectorized build encode (assign_encode_fast, the path default
    index builds take) must reproduce the decimal-fold encode exactly on
    the bench corpus — codes AND norms — including across a repartition
    (no partition-order dependence)."""
    emb = read_table(spark, SF_DIR, "embeddings")
    cb = sim.pq_codebook(emb, n_codes=16)
    cents = sim.ivf_centroids(emb)
    c = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_vec")
    )
    exact = {
        r["n_id"]: (r["codes"], r["_nrm"])
        for r in sim.pq_encode(c, cb, "n_id", "c_vec").collect()
    }
    fast = {
        r["n_id"]: (r["codes"], r["_nrm"])
        for r in sim.assign_encode_fast(
            c.repartition(7), cents, cb, "n_id", "c_vec"
        ).collect()
    }
    assert fast == exact


def test_ivfadc_residual_persisted_equals_inline(spark, tmp_path):
    """The residual index (numpy fused assign+subtract+encode) searched
    from parquet must be bit-identical to the inline decimal-fold
    residual ivfpq_topk — same gate as the raw path, for the residual
    codebook/encode/cdot-seeded ADC sum."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    inline = sim.ivfpq_topk(emb, queries, residual=True)
    sim.ivfpq_index_build(emb, str(tmp_path / "idx"), residual=True)
    searched = sim.ivfpq_search(spark, str(tmp_path / "idx"), queries)
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(searched) == key(inline)


def test_ivfadc_auto_probe_picks_measured_best(spark, tmp_path):
    """The residual=None auto probe must pick, in each training mode,
    the encoding whose MEASURED end-to-end rerank-0 recall on the full
    corpus is at least that of the other option — the probe simulates
    ADC ranking on the md5 sample, so its choice has to track the real
    metric, not reconstruction error (which provably mispredicts
    here)."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))

    for train in ("sample", "kmeans"):
        rec = {}
        for residual in (False, True):
            p = str(tmp_path / f"{train}_{residual}")
            sim.ivfpq_index_build(emb, p, train=train, residual=residual)
            rec[residual] = _recall(
                _topk_sets(sim.ivfpq_search(spark, p, queries, rerank=0)),
                exact,
            )
        p = str(tmp_path / f"{train}_auto")
        sim.ivfpq_index_build(emb, p, train=train)  # residual=None
        cb = spark.read.parquet(f"{p}/codebook")
        picked = "is_residual" in cb.columns and bool(cb.first()["is_residual"])
        # one-neighbor tolerance: 10 queries × k=5 → recall quantum is
        # 0.02, and a 1-neighbor gap is a statistical tie the sample
        # probe cannot (and should not) be required to resolve
        assert rec[picked] >= rec[not picked] - 0.0201, (train, picked, rec)


def test_ivfadc_kmeans_residual_beats_sampled_default(spark, tmp_path):
    """The measured best operating point on the bench corpus — k-means
    trained quantizers + residual codes + the default rerank — must
    beat the sampled-codebook default's recall@5 (0.78 vs 0.72 at
    sf0.1 when this gate was added).  Runs at the bench scale when
    present, else the test SF_DIR."""
    import os

    bench_dir = "/root/testdata/sf0.1"
    sf = bench_dir if os.path.isdir(bench_dir) else SF_DIR
    emb = read_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = _topk_sets(sim.cosine_topk_fast(emb, queries, k=5))
    p_s = str(tmp_path / "sampled")
    sim.ivfpq_index_build(emb, p_s, train="sample", residual=False)
    r_sampled = _recall(
        _topk_sets(sim.ivfpq_search(spark, p_s, queries)), exact
    )
    p_k = str(tmp_path / "kmeans")
    sim.ivfpq_index_build(emb, p_k, train="kmeans", residual=True)
    r_trained = _recall(
        _topk_sets(sim.ivfpq_search(spark, p_k, queries)), exact
    )
    assert r_trained >= r_sampled, (r_trained, r_sampled)
    assert r_trained >= 0.6
    # the round-9 recall-ladder operating point (nprobe/rerank sweep on
    # the trained index; see bench.py's sweep table): nprobe=12,
    # rerank=200 measured 0.94 at sf0.1 when this gate was added —
    # gated at the verdict's ≥ 0.85 bar (bench-scale only: the tiny
    # test fixture's recall quantum is too coarse for this bar)
    r_ladder = _recall(
        _topk_sets(sim.ivfpq_search(spark, p_k, queries, nprobe=12, rerank=200)),
        exact,
    )
    assert r_ladder >= r_trained, (r_ladder, r_trained)
    if sf == bench_dir:
        assert r_ladder >= 0.85, r_ladder


def test_ivfpq_index_append_equals_one_shot(spark, tmp_path):
    """Appending batches to a persisted index under its FROZEN
    quantizers must be bit-exact associative: with quantizers fixed by
    the build corpus A, any split of the remaining rows into append
    batches yields the same stored codes — so searching (A, +B, +C)
    equals searching (A, +(B ∪ C)) row for row, and the code store ends
    with exactly one row per corpus id."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    a = emb.where(F.col("vec_id") % 3 == 0)
    b = emb.where(F.col("vec_id") % 3 == 1)
    c = emb.where(F.col("vec_id") % 3 == 2)

    # layout 1: build on A, then append B and C in two batches
    p1 = str(tmp_path / "i1")
    sim.ivfpq_index_build(a, p1)
    sim.ivfpq_index_append(b, p1)
    sim.ivfpq_index_append(c, p1)
    # layout 2: same quantizer basis (built on A), one combined append
    p2 = str(tmp_path / "i2")
    sim.ivfpq_index_build(a, p2)
    sim.ivfpq_index_append(b.unionByName(c), p2)

    key = lambda df: sorted(map(tuple, df.collect()))
    s1 = key(sim.ivfpq_search(spark, p1, queries))
    s2 = key(sim.ivfpq_search(spark, p2, queries))
    assert s1 == s2
    # and the appended rows are really there: every corpus id occurs in
    # the code store exactly once
    codes = spark.read.parquet(f"{p1}/codes")
    assert codes.count() == emb.count()
    assert codes.select("n_id").distinct().count() == emb.count()


def test_ivfpq_index_append_respects_stored_flags(spark, tmp_path):
    """Appends must follow the index's own self-description: residual
    codes when the stored codebook says is_residual, and no stored
    vectors when the build used store_vectors=False."""
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    p = str(tmp_path / "res_idx")
    sim.ivfpq_index_build(a, p, train="kmeans", residual=True,
                          store_vectors=False)
    sim.ivfpq_index_append(b, p)
    codes = spark.read.parquet(f"{p}/codes")
    assert "c_vec" not in codes.columns
    assert codes.count() == emb.count()
    # searchable end-to-end (rerank needs the external vector store
    # because the index stores no vectors)
    out = sim.ivfpq_search(spark, p, queries, vectors=emb)
    assert out.count() > 0


def test_prefilter_divergence_bound(spark):
    """The cosine_topk double prefilter is exact only while PREFILTER_EPS
    ≥ 2·max|cos_double − cos_decimal| (see the proof note on cosine_topk).
    Measure that divergence over every (query, corpus) pair of the driver
    embeddings and gate it two orders of magnitude under the guard band,
    so dimension/data drift trips this test long before it could perturb
    a single emitted row."""
    from creek_spark.operators.similarity import PREFILTER_EPS, _exact_dot
    from creek_spark.functions.vectors import cosine_similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    q = F.broadcast(
        emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("_qv")
        )
    )
    pairs = (
        emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("_cv"))
        .crossJoin(q)
        .where(F.col("q_id") != F.col("n_id"))
    )
    cos_dec = _exact_dot("_qv", "_cv").cast("double") / (
        F.sqrt(_exact_dot("_qv", "_qv").cast("double"))
        * F.sqrt(_exact_dot("_cv", "_cv").cast("double"))
    )
    cos_dbl = cosine_similarity(F.col("_qv"), F.col("_cv"))
    e = pairs.select(F.max(F.abs(cos_dbl - cos_dec)).alias("e")).first()["e"]
    assert e <= 1e-8
    assert 2 * e <= PREFILTER_EPS / 100


def _pq_encode_full_decimal_ref(df, codebook, side_id, side_vec, *, dim, m):
    """In-test reference: the pre-round-12 pq_encode — the UNPREFILTERED
    decimal argmin over every codeword.  The production pq_encode must
    match it code-for-code (its double prefilter is a pure pruning)."""
    from creek_spark.operators.similarity import _exact_dot, _exact_sqdist

    sub = dim // m
    out = df.crossJoin(F.broadcast(codebook.select("_cb")))

    def sub_slice(col, j):
        return F.slice(col, j * sub + 1, sub)

    def _dist_fn(j):
        return lambda c, i: F.struct(
            _exact_sqdist(
                sub_slice(F.col(side_vec), j), sub_slice(c["cvec"], j)
            ).alias("d"),
            i.alias("t"),
        )

    code_exprs = []
    for j in range(m):
        dists = F.transform(F.col("_cb"), _dist_fn(j))
        best = F.aggregate(
            dists,
            F.struct(
                F.lit(10**12).cast("decimal(25,12)").alias("d"),
                F.lit(-1).alias("t"),
            ),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )
        code_exprs.append(best["t"])
    return out.select(
        F.col(side_id),
        F.array(*code_exprs).alias("codes"),
        _exact_dot(side_vec, side_vec).alias("_nrm"),
    )


def test_pq_prefilter_divergence_bound(spark):
    """pq_encode's double prefilter is exact only while PQ_PREFILTER_EPS
    ≥ 2·max|d_double − d_decimal| over every (vector, codeword, subspace)
    — measure the divergence on the driver corpus and gate it two orders
    of magnitude under the band, so data/dimension drift trips here long
    before it could flip a single code."""
    from creek_spark.operators.similarity import (
        PQ_PREFILTER_EPS,
        _dbl_sqdist,
        _exact_sqdist,
        pq_codebook,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    cb = pq_codebook(emb, n_codes=64)
    dim, m = 64, 8
    sub = dim // m
    out = emb.select(F.col("embedding").alias("v")).crossJoin(
        F.broadcast(cb.select("_cb"))
    )
    worst = []
    for j in range(m):
        sl = lambda c: F.slice(c, j * sub + 1, sub)  # noqa: B023
        div = F.transform(
            F.col("_cb"),
            lambda c: F.abs(
                _dbl_sqdist(sl(F.col("v")), sl(c["cvec"]))
                - _exact_sqdist(sl(F.col("v")), sl(c["cvec"])).cast("double")
            ),
        )
        worst.append(F.array_max(div))
    e = out.select(F.greatest(*worst).alias("e")).agg(F.max("e")).first()[0]
    assert e <= 1e-8, e
    assert 2 * e <= PQ_PREFILTER_EPS / 100, e


def test_pq_encode_prefilter_lockstep_and_ties(spark):
    """The prefiltered pq_encode must equal the full-decimal reference
    fold code-for-code and norm-for-norm — on the driver corpus AND on
    adversarial codebooks with exact decimal ties (duplicate codewords:
    smallest code index must win) and sub-eps near-ties (the decimal
    fold, not the double ordering, must decide)."""
    from creek_spark.operators.similarity import pq_codebook, pq_encode

    emb = read_table(spark, SF_DIR, "embeddings")
    cb = pq_codebook(emb, n_codes=16)
    src = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_vec"))
    got = {
        r["n_id"]: (list(r["codes"]), str(r["_nrm"]))
        for r in pq_encode(src, cb, "n_id", "c_vec", dim=64, m=8).collect()
    }
    want = {
        r["n_id"]: (list(r["codes"]), str(r["_nrm"]))
        for r in _pq_encode_full_decimal_ref(
            src, cb, "n_id", "c_vec", dim=64, m=8
        ).collect()
    }
    assert got == want

    # adversarial: dim=8, m=2.  codewords 0/1 identical (exact tie →
    # code 0), codeword 2 within 1e-7 of them on subspace 1 (sub-eps
    # near-tie → the decimal distance decides), codeword 3 far away.
    base = [1.0, 2.0, 3.0, 4.0]
    cws = [
        base + base,
        base + base,  # duplicate of codeword 0
        base + [v + 2.5e-8 for v in base],  # d_dec differs at ~1e-14
        [99.0] * 8,
    ]
    cb_rows = [
        {"mkey": f"{i:02d}", "cid": i, "cvec": cws[i]} for i in range(4)
    ]
    adv_cb = spark.createDataFrame(
        [(cb_rows,)], "_cb array<struct<mkey:string,cid:int,cvec:array<double>>>"
    )
    vecs = [
        (0, base + base),                      # exact tie on both subspaces
        (1, base + [v + 1.2e-8 for v in base]),  # between codewords 0/2
        (2, [0.0] * 8),
        (3, [99.0] * 4 + base),
    ]
    adv = spark.createDataFrame(vecs, "n_id int, c_vec array<double>")
    got_a = {
        r["n_id"]: list(r["codes"])
        for r in pq_encode(adv, adv_cb, "n_id", "c_vec", dim=8, m=2).collect()
    }
    want_a = {
        r["n_id"]: list(r["codes"])
        for r in _pq_encode_full_decimal_ref(
            adv, adv_cb, "n_id", "c_vec", dim=8, m=2
        ).collect()
    }
    assert got_a == want_a
    # the duplicate-codeword tie must resolve to the SMALLEST code
    assert got_a[0] == [0, 0]


def _ivf_assign_full_decimal_ref(df, cents, side_id, side_vec, *, keep_cvec=False):
    """In-test copy of the PRE-round-13 ivf_cell_assignment(exact=True):
    the full decimal cosine fold over every centroid — the reference the
    double-prefiltered band must match pick-for-pick."""
    from creek_spark.operators.similarity import _cent_sims, _exact_dot

    out = df.crossJoin(F.broadcast(cents))
    out = out.withColumn("_nrm", _exact_dot(side_vec, side_vec))
    scored = _cent_sims(side_vec, "_nrm", True)
    if keep_cvec:
        scored = F.zip_with(
            scored,
            F.col("cents"),
            lambda sc, c: F.struct(
                sc["s"].alias("s"), sc["cid"].alias("cid"), c["cvec"].alias("cvec")
            ),
        )
    acc_fields = [
        F.lit(-2.0).alias("s"),
        F.when(F.lit(False), F.get(F.col("cents"), 0)["cid"]).alias("cid"),
    ]
    if keep_cvec:
        acc_fields.append(
            F.when(F.lit(False), F.get(F.col("cents"), 0)["cvec"]).alias("cvec")
        )
    best = F.aggregate(
        scored,
        F.struct(*acc_fields),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
    )
    cols = [side_id, best["cid"].alias("cell_id")]
    if keep_cvec:
        cols.append(best["cvec"].alias("cell_vec"))
    cols.append(F.col("_nrm"))
    return out.select(*cols)


def test_ivf_prefilter_divergence_bound(spark):
    """ivf_cell_assignment's exact-path double prefilter is exact only
    while IVF_PREFILTER_EPS ≥ 2·max|cos_double − cos_decimal_as_double|
    over every (vector, centroid) — both paths divide by the identical
    denominator, so the divergence is the numerator quantization only.
    Measure it on the driver corpus and gate it two orders of magnitude
    under the band."""
    from creek_spark.operators.similarity import (
        _EXACT_DOT,
        IVF_PREFILTER_EPS,
        _exact_dot,
        ivf_centroids,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = ivf_centroids(emb, n_cells=16)
    out = (
        emb.select(F.col("embedding").alias("v"))
        .crossJoin(F.broadcast(cents))
        .withColumn("_n", _exact_dot("v", "v"))
    )

    # per centroid, the decimal dot as a double (SQL: it names the
    # centroid lambda variable)
    dot_x = F.expr(
        "transform(cents, c -> CAST("
        + _EXACT_DOT.format(a="v", b="c.cvec")
        + " AS DOUBLE))"
    )

    def _div(c, dot_e):
        dot_d = F.aggregate(
            F.zip_with(
                F.col("v"), c["cvec"],
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        denom = F.sqrt(F.col("_n").cast("double")) * F.sqrt(
            c["cnrm"].cast("double")
        )
        return F.abs(dot_d - dot_e) / denom

    e = (
        out.select(
            F.array_max(F.zip_with(F.col("cents"), dot_x, _div)).alias("e")
        )
        .agg(F.max("e"))
        .first()[0]
    )
    assert e <= 1e-8, e
    assert 2 * e <= IVF_PREFILTER_EPS / 100, e


def test_ivf_assignment_prefilter_lockstep_and_ties(spark):
    """The prefiltered exact assignment must equal the full-decimal
    reference fold cell-for-cell (and cell_vec-for-cell_vec) — on the
    driver corpus AND on adversarial centroid sets: duplicate centroids
    (exact tie → earliest md5-sorted position wins), a 2.5e-8 near-tie
    (the decimal fold, not the double ordering, must decide), and a
    zero vector (NULL cosine everywhere → cell_id NULL)."""
    from creek_spark.operators.similarity import (
        _exact_dot,
        ivf_cell_assignment,
        ivf_centroids,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = ivf_centroids(emb, n_cells=16)
    src = emb.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_vec")
    )
    got = {
        r["n_id"]: (r["cell_id"], str(r["_nrm"]))
        for r in ivf_cell_assignment(
            src, cents, "n_id", "c_vec", exact=True
        ).collect()
    }
    want = {
        r["n_id"]: (r["cell_id"], str(r["_nrm"]))
        for r in _ivf_assign_full_decimal_ref(src, cents, "n_id", "c_vec").collect()
    }
    assert got == want

    # adversarial centroid set, order pinned by mkey strings:
    #   position 0/1: duplicates (exact tie -> position 0's cid wins)
    #   position 2: 2.5e-8 directional perturbation of position 0
    #   position 3: far away
    cvecs = [
        [1.0, 0.0, 2.0, 3.0],
        [1.0, 0.0, 2.0, 3.0],
        [1.0, 2.5e-8, 2.0, 3.0],
        [-5.0, 7.0, -1.0, 2.0],
    ]
    cent_src = spark.createDataFrame(
        [(f"{i:02d}", 100 + i, v) for i, v in enumerate(cvecs)],
        "mkey string, cid bigint, cvec array<double>",
    ).withColumn("cnrm", _exact_dot("cvec", "cvec"))
    adv_cents = cent_src.agg(
        F.sort_array(
            F.collect_list(F.struct("mkey", "cid", "cvec", "cnrm"))
        ).alias("cents")
    )
    rows = [
        (0, [1.0, 0.0, 2.0, 3.0]),        # exact tie between pos 0/1
        (1, [1.0, 1.2e-8, 2.0, 3.0]),     # between pos 0 and pos 2
        (2, [0.0, 0.0, 0.0, 0.0]),        # zero norm -> NULL everywhere
        (3, [-5.0, 7.0, -1.0, 2.0]),      # clear winner pos 3
    ]
    adv = spark.createDataFrame(rows, "n_id int, c_vec array<double>")
    got_a = {
        r["n_id"]: (r["cell_id"], r["cell_vec"])
        for r in ivf_cell_assignment(
            adv, adv_cents, "n_id", "c_vec", exact=True, keep_cvec=True
        ).collect()
    }
    want_a = {
        r["n_id"]: (r["cell_id"], r["cell_vec"])
        for r in _ivf_assign_full_decimal_ref(
            adv, adv_cents, "n_id", "c_vec", keep_cvec=True
        ).collect()
    }
    assert got_a == want_a
    assert got_a[0][0] == 100  # duplicate tie -> earliest position's cid
    assert got_a[2][0] is None  # zero vector -> NULL cell
