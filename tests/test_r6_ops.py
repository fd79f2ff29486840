"""Round-6 corpus-curation operators: leakage-safe splitting, temperature
mixing, distribution drift, embedding-dimension profiling.

Each operator gets (a) a semantic property test against an independent
formulation (numpy / brute force), (b) determinism across repartition,
and (c) a physical-plan scale gate.  Oracle parity itself is covered
catalog-wide by test_oracle_parity.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from creek_spark.plans import explain_str
from creek_spark.sources import read_table
from tests.conftest import SF_DIR


def _catalog():
    import __spark_entry__ as entrymod

    return entrymod._catalog()


# ---------------------------------------------------------------- split


def test_leakage_split_clusters_never_straddle(spark):
    """The whole point: every cluster maps to exactly one split."""
    df = _catalog()["split_leakage_safe"].fn(spark, SF_DIR)
    bad = (
        df.groupBy("cluster_rep")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert bad == 0


def test_leakage_split_covers_every_doc_once(spark):
    docs = read_table(spark, SF_DIR, "documents")
    df = _catalog()["split_leakage_safe"].fn(spark, SF_DIR)
    assert df.count() == docs.count()
    assert df.select("doc_id").distinct().count() == docs.count()
    splits = {r[0] for r in df.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    # with 90/5/5 fractions train must dominate
    counts = dict(
        df.groupBy("split").count().collect()
    )
    assert counts.get("train", 0) > counts.get("val", 0)
    assert counts.get("train", 0) > counts.get("test", 0)


def test_leakage_split_agrees_with_row_split_for_singletons(spark):
    """A document with no near-dups must get exactly the split that plain
    split_assign would give its own id (rep == own id)."""
    from creek_spark.operators.pipeline import split_assign
    from creek_spark.queries_pipeline import SPLIT_FRACTIONS, SPLIT_SALT

    df = _catalog()["split_leakage_safe"].fn(spark, SF_DIR)
    singles = df.where(F.col("cluster_rep") == F.col("doc_id"))
    ref = split_assign(
        singles.select("doc_id", F.col("doc_id").alias("cluster_rep")),
        "cluster_rep",
        SPLIT_FRACTIONS,
        salt=SPLIT_SALT,
    ).withColumnRenamed("split", "ref_split")
    joined = singles.join(ref, ["doc_id", "cluster_rep"])
    assert joined.where(F.col("split") != F.col("ref_split")).count() == 0


# ------------------------------------------------------------------ mix


def test_temperature_mix_quotas_exact(spark):
    """Selected per-stratum counts equal the integer quota formula
    computed independently in Python."""
    from creek_spark.queries_pipeline import MIX_BUDGET, MIX_SCALE

    docs = read_table(spark, SF_DIR, "documents")
    n_by_lang = dict(docs.groupBy("lang").count().collect())
    w = {g: math.floor(math.sqrt(n) * MIX_SCALE) for g, n in n_by_lang.items()}
    tw = sum(w.values())
    expect = {g: (MIX_BUDGET * wg) // tw for g, wg in w.items()}

    out = _catalog()["mix_temperature"].fn(spark, SF_DIR)
    got = dict(out.groupBy("lang").count().collect())
    assert got == {g: q for g, q in expect.items() if q > 0}


def test_temperature_mix_downweights_large_strata(spark):
    """τ=0.5 must give small strata a HIGHER sampling rate than large
    ones (the whole point of temperature mixing)."""
    docs = read_table(spark, SF_DIR, "documents")
    n_by_lang = dict(docs.groupBy("lang").count().collect())
    out = _catalog()["mix_temperature"].fn(spark, SF_DIR)
    got = dict(out.groupBy("lang").count().collect())
    big = max(n_by_lang, key=n_by_lang.get)
    small = min(n_by_lang, key=n_by_lang.get)
    if n_by_lang[big] > n_by_lang[small]:  # guard against uniform data
        assert got[small] / n_by_lang[small] > got[big] / n_by_lang[big]


def test_temperature_mix_deterministic_across_partitioning(spark):
    from creek_spark.operators.pipeline import temperature_mix_sample

    docs = read_table(spark, SF_DIR, "documents")
    a = temperature_mix_sample(docs, "lang", "doc_id", budget=50)
    b = temperature_mix_sample(
        docs.repartition(17, "source"), "lang", "doc_id", budget=50
    )
    ids_a = {r[0] for r in a.select("doc_id").collect()}
    ids_b = {r[0] for r in b.select("doc_id").collect()}
    assert ids_a == ids_b and len(ids_a) > 0


# ---------------------------------------------------------------- drift


def test_drift_zero_for_proportional_groups(spark):
    """Two groups with identical value distributions → integer terms
    cancel exactly → tvd == 0.0 bit-for-bit."""
    from creek_spark.operators.quality import distribution_drift

    rows = [("a", v) for v in (10, 10, 250, 300)] + [
        ("b", v) for v in (10, 10, 250, 300)
    ]
    df = spark.createDataFrame(rows, "g string, v int")
    out = distribution_drift(df, "g", "v", bin_width=100, n_bins=4)
    assert [r["tvd"] for r in out.collect()] == [0.0, 0.0]


def test_drift_bounds_and_brute_force(spark):
    """TVD ∈ [0,1] and matches the numpy histogram formulation."""
    from creek_spark.operators.quality import distribution_drift

    docs = read_table(spark, SF_DIR, "documents")
    out = {
        r["source"]: (r["n_docs"], r["tvd"])
        for r in distribution_drift(
            docs, "source", "n_chars", bin_width=100, n_bins=6
        ).collect()
    }
    pdf = docs.select("source", "n_chars").toPandas()
    bins = np.minimum(pdf["n_chars"] // 100, 5)
    total = np.bincount(bins, minlength=6).astype(float)
    total_p = total / total.sum()
    for src, grp in pdf.groupby("source"):
        c = np.bincount(
            np.minimum(grp["n_chars"] // 100, 5), minlength=6
        ).astype(float)
        tvd = 0.5 * np.abs(c / c.sum() - total_p).sum()
        n_docs, got = out[src]
        assert n_docs == len(grp)
        assert 0.0 <= got <= 1.0
        assert abs(got - tvd) < 1e-12


# ------------------------------------------------------------ dim stats


def test_embedding_dim_stats_match_numpy(spark):
    from creek_spark.operators.profile import embedding_dim_stats

    emb = read_table(spark, SF_DIR, "embeddings")
    out = {
        r["dim"]: r
        for r in embedding_dim_stats(emb, "embedding").collect()
    }
    mat = np.array(
        [r[0] for r in emb.select("embedding").collect()], dtype=np.float64
    )
    n, d = mat.shape
    assert set(out) == set(range(1, d + 1))
    for j in range(d):
        r = out[j + 1]
        assert r["n"] == n
        assert abs(r["mean"] - mat[:, j].mean()) < 2e-9
        assert abs(r["variance"] - mat[:, j].var()) < 5e-9
        assert r["vmin"] == mat[:, j].min()
        assert r["vmax"] == mat[:, j].max()


# ------------------------------------------------------------ plan gates


def test_drift_single_scan(spark):
    """One corpus scan; every post-scan frame is aggregate-sized."""
    df = _catalog()["quality_drift_tvd"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan  # tree + detail = 1 scan


def test_dim_stats_single_scan_partial_agg(spark):
    """One scan; the aggregate must be partial+final (map-side combine
    bounds the shuffle at d rows per task)."""
    df = _catalog()["embedding_dim_stats"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan
    assert "hashpartitioning(dim" in plan, plan


def test_leakage_split_lineage_truncated(spark):
    """The component loop must not leak its iteration history into the
    final plan: parquet appears only for the corpus-side scans, not one
    tree per propagation round."""
    df = _catalog()["split_leakage_safe"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan ExistingRDD") >= 1, plan  # checkpointed labels
    assert plan.count("Scan parquet") <= 4, plan  # docs id-list scan only


def test_mix_temperature_no_order_only_window(spark):
    """Ranking must run on (stratum, segment) windows — the catalog-wide
    gate checks this too; keep a local, readable assertion."""
    import re

    df = _catalog()["mix_temperature"].fn(spark, SF_DIR)
    plan = explain_str(df)
    for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec in ("lang", "_seg"), plan


# ------------------------------------------------------------- novelty


def test_ngram_novelty_brute_force(spark):
    """Novelty equals the python set formulation on the real corpus."""
    from creek_spark.operators.text import ngram_novelty
    from creek_spark.functions.text import tokens

    docs = read_table(spark, SF_DIR, "documents")
    out = {r["doc"]: r for r in ngram_novelty(docs, "text", "doc_id").collect()}
    toks = docs.select("doc_id", tokens("text").alias("t")).collect()
    sh = {
        r["doc_id"]: {
            " ".join(r["t"][i : i + 3]) for i in range(len(r["t"]) - 2)
        }
        for r in toks
    }
    from collections import Counter

    df_count = Counter(s for ss in sh.values() for s in ss)
    for doc, ss in sh.items():
        if not ss:
            assert doc not in out
            continue
        uniq = sum(1 for s in ss if df_count[s] == 1)
        r = out[doc]
        assert r["n_shingles"] == len(ss)
        assert r["n_unique"] == uniq
        assert r["novelty"] == uniq / len(ss)


def test_ngram_novelty_plan_skew_free(spark):
    """No shingle-keyed window and no join back to the shingle stream —
    the shapes that hash every occurrence of a hot shingle into one
    task.  The shingle aggregate must be partial+final (map-side combine
    collapses hot shingles per task); the only join is doc-keyed between
    two per-document frames; ≤ 2 text scans (the doc-side one is
    shuffle-free)."""
    df = _catalog()["text_ngram_novelty"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("Scan parquet") <= 4, plan  # tree + detail = ≤2 scans
    assert "partial_count" in plan, plan
    # every join keys on doc, never on shingle
    import re

    for keys in re.findall(r"hashpartitioning\((\w+)#", plan):
        assert keys in ("doc", "_only_doc", "shingle"), plan
    # the quadratic-tokenize trap: no element_at(split(...)) may appear
    # inside a Filter condition (tokens must be materialized first)
    for cond in re.findall(r"Condition : (.*)", plan):
        assert "element_at(split" not in cond, cond
    assert "Join" not in plan or "shingle" not in "".join(
        re.findall(r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[(\w+)", plan)
    ), plan


# -------------------------------------------------------- decomposition


def test_seasonal_decompose_reconstructs(spark):
    """v == trend + seasonal + residual (up to IEEE reassociation) and
    the trend is a genuine local average (between window min/max)."""
    df = _catalog()["ts_seasonal_decompose"].fn(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(r["v"] - (r["trend"] + r["seasonal"] + r["residual"])) < 1e-6


def test_seasonal_decompose_single_scan_summary_windows(spark):
    """The corpus collapses to the hourly summary before any window: one
    parquet scan, and every window partitions by event_type (+hod)."""
    import re

    df = _catalog()["ts_seasonal_decompose"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan  # tree + detail = 1 scan
    for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec == "event_type", plan


# ------------------------------------------------------------ scale probe


def test_scale_probe_shapes_execute(spark):
    """tools/scale_probe.py bitrot guard: every probe builds and runs at
    sf0.001 with a k=2 inflation, and inflation preserves row multiples
    and remap-key distinctness."""
    import importlib.util as iu
    import os

    spec = iu.spec_from_file_location(
        "scale_probe",
        os.path.join(os.path.dirname(__file__), "..", "tools", "scale_probe.py"),
    )
    mod = iu.module_from_spec(spec)
    spec.loader.exec_module(mod)

    docs = read_table(spark, SF_DIR, "documents")
    inflated = mod.inflate(docs, 3, {"doc_id": "remap", "text": "salt"})
    assert inflated.count() == 3 * docs.count()
    assert inflated.select("doc_id").distinct().count() == 3 * docs.count()

    for name, fn in mod.probes(spark, SF_DIR).items():
        assert fn(2).limit(5).count() >= 0, name


# ------------------------------------------------------------ cohort LTV


def test_cohort_ltv_triangle_invariants(spark):
    """Age-0 activity equals cohort size (every customer is active in
    their first month by construction), activity never exceeds cohort
    size, and cumulative revenue is non-decreasing per cohort."""
    df = _catalog()["orders_cohort_ltv"].fn(spark, SF_DIR)
    rows = df.collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert r["n_active"] <= r["cohort_size"]
        if r["age_months"] == 0:
            assert r["n_active"] == r["cohort_size"]
        by_cohort.setdefault(r["cohort_month"], []).append(
            (r["age_months"], r["cum_revenue"], r["revenue"])
        )
    for cells in by_cohort.values():
        cells.sort()
        cum = 0.0
        for _, c, v in cells:
            assert c >= cum - 1e-9
            cum = c
            assert v > 0


def test_cohort_ltv_summary_windows_only(spark):
    """One orders-derived grid; the cumulative window partitions by
    cohort over the (cohort, age) summary, never the corpus."""
    import re

    df = _catalog()["orders_cohort_ltv"].fn(spark, SF_DIR)
    plan = explain_str(df)
    for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec == "cohort", plan


# -------------------------------------------------------------- XYZ


def test_xyz_matches_numpy(spark):
    """CV per part equals the numpy population formulation; classes
    respect the thresholds."""
    df = _catalog()["parts_xyz_variability"].fn(spark, SF_DIR)
    out = {r["partkey"]: r for r in df.collect()}
    li = read_table(spark, SF_DIR, "lineitem").select(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("mon"),
        F.col("l_quantity").cast("double").alias("q"),
    ).toPandas()
    g = li.groupby(["l_partkey", "mon"])["q"].sum()
    for pk, series in g.groupby(level=0):
        v = series.to_numpy()
        cv = v.std() / v.mean()
        r = out[pk]
        assert r["n_months"] == len(v)
        assert abs(r["cv"] - cv) < 1e-9
        want = "X" if r["cv"] < 0.5 else ("Y" if r["cv"] < 1.0 else "Z")
        assert r["xyz_class"] == want


def test_xyz_single_scan_no_window(spark):
    df = _catalog()["parts_xyz_variability"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan  # tree + detail = 1 scan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert "partial_" in plan, plan
