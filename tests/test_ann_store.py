"""Persisted ANN index store: the IVFADC layout SURVEY §9 prescribes —
encode once, write (id, codes, norm) partitioned by cell_id, and verify
searches over the store prune to the probed cells' partitions.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from creek_spark.operators import similarity as sim
from creek_spark.sources import read_table
from tests.conftest import SF_DIR


def _build_store(spark, tmpdir: str):
    emb = read_table(spark, SF_DIR, "embeddings")
    cents = sim.ivf_centroids(emb, n_cells=16)
    c = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_vec"))
    cells = sim.ivf_cell_assignment(c, cents, "n_id", "c_vec", exact=True).select(
        "n_id", "c_vec", "cell_id"
    )
    cb = sim.pq_codebook(emb, n_codes=16)
    enc = sim.pq_encode(cells, cb, "n_id", "c_vec", dim=64, m=8, keep=("cell_id",))
    store = os.path.join(tmpdir, "ann_store")
    # the compressed index: codes + norm only, vectors stay in the base
    # table — m bytes-ish per vector instead of dim×4
    enc.select("n_id", "cell_id", "codes", "_nrm").write.partitionBy(
        "cell_id"
    ).parquet(store)
    return store


def test_store_partitioned_by_cell(spark, tmp_path):
    store = _build_store(spark, str(tmp_path))
    cells = [
        d for d in os.listdir(store) if d.startswith("cell_id=")
    ]
    assert len(cells) > 1  # assignment actually spreads vectors
    df = spark.read.parquet(store)
    assert df.count() == read_table(spark, SF_DIR, "embeddings").count()


def test_probed_cell_scan_prunes_partitions(spark, tmp_path):
    store = _build_store(spark, str(tmp_path))
    df = spark.read.parquet(store)
    all_cells = [r["cell_id"] for r in df.select("cell_id").distinct().collect()]
    probed = sorted(all_cells)[:3]
    pruned = df.where(F.col("cell_id").isin(probed))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition pruning must reach the scan: the cell filter appears as a
    # PartitionFilter, and only the probed cells' files are read
    assert "PartitionFilters" in plan and "cell_id" in plan, plan
    # execution-level ground truth (inputFiles() ignores pushed filters):
    # every file actually read must belong to a probed cell's directory
    files = [
        r["f"]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert files, "scan resolved no files"
    assert all(
        any(f"cell_id={c}" in f for c in probed) for f in files
    ), files[:5]
    n_all_files = len(
        df.select(F.input_file_name().alias("f")).distinct().collect()
    )
    assert len(files) < n_all_files  # pruning actually skipped partitions


def test_adc_over_store_matches_inline_path(spark, tmp_path):
    """Scoring over the persisted store (codes + norms read back, no
    vectors) reproduces the inline ivfpq ranking for the same probes —
    the store round-trip loses nothing."""
    store = _build_store(spark, str(tmp_path))
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    expected = {
        (r["q_id"], r["n_id"], r["rnk"]): r["adc_sim"]
        # pin the store's parameters (16 codes, 3 probes, raw ADC) — the
        # shipped defaults are wider (64 codes, 8 probes, rerank-100)
        for r in sim.ivfpq_topk(
            emb, queries, k=3, n_codes=16, nprobe=3, rerank=0
        ).collect()
    }

    enc = spark.read.parquet(store)
    cents = sim.ivf_centroids(emb, n_cells=16)
    cb = sim.pq_codebook(emb, n_codes=16)
    qlut = sim._pq_query_lut(
        queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")),
        cb, 64, 8,
    )
    qx = qlut.crossJoin(cents)
    scored_arr = F.transform(
        sim._cent_sims("q_vec", "_qnrm", True),
        lambda x, i: F.struct(x["s"].alias("s"), (-i).alias("negi"), x["cid"].alias("cid")),
    )
    top_cells = F.slice(F.sort_array(scored_arr, asc=False), 1, 3)
    probes = F.broadcast(
        qx.select("q_id", "_qnrm", "_lut", F.explode(top_cells).alias("_probe"))
        .select("q_id", "_qnrm", "_lut", F.col("_probe.cid").alias("cell_id"))
    )
    from pyspark.sql import Window

    scored = (
        enc.join(probes, "cell_id")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("adc_sim", sim._adc_sim_col(8))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adc_sim").desc(), F.col("n_id").asc())
    got = {
        (r["q_id"], r["n_id"], r["rnk"]): r["adc_sim"]
        for r in scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("q_id", "n_id", "adc_sim", "rnk")
        .collect()
    }
    assert set(got) == set(expected)
    for key in expected:
        assert abs(got[key] - expected[key]) < 1e-12


def test_index_memo_keeps_one_entry_per_live_session_and_path(spark, tmp_path):
    """read_index's plan-handle memo holds one entry per live (session,
    path): a new manifest version replaces the entry, a stopped session's
    entries go on the next insert, and a repeat read of an unchanged
    snapshot hands back the same frames."""
    from types import SimpleNamespace

    from creek_spark.operators import ann_maintenance as am

    p = str(tmp_path / "idx")
    for sub in ("codes/batch=0", "centroids", "codebook"):
        spark.range(2).write.parquet(f"{p}/{sub}")
    stopped = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    am._INDEX_MEMO[(id(stopped), p)] = (stopped, ("v", 1), ())

    def entries():
        return [k for k in am._INDEX_MEMO if k[1] == p]

    am.write_manifest(spark, p, [0])
    first = am.read_index(spark, p)
    assert am.read_index(spark, p) is first  # unchanged snapshot
    assert entries() == [(id(spark), p)]  # the stopped session's is gone
    am.write_manifest(spark, p, [0])  # a second committed version
    second = am.read_index(spark, p)
    assert second is not first
    assert entries() == [(id(spark), p)]
    assert am._INDEX_MEMO[(id(spark), p)][1] == ("v", 2)


def _skeleton_index(spark, p: str) -> None:
    """Code, centroid and codebook dirs — no real quantizers: every
    entry point below must refuse before it reads any of them."""
    for sub in ("codes/batch=0", "centroids", "codebook"):
        spark.range(2).write.parquet(f"{p}/{sub}")


def test_manifest_version_directory_is_refused_with_remedy(spark, tmp_path):
    """An index whose manifest is a `_manifest/` directory of numbered
    version files (the layout before `_manifest.json`) is refused by
    every reader and writer, with the remedy named, instead of being
    read as a static index whose codes root exposes uncommitted
    batch dirs."""
    from creek_spark.operators import ann_maintenance as am
    from creek_spark.streaming.ann import StreamingAnnIndex

    p = str(tmp_path / "idx")
    _skeleton_index(spark, p)
    os.makedirs(f"{p}/_manifest")
    with open(f"{p}/_manifest/v00000001.json", "w") as f:
        f.write('{"live": [0], "version": 1}')
    remedy = "move the newest one to .*_manifest.json"
    with pytest.raises(ValueError, match=remedy):
        am.read_manifest(spark, p)
    idx = StreamingAnnIndex(spark, p)
    batch = spark.range(1)
    for op in (
        lambda: sim.ivfpq_search(spark, p, batch),
        lambda: idx.apply_batch(batch, 0),
        lambda: am.ivfpq_index_compact(spark, p),
        lambda: am.ivfpq_index_vacuum(spark, p),
        lambda: am.ann_drift_report(spark, p, batch),
    ):
        with pytest.raises(ValueError, match=remedy):
            op()
    assert not os.path.exists(f"{p}/_manifest.json")


def test_apply_batch_without_manifest_names_bootstrap_and_adopt(
    spark, tmp_path
):
    """A first manifest published by apply_batch would list only its own
    batch and hide every code dir already on disk from gated searches:
    an index with no manifest is refused, naming both ways in, and
    nothing is committed."""
    from creek_spark.streaming.ann import StreamingAnnIndex

    p = str(tmp_path / "idx")
    _skeleton_index(spark, p)
    idx = StreamingAnnIndex(spark, p)
    with pytest.raises(ValueError, match=r"bootstrap\(\).*adopt_static_layout"):
        idx.apply_batch(spark.range(1), 0)
    assert not os.path.exists(f"{p}/_manifest.json")
