"""Brute-force equality tests for the distributed ordered primitives
(operators/distributed.py): segmented prefix aggregates and exact rank
selection must match their single-window formulations on random data,
under any input partitioning."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from creek_spark.operators.distributed import (
    discrete_percentile,
    rank_pick,
    segmented_running,
)


def _rand_rows(rng, n, n_groups=3):
    # (grp, ord_key, val) with duplicate vals and clustered ord_keys so
    # segment boundaries land mid-tie-group sometimes
    return [
        (
            f"g{rng.randrange(n_groups)}",
            rng.randrange(n * 2),
            round(rng.uniform(-50, 50), 2),
        )
        for _ in range(n)
    ]


def test_segmented_running_matches_global_window(spark):
    rng = random.Random(5)
    rows = [(g, k, v, i) for i, (g, k, v) in enumerate(_rand_rows(rng, 400))]
    df = spark.createDataFrame(
        rows, "grp string, k bigint, v double, rid bigint"
    ).repartition(7)
    out = segmented_running(
        df,
        ["grp"],
        (F.col("k") / 25).cast("bigint"),  # monotone in k
        [F.col("k"), F.col("rid")],
        {
            "rs": (F.col("v"), "sum"),
            "rmin": (F.col("v"), "min"),
            "rmax": (F.col("v"), "max"),
            "rn": (F.lit(1), "rownum"),
        },
    ).collect()
    got = {r["rid"]: (r["rs"], r["rmin"], r["rmax"], r["rn"]) for r in out}
    # brute force per group in (k, rid) order
    by_g = {}
    for g, k, v, rid in rows:
        by_g.setdefault(g, []).append((k, rid, v))
    for g, items in by_g.items():
        items.sort()
        s = 0.0
        mn, mx = float("inf"), float("-inf")
        for i, (k, rid, v) in enumerate(items, start=1):
            s += v
            mn, mx = min(mn, v), max(mx, v)
            gs, gmn, gmx, grn = got[rid]
            assert abs(gs - s) < 1e-9, (g, rid)
            assert gmn == mn and gmx == mx and grn == i, (g, rid)


def test_segmented_running_single_segment_and_empty_parts(spark):
    # one segment → offsets all NULL; results must still be the plain
    # running aggregates (first-segment NULL handling)
    df = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 7.0)], "k bigint, v double"
    )
    out = segmented_running(
        df, [], F.lit(0), [F.col("k")],
        {"rs": (F.col("v"), "sum"), "rmin": (F.col("v"), "min"), "rn": (F.lit(1), "rownum")},
    ).orderBy("k").collect()
    assert [round(r["rs"], 6) for r in out] == [10.0, 15.0, 22.0]
    assert [r["rmin"] for r in out] == [10.0, 5.0, 5.0]
    assert [r["rn"] for r in out] == [1, 2, 3]


def test_rank_pick_matches_sort_with_ties(spark):
    rng = random.Random(9)
    rows = [
        (f"g{rng.randrange(2)}", float(rng.randrange(10)), i)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "grp string, v double, tid bigint").repartition(5)
    ranks = lambda n: [  # noqa: E731
        F.lit(1).cast("bigint"),
        (n / 2).cast("bigint") + 1,
        n.cast("bigint"),
    ]
    picked = rank_pick(
        df, ["grp"], F.col("v"), F.col("tid"),
        F.floor(F.col("v") / 3).cast("bigint"), ranks,
    ).collect()
    by_g = {}
    for g, v, t in rows:
        by_g.setdefault(g, []).append((v, t))
    for r in picked:
        items = sorted(by_g[r["grp"]])
        v, t = items[r["_k"] - 1]
        assert (r["_pick_v"], r["_pick_t"]) == (v, t), r


def test_discrete_percentile_matches_rank_formula(spark):
    rng = random.Random(13)
    rows = [(f"g{i % 3}", round(rng.uniform(0, 100), 1)) for i in range(501)]
    df = spark.createDataFrame(rows, "grp string, v double").repartition(4)
    for p in (0.5, 0.9):
        got = {
            r["grp"]: r["_pick_v"]
            for r in discrete_percentile(
                df, ["grp"], F.col("v"),
                F.floor(F.col("v") * 16).cast("bigint"), p,
            ).collect()
        }
        by_g = {}
        for g, v in rows:
            by_g.setdefault(g, []).append(v)
        for g, vs in by_g.items():
            vs.sort()
            k = int(p * (len(vs) - 1))  # floor(p*(n-1)) + 1, 1-based
            assert got[g] == vs[k], (g, p)


def test_rank_pick_deterministic_across_partitioning(spark):
    rows = [(float(i % 7), i) for i in range(100)]
    df1 = spark.createDataFrame(rows, "v double, tid bigint").coalesce(1)
    df2 = spark.createDataFrame(rows, "v double, tid bigint").repartition(13)
    ranks = lambda n: [(n / 3).cast("bigint") + 1]  # noqa: E731
    r1 = rank_pick(df1, [], F.col("v"), F.col("tid"), F.col("v").cast("bigint"), ranks).collect()
    r2 = rank_pick(df2, [], F.col("v"), F.col("tid"), F.col("v").cast("bigint"), ranks).collect()
    assert [(r["_k"], r["_pick_v"], r["_pick_t"]) for r in r1] == [
        (r["_k"], r["_pick_v"], r["_pick_t"]) for r in r2
    ]


def test_segmented_running_hypothesis(spark):
    """Property form: for arbitrary (group, key, value) rows and an
    arbitrary monotone segment width, segmented running aggregates equal
    the brute-force prefix scan.  One Spark job per example, so examples
    are few but shrinkable."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 2),            # group
                st.integers(-100, 100),       # sort key
                st.integers(-50, 50),         # value (ints: exact equality)
            ),
            min_size=1,
            max_size=60,
        ),
        width=st.integers(1, 40),
    )
    def check(rows, width):
        data = [(g, k, v, i) for i, (g, k, v) in enumerate(rows)]
        df = spark.createDataFrame(
            data, "g int, k int, v long, rid int"
        ).repartition(3)
        out = {
            r["rid"]: (r["rs"], r["rmin"], r["rn"])
            for r in segmented_running(
                df,
                ["g"],
                F.floor(F.col("k") / width).cast("bigint"),
                [F.col("k"), F.col("rid")],
                {
                    "rs": (F.col("v"), "sum"),
                    "rmin": (F.col("v"), "min"),
                    "rn": (F.lit(1), "rownum"),
                },
            ).collect()
        }
        by_g = {}
        for g, k, v, rid in data:
            by_g.setdefault(g, []).append((k, rid, v))
        for items in by_g.values():
            items.sort()
            s, mn = 0, None
            for i, (k, rid, v) in enumerate(items, 1):
                s += v
                mn = v if mn is None else min(mn, v)
                assert out[rid] == (s, mn, i), (rid, out[rid], (s, mn, i))

    check()


def test_segmented_running_null_part_key_matches_native_window(spark):
    """A NULL partition key is an ordinary partition value in the native
    window form segmented_running replaces — the null-safe offsets join
    must preserve that (round-5 ADVICE: a plain left join left the
    offset NULL and restarted the running agg per segment)."""
    from pyspark.sql import Window

    rows = [
        # grp=None spans three segments so the offsets join matters
        (None, 1, 10.0),
        (None, 30, 5.0),
        (None, 60, 2.0),
        (None, 90, 8.0),
        ("g1", 2, 1.0),
        ("g1", 55, 3.0),
    ]
    df = spark.createDataFrame(rows, "grp string, k bigint, v double").repartition(5)
    out = segmented_running(
        df,
        ["grp"],
        (F.col("k") / 25).cast("bigint"),
        [F.col("k")],
        {"rs": (F.col("v"), "sum"), "rn": (F.lit(1), "rownum")},
    )
    w = Window.partitionBy("grp").orderBy("k")
    native = df.withColumn(
        "rs", F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("rn", F.row_number().over(w))
    got = {(r["grp"], r["k"]): (r["rs"], r["rn"]) for r in out.collect()}
    want = {(r["grp"], r["k"]): (r["rs"], r["rn"]) for r in native.collect()}
    assert got == want


def test_operator_persists_are_registered_and_releasable(spark, sf_dir):
    """Every operator/query persist routes through cachereg so a
    long-lived session can deterministically release storage after the
    consuming action (round-5 ADVICE: customer_rfm's cache + the
    persist=True knobs previously leaked until LRU pressure)."""
    from creek_spark.operators import cachereg

    cachereg.release_caches()
    import __spark_entry__ as em

    cat = em._catalog()
    cat["customer_rfm"].fn(spark, sf_dir).collect()
    assert cachereg._CACHES, "customer_rfm persist not registered"
    cached = list(cachereg._CACHES)
    cachereg.release_caches()
    assert not cachereg._CACHES
    for df in cached:
        assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def test_release_caches_leaves_another_sessions_frames_cached(spark):
    """Two sessions on one SparkContext: release_caches() in one releases
    its own registered frames and leaves the other's cached, until that
    session releases them itself."""
    from creek_spark.operators import cachereg

    def cached(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    def activate(session):  # createDataFrame makes its session the active one
        return session.createDataFrame([(0,)], "a int")

    other = spark.newSession()
    try:
        theirs = cachereg.register_cache(activate(other).selectExpr("a + 1 AS b"))
        ours = cachereg.register_cache(activate(spark).selectExpr("a + 2 AS b"))
        assert theirs.count() == ours.count() == 1
        cachereg.release_caches()
        assert not cached(ours)
        assert cached(theirs)
        activate(other)
        cachereg.release_caches()
        assert not cached(theirs)
    finally:
        activate(spark)


def test_window_distribution_null_values_match_native(spark, tmp_path):
    """NULL values (and whole-NULL groups) must rank exactly as the
    native ntile/cume_dist/percent_rank windows rank them (NULL first) —
    the closed-form derivation joins base rows to the distinct-value
    summary null-safely (round-5 ADVICE follow-up)."""
    import os

    from pyspark.sql import Window

    import __spark_entry__ as em

    rows = [
        (1, "a", 1.0),
        (2, "a", None),
        (3, "a", 2.0),
        (4, "b", None),
        (5, "b", None),
        (6, "a", 1.0),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    fn = em._catalog()["window_distribution"].fn
    got = {
        r["event_id"]: (r["quartile"], round(r["cume_d"], 9), round(r["pct_rank"], 9))
        for r in fn(spark, d).collect()
    }
    w = Window.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
    wv = Window.partitionBy("event_type").orderBy(F.col("value"))
    native = df.select(
        "event_id",
        F.ntile(4).over(w).alias("q"),
        F.cume_dist().over(wv).alias("cd"),
        F.percent_rank().over(wv).alias("pr"),
    )
    want = {
        r["event_id"]: (r["q"], round(r["cd"], 9), round(r["pr"], 9))
        for r in native.collect()
    }
    assert len(got) == len(rows)  # no NULL row silently dropped
    assert got == want


def test_rank_pick_sql_plan_identity(spark):
    """The round-13 rank_pick spells its summary pipeline as single-parse
    SQL strings (one py4j round trip each) instead of per-node Column
    trees — this gate pins the claim that both forms analyze to the SAME
    physical plan: an in-test copy of the Column-API form must produce a
    formatted plan byte-identical to the shipped form's, modulo
    expression IDs.  Covers multi-rank + multi-part-col (the customer_rfm
    shape) so every interpolated fragment is exercised."""
    import re

    from pyspark.sql import Window

    from creek_spark.operators.distributed import const_partition, rank_pick

    rows = [
        ("a", i % 4, float(i % 7), i) for i in range(40)
    ] + [("b", i % 3, float(i % 5), 100 + i) for i in range(30)]
    df = spark.createDataFrame(rows, "dim string, grp int, sv double, tid int")
    part_cols = ["dim", "grp"]
    sort_col, tie_col = F.col("sv"), F.col("tid")
    bucket_col = F.floor(F.col("sv") * 4).cast("bigint")
    ranks_fn = lambda n: [  # noqa: E731
        F.floor((F.lit(s) * n + F.lit(4)) / F.lit(5)).cast("bigint")
        for s in (1, 3)
    ]

    def column_api_ref():
        # the pre-round-13 Column-API form, verbatim
        G = "_g"
        gcols = [*part_cols, G]
        work = df.select(
            "*",
            (const_partition(sort_col) + F.lit(1)).alias(G),
            sort_col.alias("_sv"),
            tie_col.alias("_tv"),
            bucket_col.alias("_bkt"),
        )
        b1 = work.groupBy(*gcols, "_bkt").agg(F.count(F.lit(1)).alias("_cnt"))
        wc = (
            Window.partitionBy(*[F.col(c) for c in gcols])
            .orderBy(F.col("_bkt"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c1 = b1.withColumn("_cum", F.sum("_cnt").over(wc))
        wn = Window.partitionBy(*[F.col(c) for c in gcols])
        tb = (
            c1.withColumn("_n", F.max("_cum").over(wn))
            .select(
                *gcols, "_bkt", "_cnt", "_cum",
                F.posexplode(F.array(*ranks_fn(F.col("_n")))).alias("_ki", "_k"),
            )
            .where(
                (F.col("_cum") >= F.col("_k"))
                & (F.col("_cum") - F.col("_cnt") < F.col("_k"))
            )
            .select(
                *gcols, "_ki", "_k", "_bkt",
                (F.col("_cum") - F.col("_cnt")).alias("_off"),
            )
        )
        lvl2 = work.join(F.broadcast(tb), [*gcols, "_bkt"])
        d2 = lvl2.groupBy(
            *gcols, "_bkt", "_ki", "_k", "_off", "_sv", "_tv"
        ).agg(F.count(F.lit(1)).alias("_cnt2"))
        w2 = (
            Window.partitionBy(
                *[F.col(c) for c in gcols], F.col("_bkt"), F.col("_ki")
            )
            .orderBy("_sv", "_tv")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c2 = d2.withColumn("_cum2", F.sum("_cnt2").over(w2))
        return c2.where(
            (F.col("_off") + F.col("_cum2") >= F.col("_k"))
            & (F.col("_off") + F.col("_cum2") - F.col("_cnt2") < F.col("_k"))
        ).select(
            *part_cols, "_ki", "_k",
            F.col("_sv").alias("_pick_v"),
            F.col("_tv").alias("_pick_t"),
        )

    def plan(d):
        jvm = spark.sparkContext._jvm
        p = jvm.PythonSQLUtils.explainString(
            d._jdf.queryExecution(), "formatted"
        )
        return re.sub(r"#\d+L?", "", re.sub(r"plan_id=\d+", "", p))

    got = rank_pick(df, part_cols, sort_col, tie_col, bucket_col, ranks_fn)
    assert plan(got) == plan(column_api_ref())
    # and the picks themselves agree (belt over the plan suspenders)
    key = lambda d: sorted(  # noqa: E731
        (r["dim"], r["grp"], r["_ki"], r["_k"], r["_pick_v"], r["_pick_t"])
        for r in d.collect()
    )
    assert key(got) == key(column_api_ref())
