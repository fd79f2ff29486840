"""Part-9 catalog operators: OLS trend, activity streaks, multi-touch
attribution, order cadence, A/B mean test.

Per house convention each gets (a) a semantic property test against an
independent numpy/pandas formulation, (b) invariants, and (c) a
physical-plan scale gate.  Oracle parity is covered catalog-wide by
test_oracle_parity.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
from pyspark.sql import functions as F

from creek_spark.plans import explain_str
from creek_spark.sources import read_table
from tests.conftest import SF_DIR


def _catalog():
    import __spark_entry__ as entrymod

    return entrymod._catalog()


# ------------------------------------------------------------ OLS trend


def test_linear_trend_matches_numpy(spark):
    """slope/intercept/r2 equal numpy's closed-form OLS on the daily
    series (to float tolerance; the catalog values are exact-integer
    arithmetic so the match is tight)."""
    df = _catalog()["ts_linear_trend"].fn(spark, SF_DIR)
    out = {r["event_type"]: r for r in df.collect()}
    ev = (
        read_table(spark, SF_DIR, "events")
        .select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.col("value").cast("double").alias("v"),
        )
        .toPandas()
    )
    daily = ev.groupby(["event_type", "day"])["v"].sum()
    for et, series in daily.groupby(level=0):
        days = series.index.get_level_values("day")
        x = (days - np.datetime64("2024-01-01")).days.to_numpy(dtype=float)
        y = np.round(series.to_numpy() * 100) / 100.0  # cents-exact
        n = len(x)
        sl, ic = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        row = out[et]
        assert row["n_days"] == n
        assert abs(row["slope_per_day"] - sl) < 1e-6 * max(1.0, abs(sl))
        assert abs(row["intercept"] - ic) < 1e-6 * max(1.0, abs(ic))
        assert abs(row["r2"] - r * r) < 1e-9


def test_linear_trend_single_pass_no_window(spark):
    df = _catalog()["ts_linear_trend"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan  # tree + detail = 1 scan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert "partial_" in plan, plan  # map-side combine


# -------------------------------------------------------------- streaks


def test_streaks_partition_distinct_days(spark):
    """Streaks tile each user's active-day set exactly: lengths sum to
    the distinct-day count, spans are consistent, and consecutive
    streaks are separated by at least one missing day."""
    df = _catalog()["events_active_streaks"].fn(spark, SF_DIR).collect()
    ev = read_table(spark, SF_DIR, "events")
    n_days = ev.select("user_id", F.date_trunc("day", "ts")).distinct().count()
    assert sum(r["streak_days"] for r in df) == n_days
    by_user: dict[int, list] = {}
    for r in df:
        span = (r["streak_end"] - r["streak_start"]).days + 1
        assert span == r["streak_days"], r
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        rows.sort(key=lambda r: r["streak_start"])
        for a, b in zip(rows, rows[1:]):
            gap = (b["streak_start"] - a["streak_end"]).days
            assert gap >= 2, (a, b)  # gap==1 would mean mergeable streaks


def test_streaks_windows_user_keyed(spark):
    df = _catalog()["events_active_streaks"].fn(spark, SF_DIR)
    plan = explain_str(df)
    for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec == "user_id", plan


# ---------------------------------------------------------- attribution


def test_attribution_credit_conservation(spark):
    """Every attributed conversion hands out exactly one first touch,
    one last touch, and (up to integer-division dust) one unit of linear
    credit."""
    df = {r["channel"]: r for r in
          _catalog()["events_attribution"].fn(spark, SF_DIR).collect()}
    ev = read_table(spark, SF_DIR, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    touch = ev.where(F.col("event_type").isin("click", "view", "signup"))
    attributed = (
        touch.join(
            conv,
            (touch.user_id == F.col("cu"))
            & (touch.ts < F.col("cts"))
            & (touch.ts >= F.col("cts") - F.expr("INTERVAL 7 DAYS")),
        )
        .select("conv_id")
        .distinct()
        .count()
    )
    assert sum(r["first_touch"] for r in df.values()) == attributed
    assert sum(r["last_touch"] for r in df.values()) == attributed
    total_credit = sum(r["linear_credit"] for r in df.values())
    # each conversion contributes n·(1e6 div n)/1e6 ∈ (1 − n/1e6, 1]
    assert attributed - 0.05 < total_credit <= attributed + 1e-9


def test_attribution_brute_force(spark):
    """Channel totals equal a pandas reimplementation."""
    df = {r["channel"]: r for r in
          _catalog()["events_attribution"].fn(spark, SF_DIR).collect()}
    ev = read_table(spark, SF_DIR, "events").toPandas()
    purch = ev[ev.event_type == "purchase"]
    touches = ev[ev.event_type.isin(["click", "view", "signup"])]
    agg = {c: [0, 0, 0, 0] for c in ("click", "view", "signup")}
    for _, cv in purch.iterrows():
        cand = touches[
            (touches.user_id == cv.user_id)
            & (touches.ts < cv.ts)
            & (touches.ts >= cv.ts - np.timedelta64(7, "D"))
        ].sort_values(["ts", "event_id"])
        n = len(cand)
        if n == 0:
            continue
        for pos, (_, t) in enumerate(cand.iterrows()):
            a = agg[t.event_type]
            a[0] += 1
            a[1] += 1 if pos == 0 else 0
            a[2] += 1 if pos == n - 1 else 0
            a[3] += 1_000_000 // n
    for c, (touches_n, first, last, credit) in agg.items():
        r = df[c]
        assert r["touches"] == touches_n
        assert r["first_touch"] == first
        assert r["last_touch"] == last
        assert abs(r["linear_credit"] - credit / 1e6) < 1e-12


def test_attribution_windows_conversion_keyed(spark):
    df = _catalog()["events_attribution"].fn(spark, SF_DIR)
    plan = explain_str(df)
    for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec == "conv_id", plan
    # the touch-conversion join must be an equi-join on user, not a
    # nested-loop over the cross product
    assert "BroadcastNestedLoopJoin" not in plan, plan


# -------------------------------------------------------- interarrival


def test_interarrival_brute_force(spark):
    df = {r["custkey"]: r for r in
          _catalog()["orders_interarrival"].fn(spark, SF_DIR).collect()}
    o = read_table(spark, SF_DIR, "orders").toPandas()
    seen = 0
    for ck, g in o.groupby("o_custkey"):
        g = g.sort_values(["o_orderdate", "o_orderkey"])
        d = g.o_orderdate.to_numpy()
        if len(d) < 2:
            assert ck not in df
            continue
        gaps = np.diff(d).astype("timedelta64[D]").astype(int)
        seen += 1
        r = df[ck]
        assert r["n_gaps"] == len(gaps)
        assert abs(r["mean_gap_days"] - gaps.mean()) < 1e-9
        lower_median = np.sort(gaps)[(len(gaps) + 1) // 2 - 1]
        assert r["median_gap_days"] == lower_median
    assert seen == len(df)


def test_interarrival_single_custkey_exchange(spark):
    """Both windows and the final agg share the custkey partitioning —
    exactly one hash exchange of orders-sized data."""
    df = _catalog()["orders_interarrival"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan
    n_hash = len(re.findall(r"Arguments: hashpartitioning\(", plan))
    assert n_hash == 1, plan
    assert re.search(r"Arguments: hashpartitioning\(c#", plan), plan


# -------------------------------------------------------------- A/B test


def test_ab_test_matches_numpy(spark):
    row = _catalog()["events_ab_test"].fn(spark, SF_DIR).collect()[0]
    ev = read_table(spark, SF_DIR, "events").toPandas()
    p = ev[ev.event_type == "purchase"]
    cents = (
        (p.value.map(lambda v: round(v * 100))).groupby(p.user_id).sum()
    )
    arms = np.array(
        [
            "A"
            if hashlib.md5(f"ab{uid}".encode()).hexdigest()[0] < "8"
            else "B"
            for uid in cents.index
        ]
    )
    a = cents.to_numpy()[arms == "A"]
    b = cents.to_numpy()[arms == "B"]
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert abs(row["mean_a"] - a.mean() / 100) < 1e-9
    assert abs(row["mean_b"] - b.mean() / 100) < 1e-9
    va, vb = a.var(ddof=1), b.var(ddof=1)
    z = (a.mean() - b.mean()) / np.sqrt(va / len(a) + vb / len(b))
    assert abs(row["welch_z"] - z) < 1e-9


def test_ab_test_deterministic_rerun(spark):
    """Two evaluations produce bit-identical floats (exact sums feed a
    fixed-order IEEE chain — nothing depends on partitioning or task
    order)."""
    cat = _catalog()
    r1 = cat["events_ab_test"].fn(spark, SF_DIR).collect()[0]
    r2 = cat["events_ab_test"].fn(spark, SF_DIR).collect()[0]
    assert r1 == r2
    assert r1["n_a"] + r1["n_b"] > 0


# ------------------------------------------------------- ship latency


def test_ship_latency_brute_force(spark):
    df = {r["suppkey"]: r for r in
          _catalog()["supplier_ship_latency"].fn(spark, SF_DIR).collect()}
    li = read_table(spark, SF_DIR, "lineitem").toPandas()
    o = read_table(spark, SF_DIR, "orders").toPandas()
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    import pandas as pd

    ship = pd.to_datetime(j.l_shipdate).dt.normalize()
    od = pd.to_datetime(j.o_orderdate).dt.normalize()
    j["lat"] = (ship - od).dt.days
    import math

    for sk, g in j.groupby("l_suppkey"):
        g = g.sort_values(["lat", "l_orderkey", "l_linenumber"])
        lats = g.lat.to_numpy()
        n = len(lats)
        r = df[sk]
        assert r["n_shipments"] == n
        assert abs(r["mean_latency_days"] - lats.mean()) < 1e-9
        assert r["p90_latency_days"] == lats[math.ceil(0.9 * n) - 1]
        assert abs(r["late_rate"] - (lats > 30).mean()) < 1e-12


def test_ship_latency_supplier_keyed_windows(spark):
    df = _catalog()["supplier_ship_latency"].fn(spark, SF_DIR)
    plan = explain_str(df)
    for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
        assert spec == "sk", plan
    # orders side broadcast at this scale (size-gated hint)
    assert "BroadcastHashJoin" in plan, plan


# -------------------------------------------------------- readability


def test_readability_brute_force(spark):
    rows = _catalog()["text_readability"].fn(spark, SF_DIR).collect()
    docs = {r["doc_id"]: r["text"] for r in
            read_table(spark, SF_DIR, "documents").collect()}
    import re as _re

    for r in rows:
        t = docs[r["doc_id"]]
        norm = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        c = len(norm.replace(" ", ""))
        w = len(norm.split(" ")) if norm else 1  # split('') edge
        s = max(sum(t.count(x) for x in ".!?"), 1)
        assert r["n_chars_alnum"] == c, (r, c)
        assert r["n_words"] == w, (r, w)
        assert r["n_sentences"] == s, (r, s)
        ari = 4.71 * (c / w) + 0.5 * (w / s) - 21.43
        assert abs(r["ari"] - ari) < 1e-9
        want = (
            "easy" if r["ari"] < 6.0
            else "medium" if r["ari"] < 10.0
            else "hard" if r["ari"] < 14.0
            else "very_hard"
        )
        assert r["ari_class"] == want


def test_readability_shuffle_free(spark):
    """A row-wise classifier must plan as scan → project, zero exchanges
    of any kind."""
    df = _catalog()["text_readability"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "Arguments: hashpartitioning" not in plan, plan
    assert "Exchange" not in plan, plan
    assert plan.count("Scan parquet") == 2, plan


# ------------------------------------------------------------- triples


def test_basket_triples_brute_force(spark):
    from collections import Counter
    from itertools import combinations

    got = {
        (r["p1"], r["p2"], r["p3"]): r["support"]
        for r in _catalog()["basket_triples"].fn(spark, SF_DIR).collect()
    }
    li = read_table(spark, SF_DIR, "lineitem").toPandas()
    support = Counter()
    for _, g in li.groupby("l_orderkey"):
        parts = sorted(set(g.l_partkey))
        for tri in combinations(parts, 3):
            support[tri] += 1
    want = {t: c for t, c in support.items() if c >= 2}
    assert got == want
    assert len(got) > 0  # non-vacuous at sf0.001 (94 triples)


def test_basket_triples_prune_is_broadcast(spark):
    """The Apriori part-prune must ride broadcast semi-joins, never a
    shuffled semi."""
    df = _catalog()["basket_triples"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "LeftSemi, BuildRight" in plan or "BroadcastHashJoin" in plan, plan


# ------------------------------------------------------- cross-source


def test_cross_source_counts_match_pairs(spark):
    """Matrix cells sum to the candidate-pair count; each cell equals a
    direct recount from the pair list; sources are canonically ordered."""
    from creek_spark.operators import dedup as dd
    from creek_spark.query_parts import BANDS, N_HASHES, SHINGLE_K

    cells = _catalog()["dedup_cross_source"].fn(spark, SF_DIR).collect()
    docs = read_table(spark, SF_DIR, "documents")
    pairs = dd.minhash_lsh_candidates(
        docs, "text", "doc_id",
        n_hashes=N_HASHES, bands=BANDS, shingle_k=SHINGLE_K,
    ).collect()
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    from collections import Counter

    want = Counter()
    for p in pairs:
        a, b = src[p["doc_a"]], src[p["doc_b"]]
        want[(min(a, b), max(a, b))] += 1
    got = {(r["source_a"], r["source_b"]): r["n_pairs"] for r in cells}
    assert got == dict(want)
    for (a, b) in got:
        assert a <= b


# ---------------------------------------------------- migration matrix


def test_migration_matrix_partitions_customers(spark):
    """Cells sum to |customer|; segments respect the thresholds on a
    pandas recount."""
    rows = _catalog()["customer_migration_matrix"].fn(spark, SF_DIR).collect()
    cu = read_table(spark, SF_DIR, "customer")
    o = read_table(spark, SF_DIR, "orders").toPandas()
    assert sum(r["n_customers"] for r in rows) == cu.count()
    import pandas as pd

    split = pd.Timestamp("1998-05-01")
    od = pd.to_datetime(o.o_orderdate)
    n1 = o[od < split].groupby("o_custkey").size()
    n2 = o[od >= split].groupby("o_custkey").size()

    def seg(n):
        return "none" if n == 0 else ("low" if n <= 2 else ("mid" if n <= 5 else "high"))

    from collections import Counter

    want = Counter()
    for ck in [r["c_custkey"] for r in cu.select("c_custkey").collect()]:
        want[(seg(int(n1.get(ck, 0))), seg(int(n2.get(ck, 0))))] += 1
    got = {(r["seg_before"], r["seg_after"]): r["n_customers"] for r in rows}
    assert got == dict(want)


# ----------------------------------------------------------- char gini


def test_char_gini_brute_force(spark):
    import re as _re
    from collections import Counter

    rows = {r["doc_id"]: r for r in
            _catalog()["text_char_gini"].fn(spark, SF_DIR).collect()}
    docs = read_table(spark, SF_DIR, "documents").collect()
    n_nonempty = 0
    for d in docs:
        s = _re.sub(r"[^a-z0-9]+", " ", d["text"].lower()).strip().replace(" ", "")
        if not s:
            assert d["doc_id"] not in rows
            continue
        n_nonempty += 1
        c = Counter(s)
        r = rows[d["doc_id"]]
        assert r["n_chars"] == len(s)
        assert r["n_distinct_chars"] == len(c)
        s2 = sum(v * v for v in c.values())
        gini = (len(s) ** 2 - s2) / len(s) ** 2
        assert abs(r["char_gini"] - gini) < 1e-12
        assert 0.0 <= r["char_gini"] < 1.0
    assert n_nonempty == len(rows)


def test_char_gini_two_hash_aggs_no_window(spark):
    df = _catalog()["text_char_gini"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 2, plan


# -------------------------------------------------------------- DAU/WAU


def test_dau_wau_brute_force(spark):
    import pandas as pd

    rows = {r["day"]: r for r in
            _catalog()["events_dau_wau"].fn(spark, SF_DIR).collect()}
    ev = read_table(spark, SF_DIR, "events").toPandas()
    ev["day"] = pd.to_datetime(ev.ts).dt.normalize()
    act = ev[["user_id", "day"]].drop_duplicates()
    days = sorted(act.day.unique())
    assert len(rows) == len(days)
    for d in days:
        dau = act[act.day == d].user_id.nunique()
        lo = d - pd.Timedelta(days=6)
        wau = act[(act.day >= lo) & (act.day <= d)].user_id.nunique()
        r = rows[pd.Timestamp(d).to_pydatetime()]
        assert r["dau"] == dau and r["wau"] == wau
        assert abs(r["stickiness"] - dau / wau) < 1e-12
        assert r["dau"] <= r["wau"]


def test_dau_wau_no_range_join(spark):
    """The WAU side must be the explode shape: no range-predicate join
    of activity against the day list (broadcast semi on equality only)."""
    df = _catalog()["events_dau_wau"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "explode" in plan, plan


# --------------------------------------------------------------- p-chart


def test_pchart_brute_force(spark):
    import math

    import pandas as pd

    rows = {r["bucket"]: r for r in
            _catalog()["ts_error_pchart"].fn(spark, SF_DIR).collect()}
    ev = read_table(spark, SF_DIR, "events").toPandas()
    ev["bucket"] = pd.to_datetime(ev.ts).dt.floor("h")
    g = ev.groupby("bucket")
    tn = len(ev)
    te = int((ev.event_type == "error").sum())
    pbar = te / tn
    flagged = 0
    for b, grp in g:
        n = len(grp)
        e = int((grp.event_type == "error").sum())
        r = rows[pd.Timestamp(b).to_pydatetime()]
        assert r["n_events"] == n and r["n_errors"] == e
        sig = math.sqrt(pbar * (1.0 - pbar) / n)
        assert abs(r["ucl"] - (pbar + 3 * sig)) < 1e-12
        assert abs(r["lcl"] - max(pbar - 3 * sig, 0.0)) < 1e-12
        want = (e / n) > pbar + 3 * sig or (e / n) < max(pbar - 3 * sig, 0.0)
        assert bool(r["out_of_control"]) == want
        flagged += int(want)
    assert len(rows) == len(g)


def test_pchart_single_scan_summary_window(spark):
    """One corpus scan; the grand-total fold is a window over the
    hourly SUMMARY (a crossJoin-with-agg would plan a second scan)."""
    df = _catalog()["ts_error_pchart"].fn(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Scan parquet") == 2, plan  # one corpus scan
    assert "BroadcastNestedLoopJoin" not in plan, plan
