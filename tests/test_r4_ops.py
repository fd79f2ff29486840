"""Round-4 additions: BM25 retrieval, mergeable histogram quantiles,
incremental MV maintenance, z-score anomalies.

The catalog rows prove oracle parity; these tests prove the OPERATOR
properties the oracles can't state — incremental == full at row level,
tier-merge exactness, plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from creek_spark.operators.cdc import incremental_latest_state, latest_state
from creek_spark.operators.sketches import histogram_quantiles, histogram_sketch
from creek_spark.operators.text import bm25_topk
from creek_spark.query_parts import events_envelope
from creek_spark.sources import read_table


def test_incremental_state_equals_full_recompute(spark, sf_dir):
    """Row-level equality, not just the aggregated MV: for several split
    points (empty batch, mid-stream, everything-in-batch) the maintained
    state is identical to a one-shot latest_state."""
    env = events_envelope(read_table(spark, sf_dir, "events"))
    full = latest_state(env, ["user_id"], handle_toast=False)
    full_rows = sorted(map(tuple, full.collect()))
    for split in (0, 800, 10**9):
        inc = incremental_latest_state(
            env, split, key_cols=["user_id"], handle_toast=False
        )
        assert sorted(map(tuple, inc.collect())) == full_rows, split


def test_incremental_state_carries_untouched_rows(spark):
    """The carried leg must actually fire AND be correct: a key whose
    last change precedes the split must survive untouched, including a
    key the batch deletes and one it updates."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # (event_id, user_id, event_type, value) — user 10 untouched by batch
        (1, 10, "view", 1.0),
        (2, 20, "view", 2.0),
        (3, 30, "view", 3.0),
        # batch (> split=3): update 20, delete 30
        (4, 20, "click", 4.0),
        (5, 30, "error", 5.0),
    ]
    ev = spark.createDataFrame(
        [(i, t0, u, et, v, "{}") for i, u, et, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    env = events_envelope(ev)
    inc = incremental_latest_state(env, 3, key_cols=["user_id"], handle_toast=False)
    got = {r["user_id"]: r["event_type"] for r in inc.collect()}
    assert got == {10: "view", 20: "click"}


def test_histogram_tier_merge_is_exact(spark, sf_dir):
    """Quantiles from hour-tier rollups == quantiles from one global
    histogram — the merge-exactness that makes this sketch deterministic."""
    ev = read_table(spark, sf_dir, "events")
    by_hour = histogram_sketch(
        ev, "value", bin_width=5.0, group_cols=["event_type"], bucket="hour"
    )
    by_day = histogram_sketch(
        ev, "value", bin_width=5.0, group_cols=["event_type"], bucket="day"
    )
    q_hour = histogram_quantiles(
        by_hour, [0.5, 0.99], bin_width=5.0, group_cols=["event_type"]
    )
    q_day = histogram_quantiles(
        by_day, [0.5, 0.99], bin_width=5.0, group_cols=["event_type"]
    )
    assert sorted(map(tuple, q_hour.collect())) == sorted(
        map(tuple, q_day.collect())
    )


def test_histogram_quantile_bounds(spark, sf_dir):
    """Estimates bracket the exact quantiles within one bin width."""
    ev = read_table(spark, sf_dir, "events")
    hist = histogram_sketch(ev, "value", bin_width=5.0, group_cols=["event_type"])
    q = histogram_quantiles(
        hist, [0.5], bin_width=5.0, group_cols=["event_type"]
    ).collect()
    exact = {
        r["event_type"]: r["p50"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p50"))
        .collect()
    }
    for row in q:
        est = row["p50_est"]
        assert abs(est - exact[row["event_type"]]) <= 5.0 + 1e-9, row


def test_bm25_ranking_and_plan(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, "text", "doc_id", ["spark", "vector"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # stats and df sides must broadcast; ranking must be TakeOrdered
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    rows = out.collect()
    assert 0 < len(rows) <= 5
    scores = [r["score_i"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_bm25_rare_term_outranks_common_idf(spark, sf_dir):
    """A document matching a rarer term scores above one matching an
    equally-frequent common term — the idf property, preserved by the
    rational variant."""
    data = spark.createDataFrame(
        [
            (1, "rareword common filler filler"),
            (2, "common common filler filler"),
            (3, "common filler pad pad"),
            (4, "filler pad pad pad"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["score_i"]
        for r in bm25_topk(data, "text", "doc_id", ["rareword", "common"], k=4).collect()
    }
    assert out[1] > out[2]


def _brute_overlap(lrows, rrows):
    out = set()
    for lk, llo, lhi in lrows:
        for rk, rlo, rhi in rrows:
            if lk == rk and llo <= rhi and rlo <= lhi:
                out.add((lk, llo, lhi, rlo, rhi))
    return out


def test_interval_overlap_exactly_once_vs_brute_force(spark):
    """Multi-cell spanning intervals: each qualifying pair appears
    EXACTLY once (first-shared-cell rule), matching brute force."""
    import datetime

    from creek_spark.operators.intervals import interval_overlap_join

    t = lambda h, m=0: datetime.datetime(2024, 1, 1, h, m)
    lrows = [
        (1, t(0), t(13)),   # spans many 1h cells
        (1, t(5), t(5, 30)),
        (2, t(3), t(4)),
    ]
    rrows = [
        (1, t(2), t(11)),   # overlaps both user-1 intervals, shares many cells
        (1, t(12, 30), t(14)),
        (2, t(5), t(6)),    # no overlap with (2, 3-4)? touches at no point
    ]
    left = spark.createDataFrame(lrows, "k long, llo timestamp, lhi timestamp")
    right = spark.createDataFrame(rrows, "k long, rlo timestamp, rhi timestamp")
    got = interval_overlap_join(
        left, right, ["k"], left_bounds=("llo", "lhi"),
        right_bounds=("rlo", "rhi"), cell_seconds=3600,
    ).collect()
    got_set = {(r["k"], r["llo"], r["lhi"], r["rlo"], r["rhi"]) for r in got}
    assert len(got) == len(got_set), "duplicate pairs emitted"
    assert got_set == _brute_overlap(lrows, rrows)


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """The plan must be an equi join on (keys, cell) — cell binning
    exists precisely to avoid a per-key nested loop."""
    from creek_spark.operators.intervals import interval_overlap_join

    ev = read_table(spark, sf_dir, "events")
    mk = lambda et, b: (
        ev.where(F.col("event_type") == et)
        .groupBy("user_id", F.date_trunc(b, F.col("ts")).alias("_b"))
        .agg(F.min("ts").alias(f"{et}_lo"), F.max("ts").alias(f"{et}_hi"))
        .drop("_b")
    )
    out = interval_overlap_join(
        mk("view", "day"), mk("click", "hour"), ["user_id"],
        left_bounds=("view_lo", "view_hi"),
        right_bounds=("click_lo", "click_hi"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_rejects_ambiguous_columns(spark):
    import pytest

    from creek_spark.operators.intervals import interval_overlap_join

    df = spark.createDataFrame(
        [(1, None, None)], "k long, lo timestamp, hi timestamp"
    )
    with pytest.raises(ValueError, match="ambiguous"):
        interval_overlap_join(
            df, df, ["k"], left_bounds=("lo", "hi"), right_bounds=("lo", "hi")
        )


def test_interval_overlap_property_random(spark):
    """Property check against brute force over randomized interval sets
    (deterministic seed — Spark session fixtures don't mix with
    hypothesis' per-example reruns, so this is a seeded sweep)."""
    import datetime
    import random

    from creek_spark.operators.intervals import interval_overlap_join

    rng = random.Random(20240814)
    base = datetime.datetime(2024, 1, 1)
    for trial in range(5):
        mk = lambda: [
            (
                rng.randint(1, 4),
                base + datetime.timedelta(minutes=(s := rng.randint(0, 5000))),
                base + datetime.timedelta(minutes=s + rng.randint(0, 900)),
            )
            for _ in range(rng.randint(1, 20))
        ]
        lrows, rrows = mk(), mk()
        left = spark.createDataFrame(lrows, "k long, llo timestamp, lhi timestamp")
        right = spark.createDataFrame(rrows, "k long, rlo timestamp, rhi timestamp")
        cell = rng.choice([600, 3600, 21600])
        got = interval_overlap_join(
            left, right, ["k"], left_bounds=("llo", "lhi"),
            right_bounds=("rlo", "rhi"), cell_seconds=cell,
        ).collect()
        got_set = {(r["k"], r["llo"], r["lhi"], r["rlo"], r["rhi"]) for r in got}
        assert len(got) == len(got_set), (trial, cell, "dup pairs")
        assert got_set == _brute_overlap(lrows, rrows), (trial, cell)


def test_cusum_prefix_form_equals_recursion(spark, sf_dir):
    """The prefix-sum rewrite must equal the textbook max(0,·) recursion:
    S⁺_t = C_t − min_{j≤t} C_j where C_t = Σ(x_i − μ − k).  Checked per
    event_type against a literal python recursion on the same data."""
    import __spark_entry__ as entrymod

    got = {
        r["event_id"]: (r["cusum_pos"], r["cusum_neg"])
        for r in entrymod._catalog()["ts_cusum_changepoints"]
        .fn(spark, sf_dir)
        .collect()
    }
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    by_type: dict[str, list] = {}
    for r in ev.collect():
        by_type.setdefault(r["event_type"], []).append(r)
    import math

    n_flagged = 0
    for rows in by_type.values():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        vals = [float(r["value"]) for r in rows]
        n = len(vals)
        mu = sum(vals) / n
        var = sum(v * v for v in vals) / n - mu * mu
        sig = math.sqrt(max(var, 1e-12))
        k, h = 0.5 * sig, 5 * sig
        sp = sn = 0.0
        for r, v in zip(rows, vals):
            sp = max(0.0, sp + (v - mu - k))
            sn = max(0.0, sn + (mu - k - v))
            flagged = r["event_id"] in got
            # float assoc noise between the two formulations is real;
            # compare with a tolerance far below the flag threshold
            if flagged:
                gp, gn = got[r["event_id"]]
                assert abs(gp - sp) < 1e-6 * max(1.0, abs(sp)), r
                assert abs(gn - sn) < 1e-6 * max(1.0, abs(sn)), r
                n_flagged += 1
            assert flagged == (max(sp, sn) > h) or abs(max(sp, sn) - h) < 1e-6
    assert n_flagged == len(got)


def test_lttb_centroid_no_bigint_overflow(spark, tmp_path):
    """Directed regression (round-4 advice): >5,400 events in one
    (type, day) bucket overflows a BIGINT sum of epoch-µs (~1.7e15
    each) — wrapping silently or throwing under ANSI.  The decimal(38,0)
    sum must survive and produce the exact centroid."""
    import datetime

    import __spark_entry__ as entrymod

    n = 6000
    base = datetime.datetime(2024, 6, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(seconds=i),
            1,
            "click",
            float(i % 97),
            "{}",
        )
        for i in range(n)
    ]
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pq.write_table(
        pa.Table.from_pandas(pdf), str(tmp_path / "events.parquet")
    )
    out = (
        entrymod._catalog()["ts_downsample_lttb"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    assert len(out) == 1  # one bucket → one representative point
    # sanity: the epoch-µs sum really exceeds int64 range
    total_us = sum(int((base + datetime.timedelta(seconds=i)).timestamp() * 1e6) for i in range(n))
    assert total_us > 2**63 - 1


def test_lttb_picks_max_area_point_per_bucket(spark, sf_dir):
    """Each selected point must subtend the maximum triangle area in its
    (type, day) bucket vs the neighbor-bucket centroids (brute force)."""
    import __spark_entry__ as entrymod

    sel = {
        (r["event_type"], r["event_id"]): r["area"]
        for r in entrymod._catalog()["ts_downsample_lttb"]
        .fn(spark, sf_dir)
        .collect()
    }
    ev = read_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id", "event_type", "value",
        F.date_trunc("day", "ts").alias("bkt"),
        F.unix_micros("ts").alias("x"),
    ).collect()
    from collections import defaultdict

    buckets = defaultdict(list)
    for r in pts:
        buckets[(r["event_type"], r["bkt"])].append(r)
    # centroids per bucket
    cent = {
        k: (sum(r["x"] for r in v) / len(v), sum(float(r["value"]) for r in v) / len(v))
        for k, v in buckets.items()
    }
    for (et, bkt), rows in buckets.items():
        days = sorted(b for e, b in buckets if e == et)
        i = days.index(bkt)
        px, py = cent[(et, days[i - 1])] if i > 0 else cent[(et, bkt)]
        nx, ny = cent[(et, days[i + 1])] if i + 1 < len(days) else cent[(et, bkt)]
        best = max(
            rows,
            key=lambda r: (
                abs((px - nx) * (float(r["value"]) - py) - (px - r["x"]) * (ny - py)),
                -r["event_id"],
            ),
        )
        assert (et, best["event_id"]) in sel, (et, bkt)


def test_incremental_scd2_equals_full_recompute(spark, sf_dir):
    """Row-level equality against a one-shot scd2_history for several
    split points — including the empty batch and everything-in-batch."""
    from creek_spark.operators.cdc import incremental_scd2, scd2_history

    env = events_envelope(read_table(spark, sf_dir, "events"))
    full = sorted(map(tuple, scd2_history(env, ["user_id"]).collect()))
    for split in (0, 800, 10**9):
        inc = incremental_scd2(env, split, key_cols=["user_id"])
        assert sorted(map(tuple, inc.collect())) == full, split


def test_banded_pairs_whale_customer_capped(spark):
    """Round-4 verdict task: a synthetic whale customer (200 orders in
    one $500 band within 30 days) must NOT explode quadratically — its
    cell is excluded from pair generation and reported in the audit
    frame, while normal customers' pairs are unaffected."""
    import datetime

    from creek_spark.operators.dedup import banded_record_pairs

    base = datetime.date(2024, 1, 1)
    rows = [
        # whale: 200 near-identical orders, all in band floor(1200/500)=2
        (1, i, 1200.0 + (i % 7), base + datetime.timedelta(days=i % 20))
        for i in range(200)
    ] + [
        # normal customer: two orders $100 apart, 5 days apart
        (2, 1000, 900.0, base),
        (2, 1001, 1000.0, base + datetime.timedelta(days=5)),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey bigint, o_orderkey bigint, o_totalprice double, o_orderdate date"
    )
    pairs, capped = banded_record_pairs(
        df, "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate",
        tol=500, days=30, max_band_rows=64,
    )
    got = pairs.collect()
    # whale cell suppressed entirely; the cross-band normal pair survives
    assert {(r["key"], r["id_a"], r["id_b"]) for r in got} == {(2, 1000, 1001)}
    audit = capped.collect()
    assert [(r["key"], r["n_rows"]) for r in audit] == [(1, 200)]
    # uncapped formulation would have produced the quadratic candidate set
    unc, _ = banded_record_pairs(
        df, "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate",
        tol=500, days=30, max_band_rows=None,
    )
    assert unc.count() == 200 * 199 // 2 + 1


def test_sessionize_brute_force_and_single_exchange(spark):
    """Session splitting matches a per-user brute force on a synthetic
    timeline (gaps straddling the 30-min threshold), and the whole
    query runs on ONE corpus exchange (the user_id sort; the session agg
    reuses the same partitioning — user_id ⊆ grouping keys)."""
    import datetime

    import __spark_entry__ as entrymod
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 5, 1)
    rows = []
    eid = 0
    # user 1: gaps 10m, exactly 30m (same session), 30m1s (new session)
    for off in [0, 600, 600 + 1800, 600 + 1800 + 1801]:
        rows.append((eid, base + datetime.timedelta(seconds=off), 1, "click", 1.0, "{}"))
        eid += 1
    # user 2: single event
    rows.append((eid, base, 2, "view", 2.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pq.write_table(pa.Table.from_pandas(pdf), f"{d}/events.parquet")
        q = entrymod._catalog()["events_sessionize"]
        out = q.fn(spark, d)
        got = {
            (r["user_id"], r["session_id"]): (r["n_events"], r["duration_secs"])
            for r in out.collect()
        }
        # user 1: [e0,e1,e2] one session (gaps 600s, 1800s == threshold),
        # then e3 alone (1801s > threshold)
        assert got == {
            (1, 1): (3, 600 + 1800),
            (1, 2): (1, 0),
            (2, 1): (1, 0),
        }
        plan = out._jdf.queryExecution().executedPlan().toString()
        # every exchange keys on user_id (+ session keys) — skew-free,
        # no low-cardinality or global repartition anywhere
        import re

        keys = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
        assert keys and all(k == "user_id" for k in keys), plan
