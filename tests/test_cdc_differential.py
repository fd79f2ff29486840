"""Differential CDC testing: random WAL scenarios applied two ways —
the in-memory interpreter of the reference's per-op rules
(tests/fixtures.interpret) vs the distributed `latest_state`
operator — must agree exactly.  Seeded RNG, so failures reproduce.

This catches interaction bugs single-path fixtures miss: truncate
between re-inserts, u_pk chains, deletes of never-inserted keys, TOAST
carries over multiple versions, duplicate delivery, arbitrary arrival
order (latest_state must be order-independent — events are shuffled
before they reach Spark)."""

from __future__ import annotations

import pytest

import random

from creek_spark.operators.cdc import latest_state
from tests.fixtures import ENV_SCHEMA, _lsn, interpret, wal_row


def _scenario(rng: random.Random, n_events: int):
    """One random WAL: unique LSNs, ops over a small key space, ~15%
    duplicate delivery, arrival order shuffled."""
    events = []  # (lsn, op, before, after, toast)
    keys = list(range(1, 5))
    fresh = 100
    for lsn in range(1, n_events + 1):
        roll = rng.random()
        k = rng.choice(keys)
        v = f"v{lsn}"
        if roll < 0.35:
            events.append((lsn, "c", None, (k, v), None))
        elif roll < 0.55:
            if rng.random() < 0.3:
                events.append((lsn, "u", (k,), (k, None), ["data"]))  # TOAST
            else:
                events.append((lsn, "u", (k,), (k, v), None))
        elif roll < 0.70:
            events.append((lsn, "d", (k,), None, None))
        elif roll < 0.85:
            new_k = fresh = fresh + 1
            keys.append(new_k)
            events.append((lsn, "u_pk", (k,), (new_k, v), None))
        else:
            events.append((lsn, "t", None, None, None))
    # at-least-once: redeliver ~15% of events verbatim
    events += [e for e in events if rng.random() < 0.15]
    rng.shuffle(events)  # arrival order must not matter
    return events


def _to_rows(events):
    return [
        wal_row(lsn, op, before=before, after=after, toast=toast)
        for lsn, op, before, after, toast in events
    ]


@pytest.mark.slow
def test_latest_state_matches_reference_interpreter(spark):
    rng = random.Random(42)
    for case in range(20):
        events = _scenario(rng, n_events=rng.randint(5, 30))
        expected, _ = interpret(events)
        df = spark.createDataFrame(_to_rows(events), schema=ENV_SCHEMA)
        got = {
            r["id"]: r["data"]
            for r in latest_state(df, ["id"]).select("id", "data").collect()
        }
        assert got == expected, f"case {case}: {sorted(events)[:8]}..."


def test_cdc_applier_matches_reference_interpreter(spark, tmp_path):
    """The bucketed incremental sink must converge to the interpreter's
    state when the same random WAL arrives split across micro-batches at
    random points (each batch = one availableNow pass over new files)."""
    from creek_spark.streaming import CdcApplier, read_envelope_stream

    rng = random.Random(7)
    for case in range(4):
        events = _scenario(rng, n_events=rng.randint(10, 25))
        expected, last = interpret(events)
        src = str(tmp_path / f"wal{case}")
        state_dir = str(tmp_path / f"state{case}")
        ckpt = str(tmp_path / f"ckpt{case}")
        applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)

        # split into 1-4 chronological chunks but keep each chunk's
        # internal arrival order shuffled (micro-batch boundaries are
        # arbitrary in time, yet files arrive roughly in commit order)
        ordered = sorted(events, key=lambda e: e[0])
        n_chunks = rng.randint(1, 4)
        bounds = sorted(rng.sample(range(1, len(ordered)), n_chunks - 1)) if n_chunks > 1 else []
        chunks, prev = [], 0
        for b in bounds + [len(ordered)]:
            chunk = ordered[prev:b]
            rng.shuffle(chunk)
            chunks.append(chunk)
            prev = b
        for chunk in chunks:
            if not chunk:
                continue
            spark.createDataFrame(
                _to_rows(chunk), schema=ENV_SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
            q = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
            q.awaitTermination(120)

        got, got_lsn = {}, {}
        st = applier.current_state()
        if st is not None:
            for r in st.select("id", "data", "_creek_lsn").collect():
                got[r["id"]] = r["data"]
                got_lsn[r["id"]] = r["_creek_lsn"]
        assert got == expected, f"case {case}"
        # each key re-enters the next merge at its winning change's LSN
        assert got_lsn == {k: _lsn(v) for k, v in last.items()}, f"case {case}"


@pytest.mark.slow
def test_incremental_scd2_matches_full_on_random_scenarios(spark):
    """incremental_scd2's carry/replay split must be invisible: for
    random WALs (u_pk chains, dups, shuffled arrival) and random split
    points, the maintained history equals a one-shot scd2_history.
    Truncate-in-batch scenarios are excluded per the documented
    limitation (callers full-recompute those batches)."""
    from creek_spark.operators.cdc import incremental_scd2, scd2_history

    rng = random.Random(11)
    done = 0
    while done < 12:
        events = _scenario(rng, n_events=rng.randint(6, 28))
        split = rng.randint(0, 30)
        if any(op == "t" and lsn > split for lsn, op, *_ in events):
            continue
        done += 1
        df = spark.createDataFrame(_to_rows(events), schema=ENV_SCHEMA)
        key = lambda rows: sorted((tuple(map(repr, r)) for r in rows))
        full = key(scd2_history(df, ["id"]).collect())
        inc = key(incremental_scd2(df, split, key_cols=["id"]).collect())
        assert inc == full, (split, sorted(events)[:6])


def _assert_inc_eq_full(spark, events, split):
    """Both incremental operators must equal their one-shot twins for
    the given WAL and split point."""
    from creek_spark.operators.cdc import (
        incremental_latest_state,
        incremental_scd2,
        latest_state,
        scd2_history,
    )

    df = spark.createDataFrame(_to_rows(events), schema=ENV_SCHEMA)
    key = lambda rows: sorted(tuple(map(repr, r)) for r in rows)
    assert key(incremental_scd2(df, split, key_cols=["id"]).collect()) == key(
        scd2_history(df, ["id"]).collect()
    ), f"scd2 split={split}"
    assert key(
        incremental_latest_state(df, split, key_cols=["id"]).collect()
    ) == key(latest_state(df, ["id"]).collect()), f"latest split={split}"


@pytest.mark.slow
def test_incremental_upk_in_batch_touches_old_key(spark):
    """Directed regression (round-4 advice): a batch u_pk must mark its
    OLD key touched — prior c(k=1) + batch u_pk 1→200 at split=1.
    Without pre-split expand_ops the old key's open interval/live row is
    carried while the replay leg separately emits the delete."""
    events = [
        (1, "c", None, (1, "a"), None),
        (2, "u_pk", (1,), (200, "b"), None),
    ]
    _assert_inc_eq_full(spark, events, split=1)


@pytest.mark.slow
def test_incremental_prior_upk_replayed_via_new_key(spark):
    """Directed regression (round-4 advice): a PRIOR u_pk pulled into the
    replay leg via its NEW key must not re-emit the old key's delete row
    (duplicating carried history): c(5), u_pk 5→6, then a batch update
    of key 6 at split=2."""
    events = [
        (1, "c", None, (5, "a"), None),
        (2, "u_pk", (5,), (6, "b"), None),
        (3, "u", (6,), (6, "c"), None),
    ]
    _assert_inc_eq_full(spark, events, split=2)


@pytest.mark.slow
def test_incremental_upk_chain_across_split(spark):
    """u_pk chain 1→2 (prior) then 2→3 (batch): old key 2's history must
    be replayed, key 1's delete carried exactly once, and the final state
    contain only key 3."""
    events = [
        (1, "c", None, (1, "a"), None),
        (2, "u_pk", (1,), (2, "b"), None),
        (3, "u_pk", (2,), (3, "c"), None),
        (4, "u", (3,), (3, "d"), None),
    ]
    for split in (0, 1, 2, 3, 4):
        _assert_inc_eq_full(spark, events, split=split)
