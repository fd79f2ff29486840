"""The benchmark's reference interpreter (perfbench/wal.interpret) must
agree with the test suite's (tests/fixtures.interpret) on every
truncate-free change log — the benchmark stays standalone, so this pin
is what keeps its output check honest.

fixtures.interpret models one value column whose TOAST-unchanged update
keeps the stored value; perfbench rows carry (name, amount, updated_at)
and only ``name`` can be TOAST-unchanged.  So each log is interpreted
twice by fixtures: once carrying ``name`` (with the TOAST marks), once
carrying (amount, updated_at) (never TOAST-unchanged)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from perfbench import wal
from tests.fixtures import interpret


def _fixture_events(changes, initial: dict, pick, toast: bool) -> list[tuple]:
    """(lsn, op, before, after, toast) events of ``initial`` (as 'r' rows
    below every change LSN) followed by ``changes``, each row's value
    reduced by ``pick``."""
    events = [(i + 1, "r", None, (k, pick(v)), None)
              for i, (k, v) in enumerate(sorted(initial.items()))]
    for ch in changes:
        mark = ["data"] if toast and ch.toast else None
        events.append({
            "c": lambda: (ch.lsn, "c", None, (ch.key, pick(ch.values)), None),
            "u": lambda: (ch.lsn, "u", (ch.key,), (ch.key, pick(ch.values)), mark),
            "u_pk": lambda: (ch.lsn, "u_pk", (ch.key,), (ch.new_key, pick(ch.values)), None),
            "d": lambda: (ch.lsn, "d", (ch.key,), None, None),
        }[ch.op]())
    return events


def _assert_pinned(changes, initial: dict) -> None:
    got = wal.interpret(changes, initial)
    names, _ = interpret(_fixture_events(changes, initial, lambda v: v[0], True))
    rest, _ = interpret(_fixture_events(changes, initial, lambda v: v[1:], False))
    assert {k: v[0] for k, v in got.items()} == names
    assert {k: v[1:] for k, v in got.items()} == rest


def test_generated_transcripts_agree():
    live = wal.preload_keys(60, 0.5)
    initial = {k: wal.preload_row(k) for k in live}
    for seed in range(5):
        tr = wal.generate(seed, 400, 60, live=live)
        _assert_pinned(tr.changes, initial)


_CHANGE = st.tuples(
    st.sampled_from(["c", "u", "u_pk", "d"]),
    st.integers(1, 5),
    st.integers(1, 5),
    st.booleans(),
)


@given(
    ops=st.lists(_CHANGE, max_size=25),
    initial_keys=st.sets(st.integers(1, 5), max_size=3),
)
@settings(max_examples=200, deadline=None, derandomize=True, database=None)
def test_arbitrary_change_logs_agree(ops, initial_keys):
    """Logs the generator never emits as well — updates and deletes of
    absent keys, TOAST-unchanged updates of absent keys, u_pk onto a
    live key — keep the two interpreters in step."""
    t0 = dt.datetime(2024, 1, 1)
    changes = [
        wal.Change(
            lsn=wal.LSN_BASE + i,
            op=op,
            key=key,
            new_key=new_key if op == "u_pk" else None,
            values=None if op == "d" else (
                f"n{i}", Decimal(i).scaleb(-2), t0 + dt.timedelta(seconds=i)
            ),
            toast=toast and op == "u",
        )
        for i, (op, key, new_key, toast) in enumerate(ops)
    ]
    initial = {k: wal.preload_row(k) for k in initial_keys}
    _assert_pinned(changes, initial)
