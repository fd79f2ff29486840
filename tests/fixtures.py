"""Synthetic WAL-envelope fixtures (FIXTURES.md F4).

Generates the `other(id int PK, data text)` change stream exercising every
op the reference's integration tests cover (listen_test.go:14-138):
inserts, key-only updates, a PK-changing update, deletes, a truncate,
duplicate delivery (same LSN), out-of-order arrival, and an unchanged-TOAST
update.
"""

from __future__ import annotations

import datetime

from pyspark.sql import SparkSession, types as T

from creek_spark.types import envelope_schema
from creek_spark.types.pgtypes import PGColumn, PGRelation, pg_relation_to_struct

OTHER = PGRelation(
    namespace="public",
    name="other",
    columns=[PGColumn("id", "int4", flags=1), PGColumn("data", "text")],
)

ROW_SCHEMA = pg_relation_to_struct(OTHER)
ENV_SCHEMA = envelope_schema(ROW_SCHEMA)

_T0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _lsn(i: int) -> str:
    return f"{i >> 32:X}/{i & 0xFFFFFFFF:X}"


def wal_row(i, op, before=None, after=None, toast=None, fp="fp1"):
    ts = _T0 + datetime.timedelta(seconds=i)
    return (
        fp,
        ("creek", ts, "db", "public", "other", 100 + i, _lsn(i)),
        op,
        ts + datetime.timedelta(milliseconds=5),  # sent_at > tx_at
        before,
        after,
        toast,
    )


def interpret(events):
    """The reference consumer's per-op rules (internal/dao/replication.go),
    in memory: apply ``(lsn, op, before, after, toast)`` events in
    (lsn, leg) order; truncate clears everything seen so far.  Returns
    ``(state, last)``: each live key's ``data`` and the LSN of the change
    that last wrote it."""
    state: dict[int, str | None] = {}
    last: dict[int, int] = {}
    for lsn, op, before, after, toast in sorted(
        events, key=lambda e: (e[0], 0 if e[1] == "t" else 1)
    ):
        if op == "t":
            state.clear()
            last.clear()
        if op in ("u_pk", "d"):
            state.pop(before[0], None)
            last.pop(before[0], None)
        if op in ("c", "r", "u", "u_pk"):
            k = after[0]
            if op == "u" and toast and "data" in toast:
                state[k] = state.get(k)  # carry previous (None if absent)
            else:
                state[k] = after[1]
            last[k] = lsn
    return state, last


def other_wal_events() -> list[tuple]:
    """The scripted change stream; expected final state in OTHER_EXPECTED."""
    rows = [
        # 5 inserts (survive: see deletions below)
        wal_row(1, "c", after=(1, "one")),
        wal_row(2, "c", after=(2, "two")),
        wal_row(3, "c", after=(3, "three")),
        # truncate at lsn 4: discards ids 1-3
        wal_row(4, "t"),
        wal_row(5, "c", after=(1, "one-again")),
        wal_row(6, "c", after=(2, "two-again")),
        wal_row(7, "c", after=(3, "three-again")),
        wal_row(8, "c", after=(4, "four")),
        wal_row(9, "c", after=(5, "five")),
        # plain update: before = key only (replication.go:399-454)
        wal_row(10, "u", before=(2,), after=(2, "two-v2")),
        # PK-changing update 3 → 30 (before = full old row, 425-427)
        wal_row(11, "u_pk", before=(3,), after=(30, "three-moved")),
        # delete id 4 (before = key, after = nil, 456-491)
        wal_row(12, "d", before=(4,)),
        # duplicate delivery of lsn 12 (at-least-once, nats.go:214)
        wal_row(12, "d", before=(4,)),
        # unchanged-TOAST update on id 5: data omitted → carries "five"
        wal_row(13, "u", before=(5,), after=(5, None), toast=["data"]),
        # out-of-order within the batch: lsn 15 arrives before lsn 14
        wal_row(15, "u", before=(1,), after=(1, "one-v3")),
        wal_row(14, "u", before=(1,), after=(1, "one-v2")),
    ]
    return rows


# id → data after applying the full stream in LSN order
OTHER_EXPECTED = {
    1: "one-v3",
    2: "two-v2",
    5: "five",
    30: "three-moved",
}


def other_wal_df(spark: SparkSession):
    return spark.createDataFrame(other_wal_events(), schema=ENV_SCHEMA)
