"""Seeded pgoutput transcript generator and in-memory reference interpreter.

The generator plays a Postgres primary: it keeps the live key set of one
table and emits transactions of insert / update / unchanged-TOAST update /
PK-changing update / delete messages in pgoutput's binary layout (public
"Logical Replication Message Formats" docs), each wrapped in an XLogData
frame.  Everything comes
from ``random.Random(seed)``, so one seed always yields byte-identical
frames.

The interpreter applies the generator's logical changes to a dict — the
per-op rules of the reference consumer — and is the oracle every CDC
workload's final state is checked against.
"""

from __future__ import annotations

import datetime as dt
import random
import struct
from dataclasses import dataclass
from decimal import Decimal

from creek_spark.sources.walsender import encode_xlogdata
from creek_spark.types.pgtypes import encode_numeric_typmod

RELID = 16384
NAMESPACE, TABLE = "public", "items"
# (flags, name, type oid, typmod): int4 key, text, numeric(12,2), timestamptz
COLUMNS = (
    (1, "id", 23, -1),
    (0, "name", 25, -1),
    (0, "amount", 1700, encode_numeric_typmod(12, 2)),
    (0, "updated_at", 1184, -1),
)
KEY_COLS = ["id"]
VALUE_COLS = ("name", "amount", "updated_at")

T0 = dt.datetime(2024, 1, 1)
_PG_EPOCH = dt.datetime(2000, 1, 1)
LSN_BASE = 1 << 32  # transcript LSNs sit above every preload LSN
MAX_TX = 10  # changes per transaction: 1..MAX_TX
TOAST_SHARE = 0.2  # updates that do not re-send `name`
_LSN_STEP = 0x40
_WORDS = ("alpha", "bravo", "delta", "gamma", "kilo", "lima", "oscar", "tango")


@dataclass(frozen=True)
class Change:
    """One logical row change.  ``values`` is the after image (None for a
    delete); ``toast`` marks an update whose ``name`` was not re-sent."""

    lsn: int
    op: str  # c | u | u_pk | d
    key: int
    new_key: int | None
    values: tuple | None
    toast: bool


@dataclass
class Transcript:
    """Frames as lowercase hex (the TranscriptTransport line format) and
    the changes they carry.  ``tx_bounds[i] = (frame_end, change_end)``:
    transaction i's frames end before ``frame_end`` and its changes before
    ``change_end``."""

    frames: list[str]
    changes: list[Change]
    tx_bounds: list[tuple[int, int]]


def preload_row(key: int) -> tuple:
    """Values of a preloaded row; `cdc.preload_state` builds the same
    columns in Spark."""
    return (
        f"p{key}",
        Decimal(key * 7919 % 10_000_000).scaleb(-2),
        T0 + dt.timedelta(seconds=key),
    )


def preload_keys(n_keys: int, live_share: float) -> list[int]:
    """Keys 1..n_keys whose hash bucket falls under ``live_share``."""
    cut = int(live_share * 1000)
    return [k for k in range(1, n_keys + 1) if (k * 2654435761) % 1000 < cut]


# -- pgoutput encoding --------------------------------------------------


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _relation() -> bytes:
    out = b"R" + struct.pack(">I", RELID) + _cstr(NAMESPACE) + _cstr(TABLE)
    out += b"d" + struct.pack(">H", len(COLUMNS))
    for flags, name, oid, typmod in COLUMNS:
        out += struct.pack(">B", flags) + _cstr(name) + struct.pack(">Ii", oid, typmod)
    return out


_UNCHANGED = object()  # an unchanged-TOAST column in a tuple


def _tuple(cols) -> bytes:
    out = struct.pack(">H", len(cols))
    for c in cols:
        if c is None:
            out += b"n"
        elif c is _UNCHANGED:
            out += b"u"
        else:
            b = c.encode()
            out += b"t" + struct.pack(">I", len(b)) + b
    return out


def _text_values(key: int, values: tuple, toast: bool) -> list:
    name, amount, ts = values
    return [
        str(key),
        _UNCHANGED if toast else name,
        f"{amount:.2f}",
        ts.strftime("%Y-%m-%d %H:%M:%S.%f") + "+00",
    ]


def _key_tuple(key: int) -> bytes:
    return _tuple([str(key), None, None, None])


def _encode(ch: Change) -> bytes:
    rel = struct.pack(">I", RELID)
    if ch.op == "c":
        return b"I" + rel + b"N" + _tuple(_text_values(ch.key, ch.values, False))
    if ch.op == "u":
        return b"U" + rel + b"N" + _tuple(_text_values(ch.key, ch.values, ch.toast))
    if ch.op == "u_pk":
        new = _tuple(_text_values(ch.new_key, ch.values, False))
        return b"U" + rel + b"K" + _key_tuple(ch.key) + b"N" + new
    return b"D" + rel + b"K" + _key_tuple(ch.key)


# -- generation -----------------------------------------------------------


def generate(seed: int, n_changes: int, n_keys: int, *, live: list[int] = ()) -> Transcript:
    """Emit about ``n_changes`` changes (whole transactions of 1..MAX_TX)
    against a table whose live keys start as ``live``.

    A key is drawn uniformly; a dead key is inserted, a live one is updated
    (TOAST_SHARE of those without re-sending ``name``), PK-updated onto a
    dead key, or deleted.  Every transaction commits at ``T0``."""
    rng = random.Random(seed)
    live_set = set(live)
    dead = sorted(set(range(1, n_keys + 1)) - live_set)
    dead_pos = {k: i for i, k in enumerate(dead)}

    def take_dead(k: int) -> None:
        i = dead_pos.pop(k)
        last = dead.pop()
        if last != k:
            dead[i] = last
            dead_pos[last] = i

    def give_dead(k: int) -> None:
        dead_pos[k] = len(dead)
        dead.append(k)

    frames = [encode_xlogdata(LSN_BASE, _relation()).hex()]
    changes: list[Change] = []
    tx_bounds: list[tuple[int, int]] = []
    pg_ts = int((T0 - _PG_EPOCH) / dt.timedelta(microseconds=1))
    lsn, xid = LSN_BASE, 1000
    while len(changes) < n_changes:
        n_tx = rng.randint(1, MAX_TX)
        body: list[Change] = []
        for _ in range(n_tx):
            lsn += _LSN_STEP
            key = rng.randint(1, n_keys)
            ts = T0 + dt.timedelta(microseconds=rng.randint(0, 999))
            values = (
                f"{rng.choice(_WORDS)}-{len(changes) + len(body)}",
                Decimal(rng.randint(0, 99_999_999)).scaleb(-2),
                ts,
            )
            if key not in live_set:
                op, new_key, toast = "c", None, False
                live_set.add(key)
                take_dead(key)
            else:
                roll = rng.random()
                if roll < 0.15 and dead:
                    op, new_key, toast = "u_pk", dead[rng.randrange(len(dead))], False
                    live_set.discard(key)
                    live_set.add(new_key)
                    take_dead(new_key)
                    give_dead(key)
                elif roll < 0.35:
                    op, new_key, toast, values = "d", None, False, None
                    live_set.discard(key)
                    give_dead(key)
                else:
                    op, new_key = "u", None
                    toast = rng.random() < TOAST_SHARE
            body.append(Change(lsn, op, key, new_key, values, toast))
        begin_lsn, commit_lsn = body[0].lsn - 8, lsn + 8
        frames.append(
            encode_xlogdata(begin_lsn, b"B" + struct.pack(">QqI", commit_lsn, pg_ts, xid)).hex()
        )
        for ch in body:
            frames.append(encode_xlogdata(ch.lsn, _encode(ch)).hex())
        frames.append(
            encode_xlogdata(
                commit_lsn, b"C" + struct.pack(">BQQq", 0, commit_lsn, commit_lsn + 8, pg_ts)
            ).hex()
        )
        lsn = commit_lsn + 8
        xid += 1
        changes.extend(body)
        tx_bounds.append((len(frames), len(changes)))
    return Transcript(frames, changes, tx_bounds)


# -- reference interpreter ----------------------------------------------------


def interpret(changes, initial: dict | None = None) -> dict:
    """key → (name, amount, updated_at) after applying ``changes`` in LSN
    order to ``initial``: c/u upsert (an unchanged-TOAST update keeps the
    stored name), u_pk deletes the old key and inserts the new one, d
    deletes."""
    state = dict(initial or {})
    for ch in sorted(changes, key=lambda c: c.lsn):
        if ch.op == "c":
            state[ch.key] = ch.values
        elif ch.op == "u":
            if ch.toast:
                prev = state.get(ch.key)
                state[ch.key] = (prev[0] if prev else None,) + ch.values[1:]
            else:
                state[ch.key] = ch.values
        elif ch.op == "u_pk":
            state.pop(ch.key, None)
            state[ch.new_key] = ch.values
        else:
            state.pop(ch.key, None)
    return state


def state_mismatches(expected: dict, got: dict, limit: int = 5) -> list[str]:
    """Human-readable differences between two key → values maps."""
    out = []
    for k in sorted(set(expected) | set(got)):
        if expected.get(k) != got.get(k):
            out.append(f"id={k}: expected {expected.get(k)!r}, got {got.get(k)!r}")
            if len(out) >= limit:
                break
    return out
