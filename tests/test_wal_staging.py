"""Staging decoded WAL: every flush of ``ingest_transcript`` and
``ingest_transcript_tables`` lands as one Arrow-written parquet file per
staging dir, published by fsio's atomic rename, and is acked only after
all of them are in place.

The staged rows must read back exactly as ``createDataFrame`` of the same
rows would have built them; rows ``createDataFrame`` refuses (a value of
the wrong type, a None in a non-nullable field) must still be refused,
before any file is visible and before the ack; and staging starts no
Spark job."""

from __future__ import annotations

import os
import struct

import pytest
from pyspark.sql import types as T

from creek_spark.sources.walsender import (
    TranscriptTransport,
    WalSenderSession,
    encode_xlogdata,
    ingest_transcript,
    ingest_transcript_tables,
)
from creek_spark.types.envelope import envelope_schema
from creek_spark.types.pgtypes import (
    PGColumn,
    PGRelation,
    encode_numeric_typmod,
    pg_relation_to_struct,
)
from tests.test_pgoutput import (
    begin,
    commit,
    delete,
    insert,
    relation,
    truncate,
    update,
)
from tests.test_walsender import _transcript

# (flags, name, oid, typmod): one column of every type the decoder
# converts, plus a key
WIDE_COLS = [
    (1, "id", 23, -1),
    (0, "name", 25, -1),
    (0, "amount", 1700, encode_numeric_typmod(12, 2)),
    (0, "share", 1700, -1),
    (0, "ts", 1184, -1),
    (0, "naive", 1114, -1),
    (0, "score", 701, -1),
    (0, "ratio", 700, -1),
    (0, "flag", 16, -1),
    (0, "day", 1082, -1),
    (0, "at", 1083, -1),
    (0, "small", 21, -1),
    (0, "big", 20, -1),
]
WIDE_ROW = pg_relation_to_struct(
    PGRelation(
        "public",
        "wide",
        [PGColumn(n, {23: "int4", 25: "text", 1700: "numeric", 1184: "timestamptz",
                      1114: "timestamp", 701: "float8", 700: "float4", 16: "bool",
                      1082: "date", 1083: "time", 21: "int2",
                      20: "int8"}[oid], tm, fl)
         for fl, n, oid, tm in WIDE_COLS],
    )
)
NULLS = (None,) * (len(WIDE_COLS) - 1)
FULL = ("a", "12.34", "0.33333333333333333333", "2024-01-02 03:04:05.123+02", "2024-01-02 03:04:05",
        "1.5", "0.25", "t", "2024-02-29", "13:45:12.5", "7",
        "9000000000")


def _wide_frames():
    """c (full and all-NULL non-key), u with an unchanged TOAST column,
    u_pk, d and t, across two transactions."""
    return [
        encode_xlogdata(0x10, begin(lsn=0x30)),
        encode_xlogdata(0x10, relation(80, "public", "wide", WIDE_COLS)),
        encode_xlogdata(0x14, insert(80, 1, *FULL)),
        encode_xlogdata(0x18, insert(80, 2, *NULLS)),
        encode_xlogdata(0x30, commit(lsn=0x30)),
        encode_xlogdata(0x40, begin(lsn=0x70)),
        encode_xlogdata(0x44, update(80, new=(1, "b", "TOAST") + FULL[2:])),
        encode_xlogdata(0x48, update(80, new=(3, "c") + FULL[1:], old=(2,) + NULLS)),
        encode_xlogdata(0x4C, delete(80, (1,) + NULLS)),
        encode_xlogdata(0x50, truncate(80)),
        encode_xlogdata(0x70, commit(lsn=0x70)),
    ]


def _by_lsn(rows):
    return sorted(rows, key=lambda r: (r["source"]["lsn"], r["op"]))


def _staged_files(wal_dir):
    return sorted(os.listdir(wal_dir)) if os.path.isdir(wal_dir) else []


def _assert_reads_back_as_create_dataframe(spark, staged_dir, rows, env):
    got = spark.read.schema(env).parquet(staged_dir).collect()
    want = spark.createDataFrame(rows, env).collect()
    assert _by_lsn(got) == _by_lsn(want)


def test_staged_rows_read_back_equal_create_dataframe(spark, tmp_path):
    path = _transcript(tmp_path / "wide.hex", _wide_frames())
    rows = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s0")).stream_rows()
    assert [r["op"] for r in rows] == ["c", "c", "u", "u_pk", "d", "t"]
    assert rows[2]["unchanged_toast"] == ["amount"]

    wal_dir = str(tmp_path / "wal")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s1"))
    assert ingest_transcript(spark, sess, wal_dir, WIDE_ROW, batch_rows=4) == 6
    assert sess.acked_lsn == 0x50
    # one file per flush, each published by rename: no tmp left behind
    parquet = [f for f in _staged_files(wal_dir) if not f.startswith(".")]
    assert len(parquet) == 2
    assert all(f.startswith("part-") and f.endswith(".parquet") for f in parquet)
    assert not [f for f in _staged_files(wal_dir) if f.endswith(".tmp")]
    _assert_reads_back_as_create_dataframe(spark, wal_dir, rows, envelope_schema(WIDE_ROW))


def test_mid_stream_alter_stages_per_table_like_create_dataframe(spark, tmp_path):
    v1 = relation(70, "public", "evolving", [(1, "id", 23, -1), (0, "a", 25, -1)])
    v2 = relation(
        70, "public", "evolving",
        [(1, "id", 23, -1), (0, "a", 25, -1),
         (0, "n", 1700, encode_numeric_typmod(9, 3))],
    )
    frames = [
        encode_xlogdata(0x10, begin(lsn=0x30)),
        encode_xlogdata(0x10, v1),
        encode_xlogdata(0x14, insert(70, 1, "x")),
        encode_xlogdata(0x18, update(70, new=(1, "y"))),
        encode_xlogdata(0x30, commit(lsn=0x30)),
        encode_xlogdata(0x40, begin(lsn=0x60)),
        encode_xlogdata(0x40, v2),
        encode_xlogdata(0x44, insert(70, 2, "z", "-1.500")),
        encode_xlogdata(0x48, update(70, new=(3, "w", None), old=(1, None, None))),
        encode_xlogdata(0x60, commit(lsn=0x60)),
    ]
    path = _transcript(tmp_path / "evo.hex", frames)
    decoder_session = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s0"))
    rows = decoder_session.stream_rows()
    latest = pg_relation_to_struct(decoder_session.decoder.relations[70])

    wal_dir = str(tmp_path / "wal")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s1"))
    assert ingest_transcript_tables(spark, sess, wal_dir) == {"public.evolving": 4}
    assert sess.acked_lsn == 0x48
    staged = os.path.join(wal_dir, "public_evolving")
    assert len([f for f in _staged_files(staged) if f.endswith(".parquet")]) == 1
    _assert_reads_back_as_create_dataframe(spark, staged, rows, envelope_schema(latest))


def test_time_column_table_ingests_as_micros_since_midnight(spark, tmp_path):
    """A table with a pg ``time`` column stages and acks (the decoder
    returns the µs-since-midnight LongType that types/pgtypes.py maps
    ``time`` to; a string would be refused at every flush)."""
    cols = [(1, "id", 23, -1), (0, "at", 1083, -1)]
    frames = [
        encode_xlogdata(0x10, begin(lsn=0x30)),
        encode_xlogdata(0x10, relation(81, "public", "clock", cols)),
        encode_xlogdata(0x14, insert(81, 1, "13:45:12.5")),
        encode_xlogdata(0x18, insert(81, 2, "24:00:00")),
        encode_xlogdata(0x30, commit(lsn=0x30)),
    ]
    path = _transcript(tmp_path / "clock.hex", frames)
    row = pg_relation_to_struct(
        PGRelation("public", "clock", [PGColumn("id", "int4", -1, 1), PGColumn("at", "time")])
    )
    assert row["at"].dataType == T.LongType()
    wal_dir = str(tmp_path / "wal")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s"))
    assert ingest_transcript(spark, sess, wal_dir, row) == 2
    assert sess.acked_lsn == 0x18
    got = spark.read.schema(envelope_schema(row)).parquet(wal_dir).select("after.*").collect()
    assert sorted(tuple(r) for r in got) == [
        (1, (13 * 3600 + 45 * 60 + 12) * 1_000_000 + 500_000),
        (2, 24 * 3600 * 1_000_000),
    ]


def test_bytea_stages_as_pg_hex_text_on_both_ingest_paths(spark, tmp_path):
    """Non-UTF-8 bytea content stages and acks on both paths, as pg's
    ``\\x..`` hex text: a text-format datum keeps the text pg sent, and a
    binary-format datum is carried in the same form."""
    cols = [(1, "id", 23, -1), (0, "blob", 17, -1)]
    raw = b"\n\xff\x00\xc3"
    binary_insert = (
        b"I" + struct.pack(">I", 83) + b"N" + struct.pack(">H", 2)
        + b"t" + struct.pack(">I", 1) + b"2"
        + b"b" + struct.pack(">I", len(raw)) + raw
    )
    frames = [
        encode_xlogdata(0x10, begin(lsn=0x30)),
        encode_xlogdata(0x10, relation(83, "public", "blobs", cols)),
        encode_xlogdata(0x14, insert(83, 1, "\\x0aff00c3")),
        encode_xlogdata(0x18, binary_insert),
        encode_xlogdata(0x30, commit(lsn=0x30)),
    ]
    path = _transcript(tmp_path / "blobs.hex", frames)
    row = pg_relation_to_struct(
        PGRelation("public", "blobs", [PGColumn("id", "int4", -1, 1), PGColumn("blob", "bytea")])
    )
    want = [(1, "\\x0aff00c3"), (2, "\\x0aff00c3")]

    wal_dir = str(tmp_path / "wal")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s0"))
    assert ingest_transcript(spark, sess, wal_dir, row) == 2
    assert sess.acked_lsn == 0x18
    got = spark.read.schema(envelope_schema(row)).parquet(wal_dir).select("after.*")
    assert sorted(tuple(r) for r in got.collect()) == want

    tables_dir = str(tmp_path / "tables")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s1"))
    assert ingest_transcript_tables(spark, sess, tables_dir) == {"public.blobs": 2}
    assert sess.acked_lsn == 0x18
    staged = os.path.join(tables_dir, "public_blobs")
    got = spark.read.schema(envelope_schema(row)).parquet(staged).select("after.*")
    assert sorted(tuple(r) for r in got.collect()) == want


@pytest.mark.parametrize(
    "data_type, nullable, value, error",
    [
        (T.IntegerType(), True, "a", (TypeError, ValueError)),  # wrong type
        (T.StringType(), False, None, ValueError),  # None, non-nullable
    ],
    ids=["wrong_type", "none_in_non_nullable"],
)
def test_refused_rows_publish_no_file_and_ack_nothing(
    spark, tmp_path, data_type, nullable, value, error
):
    frames = [
        encode_xlogdata(0x10, begin(lsn=0x30)),
        encode_xlogdata(0x10, relation(82, "public", "bad", [(1, "id", 23, -1), (0, "data", 25, -1)])),
        encode_xlogdata(0x14, insert(82, 1, value)),
        encode_xlogdata(0x30, commit(lsn=0x30)),
    ]
    path = _transcript(tmp_path / "bad.hex", frames)
    row = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False, metadata={"pgKey": True}),
            T.StructField("data", data_type, nullable),
        ]
    )
    wal_dir = str(tmp_path / "wal")
    state = str(tmp_path / "s")
    sess = WalSenderSession(TranscriptTransport(path), state)
    with pytest.raises(error):
        ingest_transcript(spark, sess, wal_dir, row)
    assert _staged_files(wal_dir) == []
    assert sess.acked_lsn == 0
    assert WalSenderSession(TranscriptTransport(path), state).acked_lsn == 0


def test_ingest_transcript_starts_no_spark_job(spark, tmp_path):
    from tests.test_walsender import _events

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    path = _transcript(tmp_path / "s.hex", _events())
    row = T.StructType(
        [
            T.StructField("id", T.IntegerType(), metadata={"pgKey": True}),
            T.StructField("data", T.StringType()),
        ]
    )
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s"))
    sc.setJobGroup("wal-staging-probe", "ingest_transcript")
    try:
        assert ingest_transcript(spark, sess, str(tmp_path / "wal"), row, batch_rows=2) == 5
        staged_jobs = list(tracker.getJobIdsForGroup("wal-staging-probe"))
        spark.range(1).count()  # the probe does see a job in this group
        probe_jobs = list(tracker.getJobIdsForGroup("wal-staging-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert staged_jobs == []
    assert probe_jobs


# two tables of `other`'s shape whose changes interleave in one
# transaction, as (lsn, op, before, after, toast) events per table
_SHAPE = [(1, "id", 23, -1), (0, "data", 25, -1)]
TWO_TABLES = {
    "public.a": (57, [
        (0x14, "c", None, (1, "a1"), None),
        (0x1C, "c", None, (2, "a2"), None),
        (0x24, "d", (2,), None, None),
    ]),
    "public.b": (58, [
        (0x18, "c", None, (1, "b1"), None),
        (0x20, "u", (1,), (1, "b1v2"), None),
        (0x28, "u_pk", (1,), (3, "b3"), None),
    ]),
}


def two_table_transcript(path) -> str:
    frames = [encode_xlogdata(0x10, begin(lsn=0x40))]
    changes = []
    for qname, (relid, events) in TWO_TABLES.items():
        frames.append(encode_xlogdata(0x10, relation(relid, *qname.split("."), _SHAPE)))
        changes += [(e, relid) for e in events]
    for (lsn, op, before, after, _toast), relid in sorted(changes):
        payload = {
            "c": lambda: insert(relid, *after),
            "u": lambda: update(relid, new=after),
            "u_pk": lambda: update(relid, new=after, old=(before[0], None)),
            "d": lambda: delete(relid, (before[0], None)),
        }[op]()
        frames.append(encode_xlogdata(lsn, payload))
    frames.append(encode_xlogdata(0x40, commit(lsn=0x40)))
    return _transcript(path, frames)


def test_tables_ingest_stages_and_acks_every_flush(spark, tmp_path, monkeypatch):
    """ingest_transcript_tables flushes every _FLUSH_ROWS rows:
    each flush stages one file per table, then acks, and the staged
    rows equal those of one flush of the whole drain."""
    from creek_spark.sources import walsender
    from tests.fixtures import ENV_SCHEMA

    path = two_table_transcript(tmp_path / "two.hex")
    one_flush = str(tmp_path / "one_flush")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s0"))
    assert ingest_transcript_tables(spark, sess, one_flush) == {"public.a": 3, "public.b": 3}

    monkeypatch.setattr(walsender, "_FLUSH_ROWS", 2)
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s1"))
    log = []  # staged table dirs and acks that moved, in order
    real_stage, real_ack = walsender.stage_envelope_rows, sess.ack

    def stage(spark, rows, schema, d):
        log.append(os.path.basename(d))
        real_stage(spark, rows, schema, d)

    def ack(lsn):
        if lsn > sess.acked_lsn:
            log.append(lsn)
        real_ack(lsn)

    monkeypatch.setattr(walsender, "stage_envelope_rows", stage)
    monkeypatch.setattr(sess, "ack", ack)
    wal_dir = str(tmp_path / "wal")
    assert ingest_transcript_tables(spark, sess, wal_dir) == {"public.a": 3, "public.b": 3}
    assert log == ["public_a", "public_b", 0x18,
                   "public_a", "public_b", 0x20,
                   "public_a", "public_b", 0x28]
    for table in ("public_a", "public_b"):
        staged = os.path.join(wal_dir, table)
        assert len([f for f in _staged_files(staged) if f.endswith(".parquet")]) == 3
        got = spark.read.schema(ENV_SCHEMA).parquet(staged).collect()
        want = spark.read.schema(ENV_SCHEMA).parquet(os.path.join(one_flush, table)).collect()
        assert _by_lsn(got) == _by_lsn(want)


def test_tables_ingest_acks_rows_it_skips(tmp_path, monkeypatch):
    """A row outside ``only=`` is consumed: the ack covers it, so a
    restart does not re-deliver it."""
    from creek_spark.sources import walsender

    monkeypatch.setattr(walsender, "stage_envelope_rows", lambda *args: None)
    path = two_table_transcript(tmp_path / "two.hex")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s"))
    assert ingest_transcript_tables(None, sess, str(tmp_path / "wal"), only=["public.a"]) == {
        "public.a": 3}
    assert sess.acked_lsn == 0x28


def interleaved_transcript(path) -> str:
    """Two transactions of ``public.a`` in commit order: tx A (rows 1, 2
    at 0x20, 0x28, commit 0x30), then tx B, which began first (rows 3, 4
    at 0x10, 0x14, commit 0x50), so B's rows sit below A's LSNs."""
    frames = [
        encode_xlogdata(0x20, begin(lsn=0x30)),
        encode_xlogdata(0x20, relation(57, "public", "a", _SHAPE)),
        encode_xlogdata(0x20, insert(57, 1, "r1")),
        encode_xlogdata(0x28, insert(57, 2, "r2")),
        encode_xlogdata(0x30, commit(lsn=0x30)),
        encode_xlogdata(0x10, begin(lsn=0x50)),
        encode_xlogdata(0x10, insert(57, 3, "r3")),
        encode_xlogdata(0x14, insert(57, 4, "r4")),
        encode_xlogdata(0x50, commit(lsn=0x50)),
    ]
    return _transcript(path, frames)


def _staged_ids(spark, staged_dir) -> list[int]:
    from tests.fixtures import ENV_SCHEMA

    rows = spark.read.schema(ENV_SCHEMA).parquet(staged_dir).collect()
    return sorted(r["after"]["id"] for r in rows)


def test_tables_ingest_keeps_a_transaction_below_an_earlier_flush(
    spark, tmp_path, monkeypatch
):
    """A flush acks tx A; tx B, committed after A but with rows at lower
    LSNs, must still be staged in the same drain."""
    from creek_spark.sources import walsender

    monkeypatch.setattr(walsender, "_FLUSH_ROWS", 2)
    path = interleaved_transcript(tmp_path / "tx.hex")
    sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "s"))
    wal_dir = str(tmp_path / "wal")
    assert ingest_transcript_tables(spark, sess, wal_dir) == {"public.a": 4}
    assert _staged_ids(spark, os.path.join(wal_dir, "public_a")) == [1, 2, 3, 4]


def test_restart_after_a_flush_keeps_a_later_committed_transaction(
    spark, tmp_path, monkeypatch
):
    """Tx A's flush is acked, then B's flush fails.  A restart on the
    same state dir re-delivers B, whose rows lie below the acked LSN,
    and not A: every row is staged exactly once."""
    from creek_spark.sources import walsender

    row_schema = pg_relation_to_struct(PGRelation(
        "public", "a", [PGColumn("id", "int4", -1, 1), PGColumn("data", "text", -1, 0)]))
    path = interleaved_transcript(tmp_path / "tx.hex")
    state, wal_dir = str(tmp_path / "s"), str(tmp_path / "wal")
    real_stage = walsender.stage_envelope_rows
    calls = []

    def stage_once(*args):
        calls.append(args)
        if len(calls) > 1:
            raise OSError("disk gone")
        real_stage(*args)

    monkeypatch.setattr(walsender, "stage_envelope_rows", stage_once)
    sess = WalSenderSession(TranscriptTransport(path), state)
    with pytest.raises(OSError, match="disk gone"):
        ingest_transcript(spark, sess, wal_dir, row_schema, batch_rows=2)
    assert sess.acked_lsn == 0x28

    monkeypatch.setattr(walsender, "stage_envelope_rows", real_stage)
    sess = WalSenderSession(TranscriptTransport(path), state)
    assert ingest_transcript(spark, sess, wal_dir, row_schema, batch_rows=2) == 2
    assert _staged_ids(spark, wal_dir) == [1, 2, 3, 4]
