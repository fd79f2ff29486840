"""Recorded-bytes pgoutput decode: the pure-Python parser must turn raw
logical-replication payloads into exactly the envelope rows
types/envelope.py declares — mirroring the semantics the reference's
integration tests assert live (integration_tests/listen_test.go:14-138):
insert, plain update (key-only before), PK-changing update, delete,
truncate, and unchanged-TOAST omission.

Fixtures are deterministic byte strings built with the same struct
layout the protocol documents; one literal hex capture is decoded too so
the test is independent of the builder."""

from __future__ import annotations

import struct

from creek_spark.sources.pgoutput import PgOutputDecoder, lsn_str

# -- fixture builder (protocol layout from the public docs) ------------


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def begin(lsn=1000, ts=710000000_000_000, xid=777) -> bytes:
    return b"B" + struct.pack(">QqI", lsn, ts, xid)


def commit(lsn=1000, ts=710000000_000_000) -> bytes:
    return b"C" + struct.pack(">BQQq", 0, lsn, lsn + 8, ts)


def relation(relid, ns, name, cols, replident="d") -> bytes:
    # cols: [(flags, name, oid, typmod)]
    out = b"R" + struct.pack(">I", relid) + _cstr(ns) + _cstr(name)
    out += replident.encode() + struct.pack(">H", len(cols))
    for flags, cname, oid, typmod in cols:
        out += struct.pack(">B", flags) + _cstr(cname) + struct.pack(">Ii", oid, typmod)
    return out


def tup(*cols) -> bytes:
    # each col: None -> 'n', "TOAST" -> 'u', str -> 't'+text
    out = struct.pack(">H", len(cols))
    for c in cols:
        if c is None:
            out += b"n"
        elif c == "TOAST":
            out += b"u"
        else:
            b = str(c).encode()
            out += b"t" + struct.pack(">I", len(b)) + b
    return out


def insert(relid, *cols) -> bytes:
    return b"I" + struct.pack(">I", relid) + b"N" + tup(*cols)


def update(relid, new, old=None, old_kind=b"K") -> bytes:
    out = b"U" + struct.pack(">I", relid)
    if old is not None:
        out += old_kind + tup(*old)
    return out + b"N" + tup(*new)


def delete(relid, old, old_kind=b"K") -> bytes:
    return b"D" + struct.pack(">I", relid) + old_kind + tup(*old)


def truncate(*relids) -> bytes:
    return b"T" + struct.pack(">IB", len(relids), 0) + b"".join(
        struct.pack(">I", r) for r in relids
    )


OTHER = relation(55, "public", "other", [(1, "id", 23, -1), (0, "data", 25, -1)])


def test_listen_semantics_insert_update_upk_delete_truncate():
    """The listen_test.go scenario, from bytes: ops, before/after images,
    and LSN formatting all match the reference's assertions."""
    dec = PgOutputDecoder(source_name="creek-test", db="testdb")
    rows = dec.decode_stream(
        [
            (0, begin()),
            (0, OTHER),
            (0x100, insert(55, 1, "test")),
            (0x108, update(55, new=(1, "cool"))),                 # plain u
            (0x110, update(55, new=(100, "cool"), old=(1, None))),  # u_pk
            (0x118, delete(55, old=(100, None))),
            (0x120, truncate(55)),
            (0x128, commit()),
        ]
    )
    assert [r["op"] for r in rows] == ["c", "u", "u_pk", "d", "t"]
    c, u, upk, d, t = rows
    assert c["before"] is None
    assert c["after"] == {"id": 1, "data": "test"}
    # plain update: before = key columns extracted from the NEW tuple
    assert u["before"] == {"id": 1}
    assert u["after"] == {"id": 1, "data": "cool"}
    # PK-changing update: before = OLD tuple in the before shape
    assert upk["before"] == {"id": 1}
    assert upk["after"] == {"id": 100, "data": "cool"}
    assert d["before"] == {"id": 100} and d["after"] is None
    assert t["before"] is None and t["after"] is None
    # source metadata from Begin + per-message WAL position
    assert c["source"]["tx_id"] == 777
    assert c["source"]["lsn"] == lsn_str(0x100) == "0/100"
    assert c["source"]["schema"] == "public"
    assert c["source"]["table"] == "other"
    assert c["source"]["db"] == "testdb"
    assert c["source"]["tx_at"] is not None


def test_unchanged_toast_column_flagged_not_nulled_semantically():
    """An unchanged TOAST datum ('u' tag) must surface in
    unchanged_toast, with the after value NULL — the struct analog of
    the reference omitting the key from its after map
    (replication.go:527-528)."""
    rel = relation(
        9, "public", "docs", [(1, "id", 23, -1), (0, "blob", 25, -1)]
    )
    dec = PgOutputDecoder()
    rows = dec.decode_stream(
        [
            (0, begin()),
            (0, rel),
            (0x10, update(9, new=(7, "TOAST"))),
        ]
    )
    (u,) = rows
    assert u["op"] == "u"
    assert u["after"] == {"id": 7, "blob": None}
    assert u["unchanged_toast"] == ["blob"]


def test_replica_identity_full_before_is_full_row():
    rel = relation(
        12, "public", "rif", [(1, "id", 23, -1), (1, "data", 25, -1)],
        replident="f",
    )
    dec = PgOutputDecoder()
    rows = dec.decode_stream(
        [
            (0, begin()),
            (0, rel),
            (0x20, update(12, new=(3, "new"), old=(3, "old"), old_kind=b"O")),
        ]
    )
    (u,) = rows
    assert u["op"] == "u_pk"  # O old tuple → the reference's u_pk branch
    assert u["before"] == {"id": 3, "data": "old"}
    assert u["after"] == {"id": 3, "data": "new"}


def test_literal_hex_capture_decodes():
    """A capture embedded as literal hex (independent of the builder):
    Relation(public.other) + Insert(2, 'new stuff') — the second
    listen_test.go insert."""
    rel_hex = (
        "52" + "00000037"                      # 'R', relid 55
        + "7075626c696300"                     # "public\0"
        + "6f7468657200"                       # "other\0"
        + "64" + "0002"                        # 'd', 2 cols
        + "01" + "696400" + "00000017" + "ffffffff"   # key col id, oid 23
        + "00" + "6461746100" + "00000019" + "ffffffff"  # col data, oid 25
    )
    ins_hex = (
        "49" + "00000037" + "4e"               # 'I', relid 55, 'N'
        + "0002"                                # 2 columns
        + "74" + "00000001" + "32"              # 't' len 1 "2"
        + "74" + "00000009" + "6e6577207374756666"  # 't' len 9 "new stuff"
    )
    dec = PgOutputDecoder()
    rows = dec.decode_stream(
        [(0, begin()), (0, bytes.fromhex(rel_hex)), (0x200, bytes.fromhex(ins_hex))]
    )
    (c,) = rows
    assert c["op"] == "c"
    assert c["after"] == {"id": 2, "data": "new stuff"}


def test_decoded_rows_replay_through_latest_state(spark):
    """End-to-end: decoded bytes → envelope DataFrame → latest_state.
    The u_pk must move the row from key 1 to key 100 and the delete must
    remove key 100 — the consumer semantics the reference's client
    applies (client.go apply loop)."""
    from pyspark.sql import types as T

    from creek_spark.operators.cdc import latest_state
    from creek_spark.types.envelope import envelope_schema

    dec = PgOutputDecoder()
    rows = dec.decode_stream(
        [
            (0, begin()),
            (0, OTHER),
            (0x100, insert(55, 1, "test")),
            (0x104, insert(55, 2, "keep")),
            (0x108, update(55, new=(1, "cool"))),
            (0x110, update(55, new=(100, "cool"), old=(1, None))),
        ]
    )
    row_schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), metadata={"pgKey": True}),
            T.StructField("data", T.StringType()),
        ]
    )
    schema = envelope_schema(row_schema)
    df = spark.createDataFrame(rows, schema)
    got = {r["id"]: r["data"] for r in latest_state(df, ["id"]).collect()}
    assert got == {2: "keep", 100: "cool"}


def test_capture_file_with_xlogdata_and_keepalives(tmp_path):
    """A recorded capture (XLogData-framed hex lines, keepalives mixed
    in) decodes to the same envelope rows as feeding raw payloads."""
    import struct as st

    from creek_spark.sources.pgoutput import decode_capture_file

    def w(lsn, payload):
        return (
            b"w" + st.pack(">QQq", lsn, lsn + len(payload), 0) + payload
        ).hex()

    keepalive = (b"k" + st.pack(">Qq?", 0x500, 0, False)).hex()
    lines = [
        "# recorded capture",
        w(0, begin()),
        w(0, OTHER),
        keepalive,
        w(0x300, insert(55, 9, "from capture")),
        "",
        w(0x308, commit()),
    ]
    p = tmp_path / "capture.hex"
    p.write_text("\n".join(lines) + "\n")
    rows = decode_capture_file(str(p), source_name="cap", db="capdb")
    assert len(rows) == 1
    (c,) = rows
    assert c["op"] == "c"
    assert c["after"] == {"id": 9, "data": "from capture"}
    assert c["source"]["lsn"] == "0/300"
    assert c["source"]["name"] == "cap"


def test_relation_redefinition_mid_stream():
    """A second Relation message for the same relid (ALTER TABLE ADD
    COLUMN mid-stream) must take effect immediately — the reference
    re-registers the schema on every Relation message
    (replication.go handleRelationMessage → PersistSchemaFromRelation)."""
    v1 = relation(70, "public", "evolving", [(1, "id", 23, -1), (0, "a", 25, -1)])
    v2 = relation(
        70, "public", "evolving",
        [(1, "id", 23, -1), (0, "a", 25, -1), (0, "b", 25, -1)],
    )
    dec = PgOutputDecoder()
    rows = dec.decode_stream(
        [
            (0, begin()),
            (0, v1),
            (0x10, insert(70, 1, "x")),
            (0, v2),
            (0x20, insert(70, 2, "y", "z")),
        ]
    )
    assert rows[0]["after"] == {"id": 1, "a": "x"}
    assert rows[1]["after"] == {"id": 2, "a": "y", "b": "z"}


def test_wire_to_warehouse_end_to_end(spark, tmp_path):
    """The full reference pipeline shape, offline: a recorded pgoutput
    capture (XLogData-framed bytes) decodes to envelope rows, lands as
    envelope parquet, streams through the bucketed CdcApplier MERGE
    sink, and the materialized state equals what the live consumer
    would hold — wire bytes to warehouse table with no hand-written
    rows anywhere."""
    import struct as st

    from pyspark.sql import types as T

    from creek_spark.streaming import CdcApplier, read_envelope_stream
    from creek_spark.types.envelope import envelope_schema

    def w(lsn, payload):
        return (b"w" + st.pack(">QQq", lsn, lsn + len(payload), 0) + payload).hex()

    from creek_spark.sources.pgoutput import decode_capture_file

    lines = [
        w(0, begin()),
        w(0, OTHER),
        w(0x100, insert(55, 1, "one")),
        w(0x108, insert(55, 2, "two")),
        w(0x110, update(55, new=(1, "uno"))),
        w(0x118, update(55, new=(200, "uno"), old=(1, None))),  # PK move
        w(0x120, insert(55, 3, "three")),
        w(0x128, delete(55, old=(2, None))),
    ]
    cap = tmp_path / "cap.hex"
    cap.write_text("\n".join(lines) + "\n")
    rows = decode_capture_file(str(cap))

    row_schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), metadata={"pgKey": True}),
            T.StructField("data", T.StringType()),
        ]
    )
    schema = envelope_schema(row_schema)
    wal_dir = str(tmp_path / "wal")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(wal_dir)

    applier = CdcApplier(
        spark, str(tmp_path / "state"), ["id"], schema, n_buckets=2
    )
    q = applier.start(
        read_envelope_stream(spark, wal_dir, schema), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {
        r["id"]: r["data"] for r in applier.current_state().collect()
    }
    assert got == {200: "uno", 3: "three"}


def test_generative_wire_decode_matches_interpreter(spark):
    """Wire-level differential test: the random WAL scenarios from
    test_cdc_differential are RENDERED TO pgoutput BYTES, decoded by the
    parser, replayed through latest_state, and must match the in-memory
    reference interpreter — covering the byte parser with the same
    breadth (u_pk chains, TOAST, truncate, deletes of absent keys) the
    envelope-level differential test has."""
    import random

    from pyspark.sql import types as T

    from creek_spark.operators.cdc import latest_state
    from creek_spark.types.envelope import envelope_schema
    from tests.fixtures import interpret
    from tests.test_cdc_differential import _scenario

    def render(ev):
        lsn, op, before, after, toast = ev
        if op == "c":
            return insert(55, *after)
        if op == "u":
            if toast and "data" in toast:
                return update(55, new=(after[0], "TOAST"))
            return update(55, new=after)
        if op == "u_pk":
            return update(55, new=after, old=(before[0], None))
        if op == "d":
            return delete(55, old=(before[0], None))
        if op == "t":
            return truncate(55)
        raise AssertionError(op)

    row_schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), metadata={"pgKey": True}),
            T.StructField("data", T.StringType()),
        ]
    )
    schema = envelope_schema(row_schema)
    rng = random.Random(77)
    for case in range(6):
        events = _scenario(rng, n_events=rng.randint(6, 24))
        expected, _ = interpret(events)
        # wire order: pgoutput delivers in LSN order (the transport is
        # ordered); duplicates redeliver the same bytes at the same LSN
        dec = PgOutputDecoder()
        msgs = [(0, begin()), (0, OTHER)]
        for ev in sorted(events, key=lambda e: (e[0], 0 if e[1] == "t" else 1)):
            msgs.append((ev[0], render(ev)))
        rows = dec.decode_stream(msgs)
        # TOAST semantics: the decoder NULLs the unchanged column and
        # lists it in unchanged_toast — exactly the envelope contract
        df = spark.createDataFrame(rows, schema)
        got = {
            r["id"]: r["data"]
            for r in latest_state(df, ["id"]).select("id", "data").collect()
        }
        assert got == expected, (case, sorted(events)[:6])


def test_timestamptz_offsets_normalize_to_utc():
    """A timestamptz rendered with a negative UTC offset ('… -08', normal
    for a server west of UTC) must decode — not crash — and every offset
    form must convert to the same UTC instant (envelope timestamps are
    naive UTC).  Round-5 ADVICE: the old parser stripped only '+'/'Z'."""
    import datetime as dt

    from creek_spark.sources.pgoutput import decode_text_value

    utc = dt.datetime(2024, 1, 2, 11, 4, 5)
    for rendered in (
        b"2024-01-02 03:04:05-08",
        b"2024-01-02 03:04:05-08:00",
        b"2024-01-02 02:34:05-08:30",
        b"2024-01-02 11:04:05Z",
        b"2024-01-02 11:04:05+00",
        b"2024-01-02 19:04:05+08",
        b"2024-01-02 16:34:05+05:30",
    ):
        assert decode_text_value(rendered, 1184) == utc, rendered
    # fractional seconds survive the offset strip
    assert decode_text_value(b"2024-01-02 03:04:05.123456-08", 1184) == dt.datetime(
        2024, 1, 2, 11, 4, 5, 123456
    )
    # naive 'timestamp' (oid 1114) has no offset and passes through
    assert decode_text_value(b"2024-01-02 03:04:05", 1114) == dt.datetime(
        2024, 1, 2, 3, 4, 5
    )
    assert decode_text_value(b"2024-01-02 03:04:05.5", 1114) == dt.datetime(
        2024, 1, 2, 3, 4, 5, 500000
    )
    # ±infinity sentinel strings pass through
    assert decode_text_value(b"infinity", 1184) == "infinity"


def test_timestamptz_offset_row_through_decoder():
    """End-to-end: an envelope row whose timestamptz column carries a
    negative offset decodes to the UTC instant."""
    import datetime as dt

    rel = relation(91, "public", "tzed", [(1, "id", 23, -1), (0, "at", 1184, -1)])
    dec = PgOutputDecoder()
    rows = dec.decode_stream(
        [
            (0, begin()),
            (0, rel),
            (0, insert(91, 7, "2024-06-01 16:00:00-07")),
            (0, commit()),
        ]
    )
    (env,) = [r for r in rows if r["op"] == "c"]
    assert env["after"]["at"] == dt.datetime(2024, 6, 1, 23, 0, 0)


def test_malformed_tuple_tag_raises_value_error():
    """Wire-format violations must raise (not assert — '-O' strips
    asserts and would misparse at the wrong offset)."""
    import pytest

    # Insert whose tuple tag is 'X' instead of 'N'
    bad_insert = b"I" + struct.pack(">I", 55) + b"X" + tup(1, "x")
    dec = PgOutputDecoder()
    dec.decode_stream([(0, begin()), (0, OTHER)])
    with pytest.raises(ValueError, match="Insert"):
        dec.decode_stream([(0, bad_insert)])
    # Update whose new-tuple tag is missing
    bad_update = b"U" + struct.pack(">I", 55) + b"X" + tup(1, "x")
    with pytest.raises(ValueError, match="Update"):
        dec.decode_stream([(0, bad_update)])
