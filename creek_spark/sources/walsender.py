"""Walsender replication-session surface (O1's live network loop),
driven from recorded session transcripts.

The reference's capture process holds a logical-replication session
open: START_REPLICATION from the slot's ``confirmed_flush_lsn``, a
receive loop over CopyData frames (XLogData 'w' / primary keepalive
'k'), a 5 s standby-status-update cadence acking the received LSN
(held at the consumer's ack while a yielded row is unacked),
immediate replies to reply-requested keepalives, CopyDone/timeline
handoff, and reconnect-with-resume on connection loss
(/root/reference/internal/dao/replication.go:96-307, 88-94, 583-599;
init.go:147-248).  This module implements that session state machine
over a pluggable transport; the sandbox has no Postgres (BASELINE.json
scopes live capture out), so the shipped transport replays a RECORDED
transcript — the same bytes a socket would deliver — which makes every
branch of the loop (resume, keepalive reply, cadence, disconnect)
deterministic and testable.  A socket transport only needs
``frames()``/``send()``.

Frame layouts (public "Streaming Replication Protocol" docs):

  backend  'w' wal_start u64 | wal_end u64 | server_clock i64 | payload
  backend  'k' wal_end u64 | server_clock i64 | reply_requested u8
  frontend 'r' write u64 | flush u64 | apply u64 | client_clock i64 | reply u8

Transcript format: one lowercase-hex backend CopyData frame per line;
``#`` comments; ``!disconnect`` simulates the connection dropping
mid-session (the session reconnects and resumes from its acked LSN,
mirroring tryConnect's backoff path); ``!copydone`` simulates the
server ending the copy stream (the session acks CopyDone and restarts
replication, replication.go:183-200).

Resume: the consumer calls :meth:`WalSenderSession.ack` after it has
durably applied the rows up to one it was handed (the CdcApplier commit
point); the session persists it like the slot's ``confirmed_flush_lsn``
and a restarted session both STARTs from it and drops the re-delivered
transactions committed at or below it, and the acked part of the
transaction it fell in — so transcript → session → CdcApplier survives a
kill/restart with exactly-once effect.
"""

from __future__ import annotations

import os
import struct
import uuid
from collections import deque

from pyspark.sql import types as T

from creek_spark import fsio
from creek_spark.sources.pgoutput import PgOutputDecoder, lsn_str

_STATE_FILE = "walsender_lsn"

# frontend messages a transport keeps in ``sent``/``sent_raw``: a session
# streaming for as long as the primary does holds the latest ones, not
# one record per standby status forever
MAX_SENT = 256


def parse_lsn(text: str) -> int:
    """'X/Y' pg_lsn text → 64-bit integer (inverse of lsn_str)."""
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _split_qualified(name: str) -> list[str]:
    """Split a possibly schema-qualified identifier on dots that are
    OUTSIDE double-quoted parts, unquoting each quoted part (Postgres
    lexer rules: ``"my.tbl"`` is ONE identifier containing a dot;
    ``a."b""c".d`` is three parts).  A blind ``name.split(".")`` cannot
    express a raw identifier that itself contains a dot — the round-9
    advice's silently-wrong-DDL edge.  Back-compat: a part that does
    not START with ``"`` is raw text (an interior quote is a literal
    character, as before — ``public.we"ird`` keeps meaning the table
    named ``we"ird``)."""
    parts, buf, quoted = [], [], False
    closed = False  # this part was a quoted part and its quote closed
    i = 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch == '"':
                if i + 1 < len(name) and name[i + 1] == '"':
                    buf.append('"')  # escaped quote inside a quoted part
                    i += 1
                else:
                    quoted = False
                    closed = True
            else:
                buf.append(ch)
        elif ch == ".":
            parts.append("".join(buf))
            buf = []
            closed = False
        elif closed:
            # text adjacent to a closing quote ('"my.tbl"x') is input
            # Postgres's own lexer rejects — guessing a concatenation
            # here would emit DDL that silently targets a DIFFERENT
            # table, the same malformed-input class as an unterminated
            # quote
            raise ValueError(
                f"unexpected text after closing quote in identifier: {name!r}"
            )
        elif ch == '"' and not buf:
            quoted = True  # quote at part START opens a quoted part
        else:
            buf.append(ch)  # interior quotes stay literal (back-compat)
        i += 1
    if quoted:
        raise ValueError(f"unterminated quoted identifier: {name!r}")
    parts.append("".join(buf))
    return parts


def pg_quote_ident(name: str) -> str:
    """Quote a (possibly schema-qualified) identifier for interpolation
    into DDL: each part is double-quoted with internal quotes doubled —
    so ``Ns.My"Table`` → ``"Ns"."My""Table"``.  The split respects
    quoting, so an identifier that itself contains a dot IS expressible
    as ``'"my.tbl"'`` (and normalizes to the same quoted form).  The
    reference interpolates these unquoted (init.go:135 fmt.Sprintf),
    which breaks on mixed-case or reserved names; operator config is
    trusted, but the lines that make it safe are free."""
    return ".".join(
        '"' + p.replace('"', '""') + '"' for p in _split_qualified(name)
    )


def pg_quote_literal(value: str) -> str:
    """Quote a string literal (single quotes doubled) for the catalog
    lookups that a real driver would bind as parameters."""
    return "'" + value.replace("'", "''") + "'"


def _unquote_ident(name: str) -> str:
    """Inverse of pg_quote_ident for the test backend's catalog state:
    strip the double quotes from each part (undoubling inner quotes,
    respecting quoted dots — ``"my.tbl"`` unquotes as ONE part, where
    the old blind dot-split mangled it into two).  Parts re-join on
    '.', so the simulated catalog keys ``"my.tbl"`` and ``my.tbl`` the
    same — acceptable for a test backend (a real pg_catalog stores
    nspname/relname separately); the DDL the CLIENT emits is exact
    either way via pg_quote_ident."""
    return ".".join(_split_qualified(name))


def check_slot_name(name: str) -> str:
    """Replication slot names are restricted by Postgres itself to
    lower-case letters, digits and underscores (slot.c
    ReplicationSlotValidateName) and the replication-command grammar
    takes them unquoted — validate rather than quote."""
    if not name or not all(c.islower() or c.isdigit() or c == "_" for c in name):
        raise ValueError(
            f"invalid replication slot name {name!r}: Postgres allows "
            "only lower-case letters, digits and underscores"
        )
    return name


class TranscriptTransport:
    """Replay a recorded replication session file; collect sent frames.

    ``sent`` holds the last ``MAX_SENT`` frontend messages the session
    wrote: ``("start", lsn)`` markers for START_REPLICATION,
    ``("status", write, flush, apply, reply)`` for standby status
    updates, and ``("copydone",)`` — enough for tests to assert protocol
    behavior without a byte-level frontend codec (the last ``MAX_SENT``
    'r' frames' bytes are kept in ``sent_raw``)."""

    def __init__(self, path: str):
        with open(path) as f:
            self.lines = [
                ln.strip()
                for ln in f
                if ln.strip() and not ln.strip().startswith("#")
            ]
        self.sent: deque[tuple] = deque(maxlen=MAX_SENT)
        self.sent_raw: deque[bytes] = deque(maxlen=MAX_SENT)

    def frames(self):
        yield from self.lines

    def send_start(self, lsn: int) -> None:
        self.sent.append(("start", lsn))

    def send_copydone(self) -> None:
        self.sent.append(("copydone",))

    def send_status(self, write: int, flush: int, apply: int, clock: int, reply: int) -> None:
        self.sent.append(("status", write, flush, apply, reply))
        self.sent_raw.append(
            b"r" + struct.pack(">QQQqB", write, flush, apply, clock, reply)
        )


def encode_xlogdata(wal_start: int, payload: bytes, *, wal_end: int | None = None, clock: int = 0) -> bytes:
    return (
        b"w"
        + struct.pack(">QQq", wal_start, wal_end if wal_end is not None else wal_start, clock)
        + payload
    )


class WalSenderSession:
    """The reference's replication receive loop as a resumable generator.

    Parameters mirror the reference knobs: ``status_interval_us`` is the
    5 s ack cadence (replication.go:97-98) measured on the SERVER clock
    carried in frames (deterministic under replay — a socket transport
    sees the same cadence because the server stamps every frame).
    """

    def __init__(
        self,
        transport,
        state_dir: str,
        *,
        source_name: str = "creek-spark",
        db: str = "postgres",
        status_interval_us: int = 5_000_000,
    ):
        self.transport = transport
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        self.status_interval_us = status_interval_us
        self.decoder = PgOutputDecoder(source_name, db)
        self.acked_lsn, self._acked_tx = self._load_ack()
        self.current_lsn = self.acked_lsn
        # the last row handed to the consumer: (its LSN, the commit LSN
        # of its transaction or None outside one)
        self._last_row: tuple[int, int | None] | None = None
        self._last_status_clock: int | None = None

    # -- confirmed_flush_lsn analog -----------------------------------

    def _state_path(self) -> str:
        return os.path.join(self.state_dir, _STATE_FILE)

    def _load_ack(self) -> tuple[int, int]:
        try:
            with open(self._state_path()) as f:
                lsn, _, tx = f.read().strip().partition(" ")
                return int(lsn), int(tx or 0)
        except (OSError, ValueError):
            return 0, 0

    def ack(self, lsn: int) -> None:
        """Durably confirm the rows yielded up to the one at ``lsn`` (the
        consumer's commit point); the next status update and any restart
        use it — the client-side twin of the slot advancing
        confirmed_flush_lsn.  Postgres sends whole transactions in commit
        order, and a later one's changes can sit below an earlier one's
        LSNs, so the ack is kept per transaction (:meth:`_is_acked`)."""
        if lsn <= self.acked_lsn:
            return
        tx = 0
        if self._last_row is not None and self._last_row[0] == lsn:
            tx = self._last_row[1] or 0
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{lsn} {tx}")
        os.replace(tmp, self._state_path())
        self.acked_lsn, self._acked_tx = lsn, tx

    def _is_acked(self, lsn: int, tx_lsn: int | None) -> bool:
        """Whether the ack covers the row at ``lsn`` of the transaction
        committing at ``tx_lsn`` (None: a row outside any transaction):
        every transaction committed at or below the acked LSN is, and so
        is the acked row's own transaction up to that row."""
        if tx_lsn is None:
            return lsn <= self.acked_lsn
        return tx_lsn <= self.acked_lsn or (
            tx_lsn == self._acked_tx and lsn <= self.acked_lsn
        )

    # -- protocol actions ---------------------------------------------

    def _send_status(self, clock: int, reply: int = 0) -> None:
        # pglogrepl.SendStandbyStatusUpdate with WALWritePosition only:
        # flush/apply default to the write position (replication.go:88-94).
        # The server advances the slot's confirmed_flush_lsn from it, so
        # the received position is confirmed only between transactions
        # and once the last yielded row is acked; otherwise a crash must
        # leave the slot at the ack.
        settled = self.decoder.tx_lsn is None and (
            self._last_row is None or self._is_acked(*self._last_row)
        )
        lsn = self.current_lsn if settled else self.acked_lsn
        self.transport.send_status(lsn, lsn, lsn, clock, reply)
        self._last_status_clock = clock

    def _maybe_status(self, clock: int) -> None:
        if (
            self._last_status_clock is None
            or clock - self._last_status_clock >= self.status_interval_us
        ):
            self._send_status(clock)

    # -- the receive loop ---------------------------------------------

    def stream(self, *, stop_on_copydone: bool = False):
        """Yield ``(wal_start_lsn, envelope_row)`` pairs in the order the
        server sends them, excluding rows the ack already covers
        (re-delivered data after a resume).  Runs the full session
        protocol on the way.

        ``stop_on_copydone`` is the batch-drain mode (transcript/daemon
        ingestion): ack the server's CopyDone and return instead of
        restarting replication — the consumer's last flush follows.
        The default continuous mode restarts (replication.go:183-200),
        bounded by a PROGRESS guard: a restart cycle that delivers no LSN
        above the high-water mark ends the stream, so a replay backend
        re-serving old data can't loop a non-acking consumer forever
        (duplicates and keepalives don't count as progress)."""
        self.transport.send_start(self.acked_lsn)
        hwm = self.acked_lsn
        progress_since_copydone = True  # first CopyDone may restart
        for line in self.transport.frames():
            # (the transport's generator survives reconnects: it reads
            # whatever socket/line source the transport currently holds)
            if line == "!disconnect":
                # conn closed → tryConnect backoff → StartReplication
                # from the confirmed LSN (replication.go:137-148, 583-599)
                self.transport.send_start(self.acked_lsn)
                continue
            if line == "!copydone":
                self.transport.send_copydone()
                if stop_on_copydone or not progress_since_copydone:
                    break
                progress_since_copydone = False
                self.transport.send_start(self.acked_lsn)
                continue
            frame = bytes.fromhex(line)
            tag = chr(frame[0])
            if tag == "k":
                wal_end, clock, reply = struct.unpack_from(">Qq?", frame, 1)
                if wal_end > self.current_lsn:
                    self.current_lsn = wal_end
                if reply:
                    self._send_status(clock, reply=0)
                else:
                    self._maybe_status(clock)
                continue
            if tag == "w":
                wal_start, _wal_end, clock = struct.unpack_from(">QQq", frame, 1)
                if wal_start > self.current_lsn:
                    self.current_lsn = wal_start
                rows = self.decoder.feed(frame[25:], wal_start)
                tx_lsn = self.decoder.tx_lsn
                if not self._is_acked(wal_start, tx_lsn):
                    if rows and wal_start > hwm:
                        hwm = wal_start
                        progress_since_copydone = True
                    for r in rows:
                        self._last_row = (wal_start, tx_lsn)
                        yield wal_start, r
                self._maybe_status(clock)
                continue
            # unexpected frame: the reference logs and continues
        # close() sends a final status before disconnecting
        self._send_status(self._last_status_clock or 0)

    def stream_rows(self):
        """Envelope rows only (transcript-wide), for DataFrame assembly."""
        return [r for _, r in self.stream()]


def _refuse_nulls(value, dtype) -> None:
    """Raise on a None where ``dtype`` forbids one — the nullability
    half of createDataFrame's row check, which pyarrow does not make
    (it does raise on a value of the wrong type)."""
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            v = value.get(f.name)
            if v is not None:
                _refuse_nulls(v, f.dataType)
            elif not f.nullable:
                raise ValueError(f"field {f.name!r} is not nullable, got None")
    elif isinstance(dtype, (T.ArrayType, T.MapType)):
        array = isinstance(dtype, T.ArrayType)
        inner = dtype.elementType if array else dtype.valueType
        for v in value if array else value.values():
            if v is not None:
                _refuse_nulls(v, inner)
            elif not (dtype.containsNull if array else dtype.valueContainsNull):
                raise ValueError(f"{dtype.simpleString()} holds a None")


def stage_envelope_rows(spark, rows: list[dict], schema, wal_dir: str) -> None:
    """Publish envelope row dicts as ONE parquet file,
    ``<wal_dir>/part-<uuid4>.parquet``.

    pyarrow writes the file into memory and fsio's tmp-then-rename puts
    it in place, so staging runs no Spark job and works on any Hadoop
    filesystem; the tmp name starts with ``.``, which Spark's file
    source skips, so a reader tailing ``wal_dir`` only ever sees
    complete files.  A row with a value of the wrong type or a None in
    a non-nullable field raises before any file becomes visible.
    Naive datetimes are stored as that instant in UTC
    (types/envelope.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    for row in rows:
        _refuse_nulls(row, schema)
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    path = fsio.join(wal_dir, f"part-{uuid.uuid4()}.parquet")
    fsio.write_file_atomic(spark, path, buf.getvalue().to_pybytes())


# rows per flush of both ingest entry points
_FLUSH_ROWS = 1000


def _ingest(spark, session: WalSenderSession, route, batch_rows: int) -> dict[str, int]:
    """The capture loop of both ingest entry points: receive → stage →
    ack LSN, the reference producer's loop.  ``route(row)`` gives a
    row's staging dir and envelope schema, or None to skip it.  Every
    ``batch_rows`` rows consumed, each dir's buffered rows become one
    file (:func:`stage_envelope_rows`), and only once all are in place
    is the session acked up to the last row consumed, skipped rows
    included.  A crash before the ack re-delivers the flush (the
    applier's same-LSN merge no-ops it); a flush that raises acks
    nothing.  Returns {staging dir: rows staged}."""
    groups: dict[str, list[dict]] = {}
    schemas: dict = {}
    staged: dict[str, int] = {}
    consumed = last = 0

    def flush() -> None:
        for d, rows in groups.items():
            stage_envelope_rows(spark, rows, schemas[d], d)
            staged[d] = staged.get(d, 0) + len(rows)
        groups.clear()
        session.ack(last)  # durable → confirm (crash before this re-sends)

    for last, row in session.stream(stop_on_copydone=True):
        dest = route(row)
        if dest is not None:
            d, schemas[d] = dest
            groups.setdefault(d, []).append(row)
        consumed += 1
        if consumed % batch_rows == 0:
            flush()
    flush()
    return staged


def ingest_transcript(
    spark,
    session: WalSenderSession,
    wal_dir: str,
    row_schema,
    *,
    batch_rows: int = _FLUSH_ROWS,
) -> int:
    """Drain a walsender session into staged envelope parquet under
    ``wal_dir`` — the directory the streaming pipeline tails
    (streaming.read_envelope_stream → CdcApplier).  Each flush of up to
    ``batch_rows`` rows becomes one Arrow-written file, acked once it is
    in place (:func:`_ingest`).  Returns rows written."""
    from creek_spark.types.envelope import envelope_schema

    dest = (wal_dir, envelope_schema(row_schema))
    return sum(_ingest(spark, session, lambda row: dest, batch_rows).values())


def ingest_transcript_tables(
    spark,
    session: WalSenderSession,
    wal_dir: str,
    registry=None,
    *,
    only: list[str] | None = None,
) -> dict[str, int]:
    """Daemon-grade ingestion: drain a session into one staging dir per
    qualified table, ``wal_dir/<schema>_<table>`` — the per-table layout
    the daemon tails — flushing every :data:`_FLUSH_ROWS` rows as
    :func:`_ingest` does.  Each table's envelope schema comes from the
    ROW SCHEMA of its current Relation declaration in the stream
    (exactly how the reference builds its publish schema from the
    RelationMessage), which is optionally registered.  Rows of tables
    outside ``only`` are skipped but still acked.

    Returns {qualified_table: rows_written}."""
    from creek_spark.types.envelope import envelope_schema
    from creek_spark.types.pgtypes import pg_relation_to_struct

    if registry is not None:
        # register EVERY schema generation as it is declared — the
        # reference persists a schema per RelationMessage
        # (replication.go:318-363 → PersistSchemaFromRelation), so a
        # mid-stream ALTER TABLE leaves both fingerprints queryable
        session.decoder.on_relation = lambda rel: registry.put(
            pg_relation_to_struct(rel),
            source=f"{rel.namespace}.{rel.name}",
        )
    dests: dict[tuple[str, str], tuple] = {}  # (table, generation) → dest
    tables: dict[str, str] = {}  # staging dir → table

    def route(row):
        qname = f"{row['source']['schema']}.{row['source']['table']}"
        if only and qname not in only:
            return None
        key = (qname, row["fingerprint"])
        if key not in dests:
            rel = {
                f"{r.namespace}.{r.name}": r
                for r in session.decoder.relations.values()
            }[qname]
            row_schema = pg_relation_to_struct(rel)
            if registry is not None and registry.last_for_source(qname) is None:
                registry.put(row_schema, source=qname)
            sub = os.path.join(wal_dir, qname.replace(".", "_"))
            tables[sub] = qname
            dests[key] = (sub, envelope_schema(row_schema))
        return dests[key]

    written = _ingest(spark, session, route, _FLUSH_ROWS)
    return {tables[d]: n for d, n in written.items()}


# -- v3 wire-protocol socket transport ---------------------------------
#
# The reference's capture loop speaks the PostgreSQL frontend/backend
# protocol over a live socket (pgconn inside pglogrepl): startup with
# replication=database, simple-query START_REPLICATION, then CopyBoth
# streaming.  SocketTransport implements that client side against any
# server speaking the protocol — the sandbox has no Postgres, so
# TranscriptServer (below) replays a recorded transcript over real TCP,
# which exercises every byte of the client path.  Message framing per
# the public "Frontend/Backend Protocol" docs: one type byte ('R' auth,
# 'S' parameter, 'Z' ready, 'W' CopyBothResponse, 'd' CopyData,
# 'c' CopyDone, 'E' error) + i32 length (self-inclusive) + payload;
# the startup packet alone has no type byte.

_PROTO_V3 = 196608


def _read_exact(sock, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("connection closed")
        buf += chunk
    return buf


def _read_msg(sock) -> tuple[str, bytes]:
    tag = _read_exact(sock, 1)
    (length,) = struct.unpack(">i", _read_exact(sock, 4))
    return tag.decode(), _read_exact(sock, length - 4)


def _send_msg(sock, tag: str, payload: bytes) -> None:
    sock.sendall(tag.encode() + struct.pack(">i", len(payload) + 4) + payload)


def _simple_query(sock, sql: str) -> list[list[bytes | None]]:
    """Run one simple-protocol query ('Q') and collect its DataRows
    (text-format cells; None for SQL NULL) until ReadyForQuery.  An
    ErrorResponse raises after draining to 'Z' so the connection stays
    usable — the recovery pgconn applies on a failed simple query."""
    _send_msg(sock, "Q", sql.encode() + b"\x00")
    rows: list[list[bytes | None]] = []
    err: bytes | None = None
    while True:
        tag, payload = _read_msg(sock)
        if tag == "D":
            (ncols,) = struct.unpack_from(">h", payload)
            off, row = 2, []
            for _ in range(ncols):
                (ln,) = struct.unpack_from(">i", payload, off)
                off += 4
                if ln < 0:
                    row.append(None)
                else:
                    row.append(payload[off : off + ln])
                    off += ln
            rows.append(row)
        elif tag == "E":
            err = payload
        elif tag == "Z":
            if err is not None:
                raise ConnectionError(f"query failed: {err!r} ({sql})")
            return rows
        # 'T' RowDescription / 'C' CommandComplete / 'N' notice: skip


def dial_pg(addr, user: str, database: str, *, replication: bool = False):
    """Open a TCP connection and run the v3 startup handshake; returns
    the ready socket.  ``replication=True`` adds ``replication=database``
    (walsender mode, init.go:157-160); False is a plain SQL session —
    used by the bootstrap catalog queries and the parallel-snapshot
    coordinator (sources/snapshot_export.py)."""
    import socket as _socket

    sock = _socket.create_connection(addr, timeout=30)
    params = {"user": user, "database": database}
    if replication:
        params["replication"] = "database"
    body = struct.pack(">i", _PROTO_V3)
    for k, v in params.items():
        body += k.encode() + b"\x00" + v.encode() + b"\x00"
    body += b"\x00"
    sock.sendall(struct.pack(">i", len(body) + 4) + body)
    # drain auth/parameter messages until ReadyForQuery
    while True:
        tag, payload = _read_msg(sock)
        if tag == "R":
            (code,) = struct.unpack_from(">i", payload)
            if code != 0:
                raise ConnectionError(f"unsupported auth method {code}")
        elif tag == "E":
            raise ConnectionError(f"server error during startup: {payload!r}")
        elif tag == "Z":
            return sock
        # 'S' ParameterStatus / 'K' BackendKeyData: informational


class SocketTransport:
    """Walsender client over a real TCP socket, presenting the same
    ``frames()``/``send_*`` surface as TranscriptTransport so
    WalSenderSession is transport-agnostic.

    ``send_start`` performs the full (re)connect dance: startup packet
    with ``replication=database`` (init.go / connectSlot's
    RuntimeParams), auth-ok + parameter/ready drain, then the
    START_REPLICATION simple query and the CopyBothResponse wait —
    exactly the sequence pglogrepl.StartReplication drives."""

    def __init__(self, host: str, port: int, *, user: str = "creek",
                 database: str = "postgres", slot: str = "creek",
                 publication: str = "creek", reconnect_attempts: int = 3,
                 reconnect_backoff_s: float = 0.2):
        self.addr = (host, port)
        self.user, self.database = user, database
        self.slot, self.publication = slot, publication
        self.sock = None
        # observability parity with transcripts (last MAX_SENT each)
        self.sent: deque[tuple] = deque(maxlen=MAX_SENT)
        self.sent_raw: deque[bytes] = deque(maxlen=MAX_SENT)
        # tryConnect parity (replication.go:583-599): on connection loss
        # the client redials with backoff; the reference retries forever,
        # a library bounds it and surfaces the failure
        self.reconnect_attempts = reconnect_attempts
        self.reconnect_backoff_s = reconnect_backoff_s
        self._drops = 0

    # -- handshake ----------------------------------------------------

    def _dial(self, *, replication: bool):
        """Open a fresh connection and run the startup handshake —
        module-level :func:`dial_pg` with this transport's identity."""
        return dial_pg(
            self.addr, self.user, self.database, replication=replication
        )

    def _connect(self) -> None:
        if self.sock is not None:
            try:
                self.sock.close()
            except OSError:
                pass
        self.sock = self._dial(replication=True)

    # -- producer-side bootstrap (init.go:120-206 parity) -------------

    def ensure_bootstrap(self, tables: list[str] | None = None) -> int:
        """Create-or-reuse the publication and replication slot, exactly
        the daemon-startup sequence of the reference's
        ``ensurePublication`` + ``connectSlot`` (internal/dao/
        init.go:120-145, 147-206):

        1. On a regular connection, query ``pg_publication``; if the
           publication is absent, ``CREATE PUBLICATION ... FOR TABLE
           <tables> WITH (publish_via_partition_root = true)``.
        2. Query the slot's ``confirmed_flush_lsn``; if the slot exists,
           that LSN is the resume point.
        3. Otherwise, on a replication connection: ``IDENTIFY_SYSTEM``
           for the current WAL position, then ``CREATE_REPLICATION_SLOT
           <slot> LOGICAL pgoutput`` (permanent, logical) — streaming
           starts from the identify position.

        Returns the start LSN.  The reference keeps the slot-creating
        replication connection open and starts streaming on it; this
        client reconnects in :meth:`send_start` — one extra handshake,
        identical protocol state.  Queries inline QUOTED literals /
        identifiers where the reference uses pgx bind parameters and raw
        fmt.Sprintf interpolation (init.go:124-135); the SQL text is
        otherwise the same."""
        check_slot_name(self.slot)
        sql = self._dial(replication=False)
        try:
            rows = _simple_query(
                sql,
                "SELECT count(pub) > 0 AS exists, count(pub_rel) "
                "FROM pg_catalog.pg_publication pub "
                "LEFT JOIN pg_catalog.pg_publication_rel pub_rel "
                "ON pub.oid = pub_rel.prpubid "
                f"WHERE pub.pubname = {pg_quote_literal(self.publication)}",
            )
            exists = bool(rows) and rows[0][0] == b"t"
            if not exists and tables is not None:
                if not tables:
                    # an EXPLICITLY empty list would emit `FOR TABLE
                    # WITH` — a syntax error a real primary rejects but
                    # a lenient test backend would mask
                    raise ValueError(
                        f"publication {self.publication!r} does not exist "
                        "and no tables were given to create it with"
                    )
                _simple_query(
                    sql,
                    f"CREATE PUBLICATION {pg_quote_ident(self.publication)} "
                    "FOR TABLE "
                    f"{', '.join(pg_quote_ident(t) for t in tables)} "
                    "WITH (publish_via_partition_root = true)",
                )
                self.sent.append(("create_publication", self.publication))
            # tables=None + missing publication: the publication is
            # managed externally (the daemon was started without table
            # config) — creation is skipped and a real primary surfaces
            # `publication does not exist` at START_REPLICATION, the
            # honest failure point, instead of broken DDL here
            slot_rows = _simple_query(
                sql,
                "SELECT confirmed_flush_lsn FROM pg_get_replication_slots() "
                f"WHERE slot_name = {pg_quote_literal(self.slot)}",
            )
        finally:
            try:
                _send_msg(sql, "X", b"")  # Terminate
                sql.close()
            except OSError:
                pass
        if slot_rows and slot_rows[0][0] is not None:
            lsn = parse_lsn(slot_rows[0][0].decode())
            self.sent.append(("slot_resume", self.slot, lsn))
            return lsn
        repl = self._dial(replication=True)
        try:
            ident = _simple_query(repl, "IDENTIFY_SYSTEM")
            xlogpos = parse_lsn(ident[0][2].decode())
            _simple_query(
                repl, f"CREATE_REPLICATION_SLOT {self.slot} LOGICAL pgoutput"
            )
            self.sent.append(("create_slot", self.slot, xlogpos))
        finally:
            try:
                _send_msg(repl, "X", b"")
                repl.close()
            except OSError:
                pass
        return xlogpos

    def send_start(self, lsn: int) -> None:
        import time as _time

        last_err = None
        for attempt in range(self.reconnect_attempts + 1):
            try:
                self._connect()
                last_err = None
                break
            except (ConnectionError, OSError) as e:
                last_err = e
                _time.sleep(self.reconnect_backoff_s * (2**attempt))
        if last_err is not None:
            raise last_err
        q = (
            f"START_REPLICATION SLOT {check_slot_name(self.slot)} "
            f"LOGICAL {lsn_str(lsn)} "
            "(proto_version '1', "
            f"publication_names {pg_quote_literal(self.publication)})"
        )
        _send_msg(self.sock, "Q", q.encode() + b"\x00")
        # wait for CopyBothResponse; 'E' means the server rejected it
        while True:
            tag, payload = _read_msg(self.sock)
            if tag == "W":
                break
            if tag == "E":
                raise ConnectionError(f"START_REPLICATION rejected: {payload!r}")
        self.sent.append(("start", lsn))

    # -- streaming ----------------------------------------------------

    def frames(self):
        """Yield CopyData payloads (hex, matching TranscriptTransport)
        until the server ends the copy stream or the connection stays
        down past the reconnect budget.  A drop is surfaced to the
        session as '!disconnect' — the session then re-STARTs from its
        acked LSN (send_start redials with backoff), mirroring the
        reference's conn-closed → tryConnect → StartReplication path
        (replication.go:137-148)."""
        while True:
            try:
                tag, payload = _read_msg(self.sock)
            except (ConnectionError, OSError):
                self._drops += 1
                if self._drops > self.reconnect_attempts:
                    return  # budget exhausted: session sends final status
                yield "!disconnect"
                continue
            self._drops = 0  # healthy read resets the budget
            if tag == "d":
                yield payload.hex()
            elif tag == "c":
                yield "!copydone"
            elif tag == "Z":
                return  # ReadyForQuery after our CopyDone: stream over
            elif tag == "E":
                # reference: Sync → ReadyForQuery → restart replication
                _send_msg(self.sock, "S", b"")
                while True:
                    t2, _ = _read_msg(self.sock)
                    if t2 == "Z":
                        break
                yield "!disconnect"  # session re-STARTs from acked LSN

    def send_copydone(self) -> None:
        self.sent.append(("copydone",))
        try:
            _send_msg(self.sock, "c", b"")
        except OSError:
            pass

    def send_status(self, write: int, flush: int, apply: int, clock: int, reply: int) -> None:
        frame = b"r" + struct.pack(">QQQqB", write, flush, apply, clock, reply)
        self.sent.append(("status", write, flush, apply, reply))
        self.sent_raw.append(frame)
        try:
            _send_msg(self.sock, "d", frame)
        except OSError:
            pass  # final status after server close is best-effort


class TranscriptServer:
    """Replay/test harness: a TCP server speaking the walsender BACKEND
    side from a recorded transcript — auth-ok handshake, CopyBoth on
    START_REPLICATION, one CopyData per transcript frame, CopyDone
    handoff — so the socket client path is exercised byte-for-byte
    without a Postgres.  Frames at or below the client's requested START
    LSN are skipped (confirmed_flush semantics).  Records every client
    message in ``received`` for assertions."""

    def __init__(self, transcript_path: str, *, host: str = "127.0.0.1",
                 drop_after: int | None = None,
                 publications: dict[str, list[str]] | None = None,
                 slots: dict[str, int] | None = None,
                 strict_bootstrap: bool = False,
                 xlogpos: int = 0):
        import socket as _socket
        import threading

        # fault injection: abruptly close the FIRST connection after N
        # CopyData frames (subsequent connections serve normally) — the
        # chaos knob for the client's reconnect-with-resume path
        self.drop_after = drop_after
        self._first_conn_handled = False
        with open(transcript_path) as f:
            self.lines = [
                ln.strip()
                for ln in f
                if ln.strip() and not ln.strip().startswith("#")
            ]
        self.received: list[tuple] = []
        # backend catalog state for the bootstrap round-trips
        # (pg_publication / replication slots): pre-seed to model an
        # already-provisioned primary, leave empty for a fresh one.
        # confirmed_flush_lsn advances from the client's standby status
        # updates, exactly as a walsender advances the physical slot.
        self.publications: dict[str, list[str]] = dict(publications or {})
        self.slots: dict[str, int] = dict(slots or {})
        # strict mode: START_REPLICATION on an unknown slot is an
        # ErrorResponse (a real primary's `replication slot ... does not
        # exist`), forcing clients through ensure_bootstrap first
        self.strict_bootstrap = strict_bootstrap
        self.xlogpos = xlogpos
        # thread-per-connection backend: the active slot is threaded
        # through _handle/_drain_client/_record as a per-connection
        # LOCAL (two concurrent streams must not clobber each other's
        # confirmed_flush advancement); the drop-after fault-injection
        # flag is the one genuinely shared bit, guarded by a lock
        self._drop_lock = threading.Lock()
        # exported-snapshot state (pg_export_snapshot / SET TRANSACTION
        # SNAPSHOT semantics for the parallel-snapshot coordinator): a
        # snapshot id is adoptable only while its exporting transaction
        # is open — COMMIT/ROLLBACK on the exporting connection kills it.
        self.snapshots: dict[str, bool] = {}  # id → alive
        self.adoptions: list[str] = []
        self._conn_exports: dict[int, str] = {}
        self._export_seq = 0
        self._srv = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
        self._srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
        self._srv.bind((host, 0))
        self._srv.listen(4)
        self.port = self._srv.getsockname()[1]
        self._stop = False
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self._stop = True
        try:
            self._srv.close()
        except OSError:
            pass

    # -- backend conversation -----------------------------------------

    def _serve(self) -> None:
        import threading

        def one(conn):
            try:
                self._handle(conn)
            except (ConnectionError, OSError):
                pass
            finally:
                try:
                    conn.close()
                except OSError:
                    pass

        # thread-per-connection: the parallel-snapshot coordinator keeps
        # its pinning connection open while worker connections adopt the
        # exported snapshot — a sequential accept loop would deadlock
        while not self._stop:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=one, args=(conn,), daemon=True).start()

    # -- simple-query result senders ----------------------------------

    @staticmethod
    def _send_rows(conn, names: list[str], rows: list[list[bytes | None]],
                   tag: str = "SELECT") -> None:
        """RowDescription + DataRows + CommandComplete (text format,
        type oid 25) — the v3 simple-query result shape."""
        desc = struct.pack(">h", len(names))
        for n in names:
            desc += n.encode() + b"\x00" + struct.pack(">ihihih", 0, 0, 25, -1, -1, 0)
        _send_msg(conn, "T", desc)
        for row in rows:
            body = struct.pack(">h", len(row))
            for cell in row:
                if cell is None:
                    body += struct.pack(">i", -1)
                else:
                    body += struct.pack(">i", len(cell)) + cell
            _send_msg(conn, "D", body)
        _send_msg(conn, "C", f"{tag} {len(rows)}".encode() + b"\x00")

    def _dispatch_query(self, conn, query: str) -> bool:
        """Answer one non-replication-stream simple query against the
        catalog state; returns False when the query is START_REPLICATION
        (caller streams) — the backend command set the bootstrap needs:
        publication existence/create (init.go:120-145), slot lookup/
        IDENTIFY_SYSTEM/CREATE_REPLICATION_SLOT (init.go:147-206)."""
        q = query.strip()
        up = q.upper()
        if up.startswith("START_REPLICATION"):
            return False
        if up.startswith("BEGIN") and "SET TRANSACTION SNAPSHOT" in up:
            # the adoption batch a JDBC partition's sessionInitStatement
            # sends: BEGIN ...; SET TRANSACTION SNAPSHOT '<id>' — one
            # simple-query message, two statements, ONE ReadyForQuery
            snap_id = q.rsplit("'", 2)[-2]
            _send_msg(conn, "C", b"BEGIN\x00")
            if self.snapshots.get(snap_id):
                self.adoptions.append(snap_id)
                _send_msg(conn, "C", b"SET\x00")
            else:
                _send_msg(
                    conn,
                    "E",
                    b"SERROR\x00C22023\x00Msnapshot \""
                    + snap_id.encode()
                    + b"\" does not exist\x00\x00",
                )
            _send_msg(conn, "Z", b"I")
            return True
        if up.startswith("BEGIN"):
            _send_msg(conn, "C", b"BEGIN\x00")
        elif "pg_export_snapshot" in q:
            self._export_seq += 1
            snap_id = f"00000003-{self._export_seq:08d}-1"
            self.snapshots[snap_id] = True
            self._conn_exports[id(conn)] = snap_id
            self._send_rows(
                conn,
                ["pg_export_snapshot", "pg_current_wal_lsn", "txid_current", "now"],
                [[
                    snap_id.encode(),
                    lsn_str(self.xlogpos).encode(),
                    str(1000 + self._export_seq).encode(),
                    b"2026-01-01T00:00:00+00:00",
                ]],
            )
        elif up.startswith(("COMMIT", "ROLLBACK")):
            exported = self._conn_exports.pop(id(conn), None)
            if exported is not None:
                self.snapshots[exported] = False  # no longer adoptable
            _send_msg(conn, "C", up.split()[0].encode() + b"\x00")
        elif up.startswith("IDENTIFY_SYSTEM"):
            self._send_rows(
                conn,
                ["systemid", "timeline", "xlogpos", "dbname"],
                [[b"7000000000000000001", b"1",
                  lsn_str(self.xlogpos).encode(), b"postgres"]],
                tag="IDENTIFY_SYSTEM",
            )
        elif up.startswith("CREATE_REPLICATION_SLOT"):
            name = q.split()[1]
            self.slots[name] = self.xlogpos
            self._send_rows(
                conn,
                ["slot_name", "consistent_point", "snapshot_name", "output_plugin"],
                [[name.encode(), lsn_str(self.xlogpos).encode(), None, b"pgoutput"]],
                tag="CREATE_REPLICATION_SLOT",
            )
        elif "pg_publication" in q and up.startswith("SELECT"):
            pub = q.rsplit("'", 2)[-2]
            tables = self.publications.get(pub)
            self._send_rows(
                conn,
                ["exists", "count"],
                [[b"t" if tables is not None else b"f",
                  str(len(tables or [])).encode()]],
            )
        elif up.startswith("CREATE PUBLICATION"):
            # store NORMALIZED names, as the real pg_publication catalog
            # would after parsing the quoted identifiers
            name = _unquote_ident(q.split()[2])
            tbl_txt = q.split(" FOR TABLE ", 1)[1].split(" WITH ")[0]
            self.publications[name] = [
                _unquote_ident(t.strip()) for t in tbl_txt.split(",") if t.strip()
            ]
            _send_msg(conn, "C", b"CREATE PUBLICATION\x00")
        elif up.startswith("ALTER PUBLICATION"):
            name = _unquote_ident(q.split()[2])
            tbl = _unquote_ident(q.rsplit(" ", 1)[-1])
            self.publications.setdefault(name, []).append(tbl)
            _send_msg(conn, "C", b"ALTER PUBLICATION\x00")
        elif "confirmed_flush_lsn" in q:
            slot = q.rsplit("'", 2)[-2]
            rows = (
                [[lsn_str(self.slots[slot]).encode()]]
                if slot in self.slots
                else []
            )
            self._send_rows(conn, ["confirmed_flush_lsn"], rows)
        else:
            _send_msg(conn, "E", b"SERROR\x00C42601\x00Munrecognized query\x00\x00")
        _send_msg(conn, "Z", b"I")
        return True

    def _handle(self, conn) -> None:
        # startup packet (no type byte)
        (length,) = struct.unpack(">i", _read_exact(conn, 4))
        body = _read_exact(conn, length - 4)
        (proto,) = struct.unpack_from(">i", body)
        kv = body[4:].rstrip(b"\x00").split(b"\x00")
        params = dict(zip(kv[::2], kv[1::2]))
        self.received.append(("startup", proto, {k.decode(): v.decode() for k, v in params.items()}))
        _send_msg(conn, "R", struct.pack(">i", 0))  # AuthenticationOk
        _send_msg(conn, "S", b"server_version\x0016.0\x00")
        _send_msg(conn, "Z", b"I")
        # simple-query loop: catalog/bootstrap commands answered inline;
        # START_REPLICATION falls through to the CopyBoth stream
        while True:
            tag, payload = _read_msg(conn)
            if tag == "X":
                return  # client Terminate
            if tag != "Q":
                raise ConnectionError(f"expected Query, got {tag}")
            query = payload.rstrip(b"\x00").decode()
            self.received.append(("query", query))
            if not self._dispatch_query(conn, query):
                break
        start_lsn = 0
        if " LOGICAL " in query:
            start_lsn = parse_lsn(query.split(" LOGICAL ")[1].split(" ")[0])
        slot_name = query.split()[2] if query.upper().startswith("START_REPLICATION SLOT") else None
        if self.strict_bootstrap and slot_name not in self.slots:
            _send_msg(
                conn, "E",
                b"SERROR\x00C42704\x00Mreplication slot \""
                + (slot_name or "").encode() + b"\" does not exist\x00\x00",
            )
            _send_msg(conn, "Z", b"I")
            return
        _send_msg(conn, "W", struct.pack(">BH", 0, 0))  # CopyBothResponse
        with self._drop_lock:
            drop_budget = (
                self.drop_after if not self._first_conn_handled else None
            )
            self._first_conn_handled = True
        conn.settimeout(0.05)
        # confirmed_flush semantics are TRANSACTION-level: skip whole
        # transactions whose commit (the Begin message's final LSN) is at
        # or below the requested start, resend everything newer — and
        # always resend Relation metadata, which the server re-declares
        # per session before first use.  Keepalives always flow.
        tx_final = 0
        for line in self.lines:
            if line.startswith("!"):
                continue  # directives are transcript-mode only
            frame = bytes.fromhex(line)
            if frame[0:1] == b"w":
                ptag = frame[25:26]
                if ptag == b"B":
                    (tx_final,) = struct.unpack_from(">Q", frame, 26)
                if ptag != b"R" and tx_final <= start_lsn:
                    continue
            _send_msg(conn, "d", frame)
            if drop_budget is not None:
                drop_budget -= 1
                if drop_budget <= 0:
                    conn.close()  # abrupt mid-stream death, no CopyDone
                    return
            self._drain_client(conn, slot_name)
        _send_msg(conn, "c", b"")  # server ends the copy stream
        # read until client CopyDone (collecting status updates)
        conn.settimeout(5)
        try:
            while True:
                tag, payload = _read_msg(conn)
                self._record(tag, payload, slot_name)
                if tag == "c":
                    break
        except (ConnectionError, OSError):
            return
        _send_msg(conn, "Z", b"I")

    def _drain_client(self, conn, active_slot: str | None = None) -> None:
        try:
            while True:
                tag, payload = _read_msg(conn)
                self._record(tag, payload, active_slot)
        except (TimeoutError, OSError):
            pass

    def _record(
        self, tag: str, payload: bytes, active_slot: str | None = None
    ) -> None:
        if tag == "d" and payload[:1] == b"r":
            w, f, a, clock, reply = struct.unpack_from(">QQQqB", payload, 1)
            self.received.append(("status", w, f, a, reply))
            # a status update's flush position advances the slot's
            # confirmed_flush_lsn, exactly as the walsender advances the
            # physical slot — a later bootstrap resumes from here.
            # active_slot is the CONNECTION's slot (threaded through from
            # _handle), so concurrent streams on different slots advance
            # independently
            if active_slot is not None:
                self.slots[active_slot] = max(
                    self.slots.get(active_slot, 0), f
                )
        elif tag == "c":
            self.received.append(("copydone",))
        else:
            self.received.append((tag, payload))
