"""Pure-Python decoder for PostgreSQL's ``pgoutput`` logical-replication
binary protocol — the wire format the reference consumes live
(internal/dao/replication.go:368-518 via pglogrepl) — written from the
PUBLIC protocol documentation ("Logical Replication Message Formats",
PostgreSQL docs §55.5 / protocol.sgml).

The sandbox has no PostgreSQL, so this decoder is exercised against
RECORDED byte fixtures (tests/test_pgoutput.py) that mirror the
semantics of the reference's integration tests
(integration_tests/listen_test.go:14-138): insert / plain update (key-
only before-image) / PK-changing update (full old tuple) / delete /
truncate / unchanged-TOAST omission.  Decoded changes match the envelope
declared by types/envelope.py row-for-row, so a live capture could be
replayed through the exact same downstream operators.

Message framing decoded (one letter tag + big-endian fields, all public):

    'B' Begin:    final_lsn u64, commit_ts µs-since-2000 i64, xid u32
    'C' Commit:   flags u8, commit_lsn u64, end_lsn u64, commit_ts i64
    'R' Relation: relid u32, ns cstr, name cstr, replident u8,
                  ncols u16, then per column: flags u8 (1 = identity
                  key), name cstr, type_oid u32, typmod i32
    'I' Insert:   relid u32, 'N', TupleData
    'U' Update:   relid u32, optional ('K'|'O') + old TupleData,
                  'N' + new TupleData
    'D' Delete:   relid u32, ('K'|'O') + old TupleData
    'T' Truncate: nrels u32, options u8, relids u32×n
    'Y'/'O'/'M'   Type / Origin / logical Message: skipped
    TupleData:    ncols u16, per column one tag: 'n' NULL,
                  'u' unchanged TOAST, 't' len u32 + text bytes,
                  'b' len u32 + binary bytes

Per-op envelope rules replicate the reference exactly
(replication.go:368-518):

    Insert            → op 'c', before=NULL, after=full row
    Update w/o old    → op 'u',  before=KEY COLUMNS of the NEW tuple
    Update w/ K|O old → op 'u_pk', before=FULL OLD tuple
    Delete            → op 'd', before=old tuple, after=NULL
    Truncate          → op 't' per relation, both images NULL
    unchanged TOAST   → column omitted from after (kept as NULL) and its
                        name appended to unchanged_toast
                        (replication.go:527-528)
"""

from __future__ import annotations

import datetime as _dt
import functools
import re
import struct
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Context, Decimal

from creek_spark.types.pgtypes import PGColumn, PGRelation, pg_type_to_spark

_PG_EPOCH = _dt.datetime(2000, 1, 1, tzinfo=_dt.timezone.utc)

# public pg_type OIDs → catalog type names (pg_type.dat); unknowns fall
# back to text, matching the reference's text fallback
OID_NAMES = {
    16: "bool",
    17: "bytea",
    20: "int8",
    21: "int2",
    23: "int4",
    25: "text",
    700: "float4",
    701: "float8",
    1042: "bpchar",
    1043: "varchar",
    1082: "date",
    1083: "time",
    1114: "timestamp",
    1184: "timestamptz",
    1700: "numeric",
    2950: "uuid",
}


def lsn_str(lsn: int) -> str:
    """u64 → the pg 'XXX/XXX' form the envelope carries."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def _pg_ts(micros: int) -> _dt.datetime:
    return (_PG_EPOCH + _dt.timedelta(microseconds=micros)).replace(tzinfo=None)


_TZ_OFFSET = re.compile(r"([+-])(\d{2})(?::?(\d{2}))?(?::?(\d{2}))?$")


def _timestamp_strptime(s: str) -> _dt.datetime:
    """The regex + strptime parse, kept for any text that
    ``datetime.fromisoformat`` rejects."""
    base, offset = s, None
    if base.endswith("Z"):
        base, offset = base[:-1], _dt.timedelta(0)
    else:
        m = _TZ_OFFSET.search(base)
        if m and ("-" in base[10:] or "+" in base[10:]):
            sign = -1 if m.group(1) == "-" else 1
            offset = sign * _dt.timedelta(
                hours=int(m.group(2)),
                minutes=int(m.group(3) or 0),
                seconds=int(m.group(4) or 0),
            )
            base = base[: m.start()]
    fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in base else "%Y-%m-%d %H:%M:%S"
    ts = _dt.datetime.strptime(base.strip(), fmt)
    return ts - offset if offset is not None else ts


def _timestamp(s: str):
    # Postgres renders timestamptz with the server's UTC offset —
    # '+HH[:MM[:SS]]' east of UTC, '-HH[:MM[:SS]]' west (a US server
    # prints '... -08'), or 'Z'.  Convert to UTC, then drop tzinfo
    # (envelope timestamps are naive UTC); naive 'timestamp' values pass
    # through unchanged.
    if s in ("infinity", "-infinity"):
        return s
    try:
        ts = _dt.datetime.fromisoformat(s)
    except ValueError:
        return _timestamp_strptime(s)
    off = ts.utcoffset()
    return ts if off is None else ts.replace(tzinfo=None) - off


def _time(s: str) -> int:
    """'HH:MM:SS[.ffffff]' → µs since midnight, the LongType
    types/pgtypes.py maps ``time`` to ('24:00:00' is a valid pg time)."""
    hms, _, frac = s.partition(".")
    h, m, sec = hms.split(":")
    return (
        (int(h) * 3600 + int(m) * 60 + int(sec)) * 1_000_000
        + int(frac.ljust(6, "0")[:6])
    )


def _date(s: str):
    if s in ("infinity", "-infinity"):
        return s
    return _dt.date.fromisoformat(s)


def _numeric(s: str):
    return s if s in ("NaN", "Infinity", "-Infinity") else Decimal(s)


@functools.lru_cache(maxsize=None)
def _numeric_scale(typmod: int) -> int:
    return pg_type_to_spark("numeric", typmod).scale


def _fit_scale(v: Decimal, typmod: int) -> Decimal:
    """Round a numeric datum half up to its column's DecimalType scale,
    as Spark does on a write: an unconstrained ``numeric`` maps to
    DecimalType(38, 18) but can print more fractional digits."""
    scale = _numeric_scale(typmod)
    if v.as_tuple().exponent >= -scale:
        return v
    return v.quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP, Context(prec=80))


# pg type name → text-datum decoder; any other type stays a string —
# bytea too: pg's ``\x..`` hex text is lossless and fits the StringType
# types/pgtypes.py maps it to, where raw bytes would not
_TEXT_DECODERS = {
    "int2": int,
    "int4": int,
    "int8": int,
    "float4": float,
    "float8": float,
    "bool": "t".__eq__,
    "numeric": _numeric,
    "timestamp": _timestamp,
    "timestamptz": _timestamp,
    "date": _date,
    "time": _time,
}


def decode_text_value(raw: bytes, type_oid: int):
    """Text-format column datum → Python value (the decodeTextColumnData
    analog, replication.go:530-539).  Only types the driver data uses get
    native decodes; everything else stays a string."""
    return _decode_named(raw, OID_NAMES.get(type_oid, "text"))


def _decode_named(raw: bytes, pg_type: str):
    s = raw.decode("utf-8")
    dec = _TEXT_DECODERS.get(pg_type)
    return s if dec is None else dec(s)


def _key_of(vals: dict, rel: PGRelation) -> dict:
    """Project decoded values onto the relation's key columns."""
    return {c.name: vals.get(c.name) for c in rel.columns if c.is_key}


@dataclass
class _Tuple:
    # parallel to rel.columns: ('n'|'u'|'t'|'b', value-or-None)
    cols: list[tuple[str, object]] = field(default_factory=list)


class PgOutputDecoder:
    """Stateful decoder: feed raw pgoutput payloads in WAL order (each
    with the XLogData WAL-start LSN the transport supplies) and collect
    envelope row dicts shaped exactly like types/envelope.py."""

    def __init__(self, source_name: str = "creek-spark", db: str = "postgres"):
        self.source_name = source_name
        self.db = db
        self.relations: dict[int, PGRelation] = {}
        self._xid: int | None = None
        # the open transaction's commit LSN (its Begin's final_lsn),
        # None between a Commit and the next Begin
        self.tx_lsn: int | None = None
        self._commit_ts: _dt.datetime | None = None
        # schema-generation tracking: each Relation message fingerprints
        # its StructType (the reference registers a schema per
        # RelationMessage, replication.go:318-363) so every envelope row
        # carries the generation it was decoded under — a mid-stream
        # ALTER TABLE yields rows with two fingerprints in one session
        self._rel_fp: dict[int, str] = {}
        # optional hook fired on every Relation message (the
        # PersistSchemaFromRelation call site): on_relation(PGRelation)
        self.on_relation = None

    # -- primitive readers --------------------------------------------

    @staticmethod
    def _cstr(buf: bytes, off: int) -> tuple[str, int]:
        end = buf.index(b"\x00", off)
        return buf[off:end].decode("utf-8"), end + 1

    def _tuple(self, buf: bytes, off: int) -> tuple[_Tuple, int]:
        (ncols,) = struct.unpack_from(">H", buf, off)
        off += 2
        t = _Tuple()
        for _ in range(ncols):
            tag = chr(buf[off])
            off += 1
            if tag in ("n", "u"):
                t.cols.append((tag, None))
            elif tag in ("t", "b"):
                (ln,) = struct.unpack_from(">I", buf, off)
                off += 4
                t.cols.append((tag, buf[off : off + ln]))
                off += ln
            else:
                raise ValueError(f"bad TupleData tag {tag!r}")
        return t, off

    # -- value extraction (getValues / getKeyValues analogs) ----------

    def _values(self, t: _Tuple, rel: PGRelation):
        """→ (values dict, unchanged_toast names).  'u' columns are
        omitted by the reference; a struct can't omit, so NULL + the
        unchanged_toast list (types/envelope.py docstring)."""
        vals, toast = {}, []
        for (tag, raw), col in zip(t.cols, rel.columns):
            if tag == "n":
                vals[col.name] = None
            elif tag == "u":
                vals[col.name] = None
                toast.append(col.name)
            elif tag == "b":
                # binary-format datum (the publication's binary option,
                # protocol.sgml) — carried as bytea's ``\x..`` hex text;
                # the reference's text pipeline never requests binary, so
                # this is the lossless fallback, not a per-type binary codec
                vals[col.name] = "\\x" + raw.hex()
            else:
                v = _decode_named(raw, col.pg_type)
                if col.pg_type == "numeric" and isinstance(v, Decimal):
                    v = _fit_scale(v, col.typmod)
                vals[col.name] = v
        return vals, toast

    def _before_values(self, t: _Tuple, rel: PGRelation):
        """Old-tuple values projected to the envelope's before shape:
        key columns under default/index replica identity (the old K
        tuple nulls out non-identity columns anyway), the full row under
        REPLICA IDENTITY FULL — exactly the shapes envelope_schema
        declares and listen_test.go asserts (before == {"id": 1} for a
        PK-changing update of a default-identity table)."""
        vals, _ = self._values(t, rel)
        return vals if rel.replica_identity == "f" else _key_of(vals, rel)

    # -- message decode ------------------------------------------------

    def _envelope(self, rel: PGRelation, lsn: int, relid: int | None = None) -> dict:
        return {
            "fingerprint": self._rel_fp.get(relid, ""),
            "source": {
                "name": self.source_name,
                "tx_at": self._commit_ts,
                "db": self.db,
                "schema": rel.namespace,
                "table": rel.name,
                "tx_id": self._xid or 0,
                "lsn": lsn_str(lsn),
            },
            "op": None,
            "sent_at": self._commit_ts,
            "before": None,
            "after": None,
            "unchanged_toast": None,
        }

    def feed(self, payload: bytes, wal_start: int = 0) -> list[dict]:
        """Decode ONE pgoutput message; returns 0..n envelope rows
        (truncate fans out per relation, B/C/R/Y/O/M yield none)."""
        tag = chr(payload[0])
        buf, off = payload, 1
        if tag == "B":
            final_lsn, commit_ts, xid = struct.unpack_from(">QqI", buf, off)
            self._xid = xid
            self.tx_lsn = final_lsn
            self._commit_ts = _pg_ts(commit_ts)
            return []
        if tag == "C":
            self.tx_lsn = None
            return []
        if tag in ("Y", "O", "M"):
            return []
        if tag == "R":
            (relid,) = struct.unpack_from(">I", buf, off)
            off += 4
            ns, off = self._cstr(buf, off)
            name, off = self._cstr(buf, off)
            replident = chr(buf[off])
            off += 1
            (ncols,) = struct.unpack_from(">H", buf, off)
            off += 2
            cols = []
            for _ in range(ncols):
                flags = buf[off]
                off += 1
                cname, off = self._cstr(buf, off)
                oid, typmod = struct.unpack_from(">Ii", buf, off)
                off += 8
                cols.append(
                    PGColumn(cname, OID_NAMES.get(oid, "text"), typmod, flags)
                )
            relation = PGRelation(ns, name, cols, replident)
            self.relations[relid] = relation
            # fingerprint this generation once; decoded rows carry it
            from creek_spark.types.fingerprint import fingerprint_schema
            from creek_spark.types.pgtypes import pg_relation_to_struct

            self._rel_fp[relid] = fingerprint_schema(
                pg_relation_to_struct(relation)
            )
            if self.on_relation is not None:
                self.on_relation(relation)
            return []
        if tag == "I":
            (relid,) = struct.unpack_from(">I", buf, off)
            off += 4
            rel = self._rel(relid)
            if chr(buf[off]) != "N":
                raise ValueError(
                    f"Insert: expected new-tuple tag 'N', got {buf[off]:#x}"
                )
            t, off = self._tuple(buf, off + 1)
            env = self._envelope(rel, wal_start, relid)
            env["op"] = "c"
            env["after"], toast = self._values(t, rel)
            env["unchanged_toast"] = toast or None
            return [env]
        if tag == "U":
            (relid,) = struct.unpack_from(">I", buf, off)
            off += 4
            rel = self._rel(relid)
            old = None
            nxt = chr(buf[off])
            if nxt in ("K", "O"):
                old, off = self._tuple(buf, off + 1)
                nxt = chr(buf[off])
            if nxt != "N":
                raise ValueError(
                    f"Update: expected new-tuple tag 'N', got {nxt!r}"
                )
            new, off = self._tuple(buf, off + 1)
            env = self._envelope(rel, wal_start, relid)
            env["after"], toast = self._values(new, rel)
            env["unchanged_toast"] = toast or None
            if old is not None:  # replication.go:425-427
                env["op"] = "u_pk"
                env["before"] = self._before_values(old, rel)
            else:
                env["op"] = "u"
                env["before"] = _key_of(env["after"], rel)
            return [env]
        if tag == "D":
            (relid,) = struct.unpack_from(">I", buf, off)
            off += 4
            rel = self._rel(relid)
            nxt = chr(buf[off])
            env = self._envelope(rel, wal_start, relid)
            env["op"] = "d"
            if nxt in ("K", "O"):  # replication.go:474-481
                t, off = self._tuple(buf, off + 1)
                env["before"] = self._before_values(t, rel)
            return [env]
        if tag == "T":
            nrels, _options = struct.unpack_from(">IB", buf, off)
            off += 5
            out = []
            for _ in range(nrels):
                (relid,) = struct.unpack_from(">I", buf, off)
                off += 4
                env = self._envelope(self._rel(relid), wal_start, relid)
                env["op"] = "t"
                out.append(env)
            return out
        raise ValueError(f"unknown pgoutput message tag {tag!r}")

    def _rel(self, relid: int) -> PGRelation:
        if relid not in self.relations:
            raise KeyError(f"unknown relation ID: {relid}")  # replication.go:370
        return self.relations[relid]

    def decode_stream(self, messages: list[tuple[int, bytes]]) -> list[dict]:
        """Decode a WAL-ordered [(wal_start_lsn, payload)] capture."""
        out = []
        for lsn, payload in messages:
            out.extend(self.feed(payload, lsn))
        return out


# -- replication-stream transport framing ------------------------------
#
# On the wire each pgoutput message arrives inside a CopyData payload:
#   'w' XLogData: wal_start u64, wal_end u64, server_clock i64, payload
#   'k' Primary keepalive: wal_end u64, server_clock i64, reply u8
# (public docs: "Streaming Replication Protocol", protocol.sgml)


def unwrap_xlogdata(frame: bytes) -> tuple[int, bytes] | None:
    """CopyData frame → (wal_start, pgoutput payload), or None for
    keepalives/unknown frames (the caller's receive loop drops them —
    the reference's pglogrepl does the same before handleMessage)."""
    tag = chr(frame[0])
    if tag == "w":
        (wal_start,) = struct.unpack_from(">Q", frame, 1)
        return wal_start, frame[25:]
    if tag == "k":
        return None
    return None


def decode_capture_file(path: str, **decoder_kw) -> list[dict]:
    """Decode a recorded replication capture: a text file with one
    lowercase-hex CopyData frame per line (blank lines and '#' comments
    skipped).  Returns envelope row dicts in WAL order — the offline
    twin of the live receive loop, so a capture taken against a real
    primary replays through the same operators the staged-envelope
    tests use."""
    dec = PgOutputDecoder(**decoder_kw)
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            unwrapped = unwrap_xlogdata(bytes.fromhex(line))
            if unwrapped is None:
                continue
            wal_start, payload = unwrapped
            out.extend(dec.feed(payload, wal_start))
    return out
