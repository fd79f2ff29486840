"""The CDC envelope schema — the engine's core stream element.

Mirrors the reference's WAL message (messages.go:38-45) and its Avro
schema construction (messages.go:58-89): `before` is the *key-only* record
shape, `after` the full-row shape (internal/dao/schemas.go:97 passes
relation.KeySchema as before, relation.Schema as after).

Per-op population rules (internal/dao/replication.go):
    c     insert      before=null, after=full row              (368-397)
    u     update      before=KEY COLUMNS ONLY, after=full row  (399-454)
    u_pk  update w/ PK change: before=FULL OLD ROW             (425-427)
    d     delete      before=old tuple (per replica identity), after=null (456-491)
    t     truncate    both null, one message per relation      (493-518)
    r     read/snapshot row (reserved in the reference, messages.go:82)

TOAST caveat: an unchanged TOAST column is *omitted* from the reference's
`after` map (replication.go:527-528).  Spark structs cannot omit fields, so
the envelope carries `unchanged_toast array<string>` listing columns whose
`after` value must be treated as "unchanged", not NULL; merge logic must skip
them (SURVEY.md §7 "What's hard").
"""

from __future__ import annotations

from pyspark.sql import types as T

# 'r' is declared by the reference's published enum but never produced
# (messages.go:82); we produce it for snapshot rows folded into a stream.
OPS = ("c", "u", "u_pk", "d", "t", "r")


def source_schema() -> T.StructType:
    """MessageSource (messages.go:28-36): producer name, commit time, db,
    namespace, table, xid, and the pg XXX/XXX-form LSN."""
    return T.StructType(
        [
            T.StructField("name", T.StringType(), False),
            T.StructField("tx_at", T.TimestampType(), False),
            T.StructField("db", T.StringType(), False),
            T.StructField("schema", T.StringType(), False),
            T.StructField("table", T.StringType(), False),
            T.StructField("tx_id", T.LongType(), False),
            T.StructField("lsn", T.StringType(), False),
        ]
    )


def envelope_schema(
    row_schema: T.StructType,
    key_schema: T.StructType | None = None,
) -> T.StructType:
    """Envelope for one table: before=key-shape, after=row-shape
    (messages.go:58-89).  Pass key_schema=None to derive it from ``pgKey``
    field metadata; pass row_schema as key_schema for replica-identity-full
    tables (then 'u' carries the full old row, like the reference under
    REPLICA IDENTITY FULL)."""
    if key_schema is None:
        from creek_spark.types.pgtypes import key_columns

        keys = set(key_columns(row_schema)) or {f.name for f in row_schema.fields}
        key_schema = T.StructType([f for f in row_schema.fields if f.name in keys])
    return T.StructType(
        [
            T.StructField("fingerprint", T.StringType(), False),
            T.StructField("source", source_schema(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("sent_at", T.TimestampType(), False),
            T.StructField("before", key_schema, True),
            T.StructField("after", row_schema, True),
            T.StructField("unchanged_toast", T.ArrayType(T.StringType()), True),
        ]
    )

