"""Dynamic table add/remove (O18): runtime changes to the subscribed set.

Reference semantics (internal/dao/api.go:15-95, internal/dao/init.go:91-114):
a `LISTEN creek` control channel receives `ADD <schema>.<table>` /
`REMOVE <table>` payloads emitted by the `_creek.add_table/remove_table`
SQL functions; ADD persists the table's initial schema BEFORE the
publication is extended (api.go:82-87), REMOVE just stops the flow —
already-materialized state is retained.  Malformed payloads are logged and
skipped (api.go:76-80).

Spark analog: the WAL staging area carries every table's envelope rows
(one subject per table in the reference maps to a `source.schema/table`
filter here).  Each subscribed table runs as its OWN streaming query with
its OWN checkpoint and hash-bucketed state sink (CdcApplier), so:

  * ADD starts a fresh checkpoint for the new table — it consumes the
    staged stream from the retention horizon with no effect on any other
    table's offsets;
  * existing tables resume from their checkpoints exactly (no loss, no
    re-apply — file-source offsets are per query);
  * REMOVE drops the table from the set; its state directory stays.

The subscribed set is persisted to `tables.json` so a restarted driver
resumes the same subscriptions (the reference keeps this in the
publication's pg_publication_rel).  At 100 TB the per-table-query layout
is also the right scale shape: tables scale out independently, and a
hot table's state sink does not contend with a cold one's.

Filesystem note: unlike the DATA-plane sinks (whose manifests/fences go
through creek_spark.fsio and ride whatever filesystem the data lives
on), this module's control files (`tables.json`, the file-backed
ControlChannel transcript, quarantine/offset files) are deliberately
driver-local POSIX: the ControlChannel appends line-records, and append
is exactly the operation object stores don't offer — it is a stand-in
for the reference's LISTEN/NOTIFY channel, which production replaces
with a message bus (the reference itself uses Postgres NOTIFY + NATS),
not with files on S3.  `tables.json` mirrors whatever durable config
store the deployment already has.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from creek_spark.sources.registry import SchemaRegistry
from creek_spark.streaming import CdcApplier, read_envelope_stream


def _qualify(name: str) -> str:
    """`other` → `public.other` (the reference resolves the namespace via
    pg_class, init.go:103-110; default namespace is public)."""
    return name if "." in name else f"public.{name}"


class DynamicTables:
    """Orchestrates one CDC apply pipeline per subscribed table with
    runtime ADD/REMOVE — the restart path the reference drives over
    LISTEN/NOTIFY."""

    def __init__(
        self,
        spark: SparkSession,
        wal_dir: str,
        base_dir: str,
        registry: SchemaRegistry | None = None,
        *,
        n_buckets: int = 8,
    ):
        """Each table's envelope shape is derived from its registered ROW
        schema (the reference likewise derives the message schema per
        relation)."""
        self.spark = spark
        self.wal_dir = wal_dir
        self.base_dir = base_dir
        self.registry = registry or SchemaRegistry(
            os.path.join(base_dir, "registry")
        )
        self.n_buckets = n_buckets
        os.makedirs(base_dir, exist_ok=True)
        self._tables: dict[str, dict] = {}
        self._running: dict[str, object] = {}
        self._load()

    # ------------------------------------------------------------- config

    def _config_path(self) -> str:
        return os.path.join(self.base_dir, "tables.json")

    def _load(self) -> None:
        if os.path.exists(self._config_path()):
            with open(self._config_path()) as f:
                self._tables = json.load(f)

    def _save(self) -> None:
        tmp = self._config_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._tables, f, indent=1)
        os.replace(tmp, self._config_path())

    def subscribed(self) -> list[str]:
        return sorted(self._tables)

    # ----------------------------------------------------------- commands

    def add_table(
        self, name: str, row_schema: T.StructType, key_cols: list[str]
    ) -> str:
        """Subscribe a table.  Ordering parity with the reference: the
        initial schema is persisted to the registry FIRST (api.go:82-87 —
        initRelationSchema before metrics/publication), then the table
        joins the subscribed set.  Returns the schema fingerprint."""
        qname = _qualify(name)
        fp = self.registry.put(row_schema, source=qname)
        self._tables[qname] = {"key_cols": list(key_cols), "fingerprint": fp}
        self._save()
        return fp

    def remove_table(self, name: str) -> bool:
        """Unsubscribe.  State and checkpoints are retained (REMOVE only
        drops the table from the publication, init.go:95-99)."""
        qname = _qualify(name)
        if qname not in self._tables:
            return False
        del self._tables[qname]
        self._save()
        return True

    def handle_command(
        self,
        payload: str,
        *,
        row_schema: T.StructType | None = None,
        key_cols: list[str] | None = None,
    ) -> bool:
        """Apply one control-channel payload: `ADD <schema>.<table>` or
        `REMOVE <table>` (the exact NOTIFY strings emitted by
        _creek.add_table/remove_table, init.go:95-114).  Unknown or
        malformed payloads are skipped, not raised (api.go:76-80).

        ADD needs the relation's schema; the reference reads it from the
        pg catalog — here the caller supplies it (or it must already be in
        the registry via `last_for_source`).  Key columns default to the
        schema's ``pgKey`` metadata (the replica-identity bit carried by
        types/pgtypes — the same source of truth the reference uses)."""
        parts = payload.split(" ", 1)
        if len(parts) != 2:
            return False
        cmd, name = parts
        if cmd == "ADD":
            if row_schema is None:
                known = self.registry.last_for_source(_qualify(name))
                if known is None:
                    return False
                _, row_schema = known
            if key_cols is None:
                from creek_spark.types.pgtypes import key_columns

                key_cols = key_columns(row_schema)
            self.add_table(name, row_schema, key_cols or [])
            return True
        if cmd == "REMOVE":
            return self.remove_table(name)
        return False

    # ---------------------------------------------------------------- run

    def _env_schema_for(self, qname: str) -> T.StructType:
        from creek_spark.types.envelope import envelope_schema

        row = self.registry.get(self._tables[qname]["fingerprint"])
        if row is None:
            raise KeyError(f"no registered schema for {qname}")
        return envelope_schema(row)

    def _applier(self, qname: str) -> CdcApplier:
        safe = qname.replace(".", "_")
        return CdcApplier(
            self.spark,
            os.path.join(self.base_dir, "state", safe),
            self._tables[qname]["key_cols"],
            n_buckets=self.n_buckets,
        )

    def _table_stream(self, qname: str) -> DataFrame:
        ns, tbl = qname.split(".", 1)
        # Per-table staging subdir (wal_dir/<schema_table>) wins when it
        # exists — the layout walsender.ingest_transcript_tables stages,
        # one file per table per flush, and the multi-table-safe one: a
        # shared flat dir mixes envelope schemas whose before/after
        # structs differ per relation.  The flat dir, where
        # ingest_transcript stages, remains for single-table deployments
        # (≙ one NATS subject per table in the reference).
        sub = os.path.join(self.wal_dir, qname.replace(".", "_"))
        src = sub if os.path.isdir(sub) else self.wal_dir
        stream = read_envelope_stream(
            self.spark, src, self._env_schema_for(qname)
        )
        # the per-table-subject filter; pushed into the file-source scan
        return stream.where(
            (F.col("source.schema") == ns) & (F.col("source.table") == tbl)
        )

    def run_available(self, timeout_s: int = 120) -> None:
        """One availableNow pass over every subscribed table's pipeline —
        each query resumes from (or creates) its own checkpoint.  This is
        the 'restart with the new table set' step; a long-running
        deployment would call it after every handle_command."""
        appliers, queries = [], []
        for qname in self.subscribed():
            safe = qname.replace(".", "_")
            ckpt = os.path.join(self.base_dir, "ckpt", safe)
            appliers.append(self._applier(qname))
            queries.append(appliers[-1].start(self._table_stream(qname), ckpt))
        # a drained table's state is left compacted: no run pending, so
        # state() reads it as stored, with no fold.  A query still
        # running at the timeout keeps its pending runs: compacting
        # beside its foreachBatch would race it for the next version dir.
        for applier, q in zip(appliers, queries):
            if q.awaitTermination(timeout_s):
                applier.compact()

    def run_continuous(self, trigger_seconds: int = 1) -> None:
        """Start (or restart) one continuously-triggered query per
        subscribed table — the long-running deployment mode.  Safe to
        call after every handle_command: only tables whose query is not
        already running get a new one, so an ADD starts the new table
        without touching existing tables' queries, and a REMOVE's stopped
        table simply isn't restarted.  Call stop_all() to shut down."""
        # stop queries for tables no longer subscribed
        for qname in list(self._running):
            if qname not in self._tables:
                self._running.pop(qname).stop()
        for qname in self.subscribed():
            q = self._running.get(qname)
            if q is not None and q.isActive:
                continue
            safe = qname.replace(".", "_")
            ckpt = os.path.join(self.base_dir, "ckpt", safe)
            stream = self._table_stream(qname)
            writer = (
                stream.writeStream.foreachBatch(self._applier(qname).apply_batch)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(processingTime=f"{trigger_seconds} seconds")
            )
            self._running[qname] = writer.start()

    def stop_all(self) -> None:
        for q in getattr(self, "_running", {}).values():
            if q.isActive:
                q.stop()
        self._running = {}

    def state(self, name: str) -> DataFrame | None:
        """Materialized latest-state for a table (None before first run).
        Works for removed tables too — their state is retained."""
        qname = _qualify(name)
        safe = qname.replace(".", "_")
        applier = CdcApplier(
            self.spark,
            os.path.join(self.base_dir, "state", safe),
            self._tables.get(qname, {}).get("key_cols", []),
            n_buckets=self.n_buckets,
        )
        return applier.current_state()


class ControlChannel:
    """File-based control channel: the daemon's LISTEN/NOTIFY analog.

    The reference's `_creek.add_table/remove_table` SQL functions NOTIFY
    payloads onto the `creek` channel (init.go:95-114); here operators
    append the SAME payload lines (`ADD schema.table` / `REMOVE table`)
    to `<base_dir>/control`, and the daemon polls the file between
    triggers.  Offset-tracked (a sidecar `.offset` file), so restarts
    re-read nothing and the control file is append-only auditable."""

    def __init__(self, base_dir: str):
        self.path = os.path.join(base_dir, "control")
        self._offset_path = self.path + ".offset"
        # rejected-line sidecar: the reference logs commands it can't
        # parse (internal/dao/api.go:76-80); a silent skip would lose the
        # audit trail once the offset moves past them
        self.quarantine_path = self.path + ".rejected"

    def send(self, payload: str) -> None:
        with open(self.path, "a") as f:
            f.write(payload.rstrip("\n") + "\n")

    def rejected(self) -> list[tuple[int, str]]:
        """Quarantined commands as (byte_offset, line), oldest first."""
        out: list[tuple[int, str]] = []
        try:
            with open(self.quarantine_path) as f:
                for raw in f:
                    raw = raw.rstrip("\n")
                    if raw:
                        off, _, line = raw.partition("\t")
                        out.append((int(off), line))
        except OSError:
            pass
        return out

    def _read_offset(self) -> int:
        try:
            with open(self._offset_path) as f:
                return int(f.read().strip() or "0")
        except (OSError, ValueError):
            return 0

    def poll(self, dyn: "DynamicTables") -> int:
        """Apply any new payload lines to ``dyn``; returns how many were
        applied.  Malformed/unknown lines are NOT silently dropped: each
        is appended to the `.rejected` sidecar (with its byte offset)
        before the main offset advances past it — the file-based analog of
        the reference logging unparseable NOTIFY payloads (api.go:76-80).
        Callers follow up with run_continuous()/run_available()."""
        if not os.path.exists(self.path):
            return 0
        offset = self._read_offset()
        applied = 0
        rejected: list[str] = []
        with open(self.path) as f:
            f.seek(offset)
            line_start = offset
            for raw in f:
                line = raw.strip()
                if line:
                    if dyn.handle_command(line):
                        applied += 1
                    else:
                        rejected.append(f"{line_start}\t{line}")
                line_start += len(raw.encode())
            new_offset = f.tell()
        if rejected:
            with open(self.quarantine_path, "a") as f:
                f.write("\n".join(rejected) + "\n")
        tmp = self._offset_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(new_offset))
        os.replace(tmp, self._offset_path)
        return applied
