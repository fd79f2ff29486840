"""O18 dynamic table add/remove: the reference's LISTEN/NOTIFY control
channel (internal/dao/api.go:15-95) as restart-path orchestration —
a table ADDed mid-stream gets correct state without disturbing existing
tables' checkpoints; REMOVE stops flow but retains state."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from creek_spark.sources.registry import SchemaRegistry
from creek_spark.streaming.tables import DynamicTables
from tests.fixtures import (
    ENV_SCHEMA,
    OTHER_EXPECTED,
    ROW_SCHEMA,
    other_wal_events,
    wal_row,
)


def _extra_row(i, op, before=None, after=None):
    """Envelope row for a second table `public.extra` (same row shape)."""
    fp, src, o, sent, b, a, t = wal_row(1000 + i, op, before, after, fp="fp2")
    src = (src[0], src[1], src[2], "public", "extra", src[5], src[6])
    return (fp, src, o, sent, b, a, t)


def _write(spark, rows, path):
    spark.createDataFrame(rows, schema=ENV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _as_dict(df):
    return {r["id"]: r["data"] for r in df.select("id", "data").collect()}


def test_add_remove_table_mid_stream(spark, tmp_path):
    wal = str(tmp_path / "wal")
    base = str(tmp_path / "cdc")
    reg = SchemaRegistry(str(tmp_path / "reg"))
    dyn = DynamicTables(spark, wal, base, reg, n_buckets=4)
    dyn.add_table("public.other", ROW_SCHEMA, ["id"])
    assert dyn.subscribed() == ["public.other"]

    other = other_wal_events()
    # batch 1: other's first 9 ops + extra rows that must be IGNORED
    # (extra is not yet subscribed)
    _write(
        spark,
        other[:9]
        + [_extra_row(1, "c", after=(1, "x-one")), _extra_row(2, "c", after=(2, "x-two"))],
        wal,
    )
    dyn.run_available()
    assert _as_dict(dyn.state("other")) == {
        1: "one-again", 2: "two-again", 3: "three-again", 4: "four", 5: "five"
    }
    assert dyn.state("extra") is None

    # ADD mid-stream via the control payload format; schema must be
    # persisted to the registry (reference ordering: schema first)
    assert dyn.handle_command(
        "ADD public.extra", row_schema=ROW_SCHEMA, key_cols=["id"]
    )
    fp = dyn._tables["public.extra"]["fingerprint"]
    assert reg.get(fp) is not None
    assert reg.last_for_source("public.extra") is not None

    # batch 2: remaining other ops + an extra update
    _write(
        spark,
        other[9:] + [_extra_row(3, "u", before=(1,), after=(1, "x-one-v2"))],
        wal,
    )
    dyn.run_available()
    # other resumed from its checkpoint: final expected state, no re-apply
    assert _as_dict(dyn.state("other")) == OTHER_EXPECTED
    # extra's fresh checkpoint consumed the full staged stream: batch-1
    # inserts AND the batch-2 update
    assert _as_dict(dyn.state("extra")) == {1: "x-one-v2", 2: "x-two"}

    # REMOVE: flow stops, state is retained
    assert dyn.handle_command("REMOVE extra")
    assert dyn.subscribed() == ["public.other"]
    _write(
        spark,
        [
            wal_row(16, "u", before=(2,), after=(2, "two-v3")),
            _extra_row(4, "u", before=(2,), after=(2, "x-two-v2")),
        ],
        wal,
    )
    dyn.run_available()
    st_other = _as_dict(dyn.state("other"))
    assert st_other[2] == "two-v3"
    assert _as_dict(dyn.state("extra")) == {1: "x-one-v2", 2: "x-two"}


def test_run_available_compacts_only_terminated_queries(spark, tmp_path, monkeypatch):
    """A table whose query is still draining at the timeout is not
    compacted: compaction beside a live foreachBatch would race it for
    the next version dir.  A table whose query finished is."""
    from types import SimpleNamespace

    dyn = DynamicTables(spark, str(tmp_path / "wal"), str(tmp_path / "cdc"))
    dyn.add_table("public.done", ROW_SCHEMA, ["id"])
    dyn.add_table("public.slow", ROW_SCHEMA, ["id"])
    compacted = []

    def applier(qname):
        stopped = qname == "public.done"
        return SimpleNamespace(
            start=lambda stream, ckpt: SimpleNamespace(
                awaitTermination=lambda timeout: stopped
            ),
            compact=lambda: compacted.append(qname),
        )

    monkeypatch.setattr(dyn, "_applier", applier)
    monkeypatch.setattr(dyn, "_table_stream", lambda qname: None)
    dyn.run_available(timeout_s=1)
    assert compacted == ["public.done"]


def test_command_parsing_and_persistence(spark, tmp_path):
    wal = str(tmp_path / "wal")
    base = str(tmp_path / "cdc")
    os.makedirs(wal, exist_ok=True)
    dyn = DynamicTables(spark, wal, base)
    # malformed payloads are skipped, not raised (api.go:76-80)
    assert not dyn.handle_command("NONSENSE")
    assert not dyn.handle_command("ADDpublic.other")
    assert not dyn.handle_command("FROB public.other")
    # ADD with no schema anywhere → skipped
    assert not dyn.handle_command("ADD public.mystery")

    dyn.add_table("other", ROW_SCHEMA, ["id"])  # unqualified → public.
    assert dyn.subscribed() == ["public.other"]
    # ADD with schema already registered resolves via last_for_source
    dyn.remove_table("public.other")
    assert dyn.handle_command("ADD public.other", key_cols=["id"])
    assert dyn.subscribed() == ["public.other"]

    # the subscribed set survives a restart (tables.json)
    dyn2 = DynamicTables(spark, wal, base)
    assert dyn2.subscribed() == ["public.other"]
    assert dyn2._tables["public.other"]["key_cols"] == ["id"]


def _wait_for(predicate, timeout_s=90, poll_s=1.0):
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        try:
            if predicate():
                return True
        except Exception:
            pass
        time.sleep(poll_s)
    return False


def test_run_continuous_add_mid_flight(spark, tmp_path):
    """Long-running mode: continuously-triggered per-table queries; an ADD
    starts the new table's query without restarting the existing one."""
    wal = str(tmp_path / "wal")
    base = str(tmp_path / "cdc")
    dyn = DynamicTables(spark, wal, base, n_buckets=4)
    dyn.add_table("public.other", ROW_SCHEMA, ["id"])

    other = other_wal_events()
    _write(spark, other[:9], wal)
    dyn.run_continuous(trigger_seconds=1)
    try:
        assert _wait_for(
            lambda: dyn.state("other") is not None
            and _as_dict(dyn.state("other"))
            == {1: "one-again", 2: "two-again", 3: "three-again", 4: "four", 5: "five"}
        )
        other_q = dyn._running["public.other"]

        dyn.handle_command(
            "ADD public.extra", row_schema=ROW_SCHEMA, key_cols=["id"]
        )
        dyn.run_continuous(trigger_seconds=1)
        # the existing table's query object was not restarted
        assert dyn._running["public.other"] is other_q
        _write(
            spark,
            other[9:] + [_extra_row(1, "c", after=(7, "x-seven"))],
            wal,
        )
        assert _wait_for(
            lambda: _as_dict(dyn.state("other")) == OTHER_EXPECTED
        )
        assert _wait_for(
            lambda: dyn.state("extra") is not None
            and _as_dict(dyn.state("extra")) == {7: "x-seven"}
        )

        dyn.remove_table("extra")
        dyn.run_continuous(trigger_seconds=1)
        assert "public.extra" not in dyn._running
        assert dyn._running["public.other"].isActive
    finally:
        dyn.stop_all()
    assert not dyn._running


def test_control_channel_poll(spark, tmp_path):
    """Appended ADD/REMOVE payload lines drive the table set; offsets
    persist so re-polls and restarts apply nothing twice."""
    from creek_spark.streaming.tables import ControlChannel

    wal = str(tmp_path / "wal")
    base = str(tmp_path / "cdc")
    os.makedirs(wal, exist_ok=True)
    dyn = DynamicTables(spark, wal, base)
    dyn.registry.put(ROW_SCHEMA, source="public.other")

    ch = ControlChannel(base)
    assert ch.poll(dyn) == 0  # no control file yet
    ch.send("ADD public.other")
    ch.send("GARBAGE LINE")
    ch.send("NOISE")
    assert ch.poll(dyn) == 1
    assert dyn.subscribed() == ["public.other"]
    assert ch.poll(dyn) == 0  # offset advanced; nothing re-applied

    # malformed lines are quarantined with their byte offsets, not
    # silently dropped (reference logs them, internal/dao/api.go:76-80)
    quarantined = ch.rejected()
    assert [line for _, line in quarantined] == ["GARBAGE LINE", "NOISE"]
    assert all(isinstance(off, int) and off > 0 for off, _ in quarantined)
    with open(ch.path, "rb") as f:
        for off, line in quarantined:
            f.seek(off)
            assert f.readline().decode().strip() == line  # offset is exact

    ch.send("REMOVE public.other")
    assert ch.poll(dyn) == 1
    assert dyn.subscribed() == []

    # a fresh channel object (daemon restart) resumes from the offset
    ch2 = ControlChannel(base)
    assert ch2.poll(dyn) == 0
