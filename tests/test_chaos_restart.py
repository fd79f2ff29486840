"""Chaos tests: kill a running CDC stream mid-flight and restart from the
checkpoint — delivery must be no-loss/no-dup against the in-memory
differential interpreter, and concurrent readers must always see a
committed snapshot.  Mirrors the reference's restart/reconnect proofs
(integration_tests/listen_test.go:797-833 TestRestart,
integration_tests/nats_reconnect_test.go:20-88 TestNatsReconnection).
"""

from __future__ import annotations

import pytest

import os
import random


from pyspark.sql import functions as F

from creek_spark.streaming import CdcApplier, read_envelope_stream
from tests.fixtures import ENV_SCHEMA, interpret, wal_row


def _random_wal(rng: random.Random, n_events: int):
    events = []
    keys = list(range(1, 6))
    for lsn in range(1, n_events + 1):
        roll = rng.random()
        k = rng.choice(keys)
        v = f"v{lsn}"
        if roll < 0.5:
            events.append((lsn, "c", None, (k, v), None))
        elif roll < 0.7:
            events.append((lsn, "u", (k,), (k, v), None))
        elif roll < 0.85:
            events.append((lsn, "d", (k,), None, None))
        else:
            events.append((lsn, "u_pk", (k,), (rng.choice(keys), v), None))
    return events


def _write_files(spark, events, path, files: int):
    """Spread the WAL over `files` parquet files so maxFilesPerTrigger=1
    yields that many micro-batches."""
    per = max(1, len(events) // files)
    for i in range(0, len(events), per):
        chunk = [
            wal_row(lsn, op, before=b, after=a, toast=t)
            for lsn, op, b, a, t in events[i : i + per]
        ]
        spark.createDataFrame(chunk, schema=ENV_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)


class _CrashingApplier(CdcApplier):
    """Injects a crash around the Nth apply_batch call.

    mode="before": dies before any side effect (clean batch retry).
    mode="after":  dies after the state write but before Spark commits the
    checkpoint offset — the batch WILL be redelivered, which is exactly
    the at-least-once duplicate the merge must absorb."""

    def __init__(self, *a, crash_on_call: int, mode: str, **kw):
        super().__init__(*a, **kw)
        self.calls = 0
        self.crash_on_call = crash_on_call
        self.mode = mode
        self.armed = True

    def apply_batch(self, batch, batch_id):
        self.calls += 1
        if self.armed and self.calls == self.crash_on_call:
            if self.mode == "before":
                self.armed = False
                raise RuntimeError("injected crash before apply")
            super().apply_batch(batch, batch_id)
            self.armed = False
            raise RuntimeError("injected crash after apply, before commit")
        super().apply_batch(batch, batch_id)


def _run_until_stopped(applier, spark, src, ckpt):
    stream = read_envelope_stream(spark, src, ENV_SCHEMA, max_files_per_trigger=1)
    q = applier.start(stream, ckpt)
    try:
        q.awaitTermination(240)
    except Exception:
        pass  # the injected crash surfaces as StreamingQueryException
    finally:
        if q.isActive:
            q.stop()


@pytest.mark.slow
@pytest.mark.parametrize("mode", ["before", "after"])
def test_kill_and_resume_no_loss_no_dup(spark, tmp_path, mode):
    """Kill the stream mid-run (before a batch / between the state write
    and the offset commit), restart from the checkpoint, and compare the
    final materialized state against the differential interpreter over
    the FULL event sequence: nothing lost, duplicates absorbed."""
    rng = random.Random(42 if mode == "before" else 1337)
    events = _random_wal(rng, 40)
    src = str(tmp_path / "wal")
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "state")

    _write_files(spark, events, src, files=8)

    applier = _CrashingApplier(
        spark,
        state_dir,
        ["id"],
        ENV_SCHEMA,
        n_buckets=4,
        crash_on_call=3,
        mode=mode,
    )
    _run_until_stopped(applier, spark, src, ckpt)
    assert not applier.armed, "crash never fired; scenario too small"

    # restart from the same checkpoint — the applier object survives the
    # "process restart" only as on-disk state + checkpoint, so build a
    # fresh one to prove nothing lives in memory
    applier2 = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    stream = read_envelope_stream(spark, src, ENV_SCHEMA, max_files_per_trigger=1)
    q = applier2.start(stream, ckpt)
    q.awaitTermination(240)

    expected, _ = interpret(events)
    st = applier2.current_state()
    got = (
        {r["id"]: r["data"] for r in st.select("id", "data").collect()}
        if st is not None
        else {}
    )
    assert got == expected


def test_reader_sees_committed_snapshot_never_a_mix(spark, tmp_path):
    """Manifest swap atomicity: a DataFrame resolved against the old
    manifest keeps reading the OLD complete state even while a new batch
    publishes (one-generation retention), and a fresh read sees the NEW
    complete state.  An uncommitted version dir is invisible."""
    src = str(tmp_path / "wal")
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "state")
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)

    _write_files(
        spark, [(1, "c", None, (1, "one"), None), (2, "c", None, (2, "two"), None)],
        src, files=1,
    )
    q = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q.awaitTermination(240)

    old_reader = applier.current_state()  # resolves the v1 manifest

    # an orphan version dir (crash between write and manifest swap) must
    # be invisible to readers
    orphan = os.path.join(state_dir, "v999999999", "creek_bucket=0")
    os.makedirs(orphan, exist_ok=True)
    assert {r["id"] for r in applier.current_state().collect()} == {1, 2}
    os.removedirs(orphan)

    _write_files(spark, [(3, "u", (1,), (1, "one-v2"), None)], src, files=1)
    q2 = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q2.awaitTermination(240)

    # the old reader still sees the complete OLD snapshot (its files are
    # retained one generation), the new reader the complete NEW one
    assert {r["id"]: r["data"] for r in old_reader.select("id", "data").collect()} == {
        1: "one", 2: "two",
    }
    assert {
        r["id"]: r["data"]
        for r in applier.current_state().select("id", "data").collect()
    } == {1: "one-v2", 2: "two"}


def test_reader_resolved_before_compaction_keeps_its_snapshot(spark, tmp_path):
    """A DataFrame resolved while runs are pending keeps reading that
    snapshot after a compaction folds them away: the runs and replaced
    buckets it names are retained one generation."""
    state_dir = str(tmp_path / "state")
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)

    def apply(events, batch_id):
        rows = [wal_row(lsn, op, before=b, after=a) for lsn, op, b, a, _ in events]
        applier.apply_batch(spark.createDataFrame(rows, schema=ENV_SCHEMA), batch_id)

    apply([(1, "c", None, (1, "one"), None), (2, "c", None, (2, "two"), None)], 0)
    applier.compact()
    apply([(3, "u", (1,), (1, "one-v2"), None), (4, "c", None, (3, "three"), None)], 1)
    old_reader = applier.current_state()  # base + one pending run
    snapshot = {1: "one-v2", 2: "two", 3: "three"}

    applier.compact()
    assert {r["id"]: r["data"] for r in old_reader.select("id", "data").collect()} == snapshot
    apply([(5, "d", (2,), None, None)], 2)
    assert {
        r["id"]: r["data"]
        for r in applier.current_state().select("id", "data").collect()
    } == {1: "one-v2", 3: "three"}


def test_orphan_next_version_dir_is_replaced_not_published(spark, tmp_path):
    """A crashed attempt can leave files in the version dir the next
    publish points at.  A run publish names only its run, and compaction
    overwrites the whole dir it writes (an unpartitioned write, so a
    session default of dynamic partition overwrite has no say), so a
    stale bucket is never read — with runs pending or after compaction."""
    import json

    state_dir = str(tmp_path / "state")
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)

    def apply(events, batch_id):
        rows = [wal_row(lsn, op, before=b, after=a) for lsn, op, b, a, _ in events]
        applier.apply_batch(spark.createDataFrame(rows, schema=ENV_SCHEMA), batch_id)

    def manifest():
        with open(os.path.join(state_dir, "_manifest.json")) as f:
            return json.load(f)

    def state():
        st = applier.current_state()
        return {} if st is None else {r["id"]: r["data"] for r in st.collect()}

    inserts = [(k, "c", None, (k, f"v{k}"), None) for k in range(1, 7)]
    apply(inserts, 0)
    applier.compact()
    by_bucket: dict[int, list[int]] = {}
    for r in applier.current_state().select("id", "creek_bucket").collect():
        by_bucket.setdefault(r["creek_bucket"], []).append(r["id"])
    bucket, keys = sorted(by_bucket.items())[0]

    # stale buckets in the dir the run publish points at and in the one
    # the compaction after it writes
    version = manifest()["version"]
    orphans = [
        os.path.join(state_dir, f"v{version + n:09d}", f"creek_bucket={bucket}")
        for n in (1, 2)
    ]
    for orphan in orphans:
        spark.createDataFrame(
            [(99, "stale", "0/63")], "id int, data string, _creek_lsn string"
        ).write.parquet(orphan)

    deletes = [(10 + i, "d", (k,), None, None) for i, k in enumerate(keys)]
    expected, _ = interpret(inserts + deletes)
    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "dynamic")
    try:
        apply(deletes, 1)
        assert manifest()["buckets"][str(bucket)] == f"v{version:09d}"
        assert len(manifest()["runs"]) == 1
        assert state() == expected
        applier.compact()
    finally:
        spark.conf.set(conf, prev)

    assert str(bucket) not in manifest()["buckets"]
    assert manifest()["runs"] == []
    assert state() == expected
    assert not any(os.path.exists(o) for o in orphans)
