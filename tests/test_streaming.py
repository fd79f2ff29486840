"""Streaming CDC end-to-end: file-source envelope stream → checkpointed
foreachBatch apply → materialized state; incremental batches and resume.

Mirrors the reference's integration flow (listen_test.go): events arrive in
batches, the consumer applies them, a restart (new query, same checkpoint)
must not lose or re-apply changes (BASELINE.md resume-exactness)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from creek_spark.streaming import CdcApplier, read_envelope_stream, tumbling_counts
from tests.fixtures import ENV_SCHEMA, OTHER_EXPECTED, other_wal_events


def _write_batch(spark, rows, path):
    spark.createDataFrame(rows, schema=ENV_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def state_dict(df):
    return {r["id"]: r["data"] for r in df.collect()}


def test_cdc_stream_apply_incremental(spark, tmp_path):
    src = str(tmp_path / "wal")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    events = other_wal_events()

    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA)

    # batch 1: first 9 ops (inserts + truncate + re-inserts)
    _write_batch(spark, events[:9], src)
    stream = read_envelope_stream(spark, src, ENV_SCHEMA)
    q = applier.start(stream, ckpt)
    q.awaitTermination(120)
    st1 = state_dict(applier.current_state().select("id", "data"))
    assert st1 == {
        1: "one-again", 2: "two-again", 3: "three-again", 4: "four", 5: "five"
    }

    # batch 2: the rest (update, u_pk, delete+dup, TOAST, out-of-order) —
    # new query on the same checkpoint = restart/resume
    _write_batch(spark, events[9:], src)
    stream2 = read_envelope_stream(spark, src, ENV_SCHEMA)
    q2 = applier.start(stream2, ckpt)
    q2.awaitTermination(120)
    st2 = state_dict(applier.current_state().select("id", "data"))
    assert st2 == OTHER_EXPECTED

    # restart again with NO new data: state must be unchanged (idempotence)
    stream3 = read_envelope_stream(spark, src, ENV_SCHEMA)
    q3 = applier.start(stream3, ckpt)
    q3.awaitTermination(120)
    st3 = state_dict(applier.current_state().select("id", "data"))
    assert st3 == OTHER_EXPECTED


def test_tumbling_counts_stream(spark, tmp_path):
    src = str(tmp_path / "wal2")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    _write_batch(spark, other_wal_events(), src)
    stream = read_envelope_stream(spark, src, ENV_SCHEMA)
    agg = tumbling_counts(stream, time_col="sent_at", window="5 minutes")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append-mode emits only watermark-closed windows; with availableNow on
    # a bounded input the final watermark closes all but the last window.
    out = spark.read.parquet(out_dir)
    assert set(out.columns) == {"wstart", "op", "n"}


def test_stream_wal_from_filters(spark, tmp_path):
    from creek_spark.operators.cdc import wal_from

    src = str(tmp_path / "wal3")
    _write_batch(spark, other_wal_events(), src)
    stream = read_envelope_stream(spark, src, ENV_SCHEMA)
    filtered = wal_from(stream, lsn="0/8")
    assert filtered.isStreaming
    # run it through a memory sink to observe the predicate applied
    q = (
        filtered.groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("walfrom")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT * FROM walfrom").collect()[0]["count"]
    assert n == 8  # lsns 9,10,11,12,12(dup),13,15,14


def _parquet_file_hashes(state_dir):
    import hashlib

    out = {}
    for root, _dirs, files in os.walk(state_dir):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, state_dir)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def test_cdc_applier_rewrites_only_touched_buckets(spark, tmp_path):
    """Incremental state contract: a micro-batch adds exactly one delta
    run and leaves every base file byte-identical on disk; compaction
    then rewrites only the bucket the run touched."""
    import json

    from tests.fixtures import wal_row

    src = str(tmp_path / "wal_b")
    state_dir = str(tmp_path / "state_b")
    ckpt = str(tmp_path / "ckpt_b")
    n_buckets = 8
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=n_buckets)

    def manifest():
        with open(os.path.join(state_dir, "_manifest.json")) as f:
            return json.load(f)

    def base_files():
        return {k: v for k, v in _parquet_file_hashes(state_dir).items()
                if os.sep + "_run" + os.sep not in k}

    _write_batch(spark, other_wal_events(), src)
    q = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q.awaitTermination(120)
    applier.compact()
    st1 = state_dict(applier.current_state().select("id", "data"))
    assert st1 == OTHER_EXPECTED

    before = base_files()
    before_all = set(_parquet_file_hashes(state_dir))
    buckets_before = manifest()["buckets"]
    # batch 2: update only id=1
    _write_batch(spark, [wal_row(20, "u", before=(1,), after=(1, "one-v4"))], src)
    q2 = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q2.awaitTermination(120)
    st2 = state_dict(applier.current_state().select("id", "data"))
    assert st2 == {**OTHER_EXPECTED, 1: "one-v4"}

    # before compaction: every base file is byte-identical, and the
    # batch's only new files are its one run
    assert base_files() == before
    (run,) = manifest()["runs"]
    added = set(_parquet_file_hashes(state_dir)) - before_all
    assert added and all(k.startswith(run + os.sep) for k in added)

    applier.compact()
    assert manifest()["runs"] == []
    assert state_dict(applier.current_state().select("id", "data")) == st2
    after = base_files()
    buckets_after = manifest()["buckets"]
    touched_bucket = str(spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(1).cast("int")), F.lit(n_buckets)).cast("int")
    ).collect()[0][0])
    untouched_before = {b: v for b, v in buckets_before.items() if b != touched_bucket}
    untouched_after = {b: v for b, v in buckets_after.items() if b != touched_bucket}
    assert untouched_before == untouched_after
    assert untouched_before  # sanity: other buckets actually exist
    # every earlier base file is still there, byte-identical
    assert {k: after.get(k) for k in before} == before
    # the touched bucket was rewritten, into a new dir holding it alone
    new_dir = buckets_after[touched_bucket]
    assert new_dir != buckets_before[touched_bucket]
    new_files = set(after) - set(before)
    assert new_files and all(k.startswith(new_dir + os.sep) for k in new_files)
    rows = spark.read.parquet(os.path.join(state_dir, new_dir, "*.parquet"))
    assert {r[0] for r in rows.select("creek_bucket").distinct().collect()} == {
        int(touched_bucket)
    }


def _apply_events(spark, applier, events, batch_id):
    """Apply ``(lsn, op, before, after, toast)`` events as one batch."""
    from tests.fixtures import wal_row

    rows = [wal_row(lsn, op, before=b, after=a, toast=t) for lsn, op, b, a, t in events]
    applier.apply_batch(spark.createDataFrame(rows, schema=ENV_SCHEMA), batch_id)


def test_superseded_rows_in_an_older_file_are_read_once(spark, tmp_path):
    """A compaction writes every bucket into one dir; a one-key batch
    and compact() then rewrite one bucket into a newer dir while the
    older file still holds that bucket's superseded rows.  Reads with a
    run pending and after each compaction return every key exactly
    once, as the interpreter says."""
    import json

    from tests.fixtures import interpret

    state_dir = str(tmp_path / "state")
    applier = CdcApplier(spark, state_dir, ["id"], n_buckets=4)

    def manifest():
        with open(os.path.join(state_dir, "_manifest.json")) as f:
            return json.load(f)

    def check(events):
        rows = applier.current_state().select("id", "data").collect()
        assert len(rows) == len({r["id"] for r in rows})
        assert {r["id"]: r["data"] for r in rows} == interpret(events)[0]

    events = [(k, "c", None, (k, f"v{k}"), None) for k in range(1, 21)]
    _apply_events(spark, applier, events, 0)
    applier.compact()
    first = manifest()["buckets"]
    assert len(first) == 4 and len(set(first.values())) == 1
    for i, key in enumerate((1, 2, 1)):
        one = [(21 + i, "u", (key,), (key, f"v{21 + i}"), None)]
        events += one
        _apply_events(spark, applier, one, 1 + i)
        check(events)  # a run pending
        applier.compact()
        check(events)
    buckets = manifest()["buckets"]
    assert len(set(buckets.values())) > 1  # the base spans dirs
    assert {b for b, v in buckets.items() if v != first[b]}  # superseded in the first


def test_cdc_state_in_the_hive_layout_is_refused_with_remedy(spark, tmp_path):
    """State whose version dirs hold ``creek_bucket=<p>/`` partition dirs
    (the older hive layout) is refused with its remedy by a read, by a
    read with a run pending and by compaction — never read as empty."""
    import json

    state_dir = tmp_path / "state"
    spark.createDataFrame(
        [(1, "one", "0/1", 0), (2, "two", "0/2", 1)],
        "id int, data string, _creek_lsn string, creek_bucket int",
    ).write.partitionBy("creek_bucket").parquet(str(state_dir / "v000000001"))
    (state_dir / "_manifest.json").write_text(json.dumps({
        "version": 1, "buckets": {"0": "v000000001", "1": "v000000001"},
        "runs": [], "retain": [], "touched": [], "truncate": False,
    }))
    applier = CdcApplier(spark, str(state_dir), ["id"], n_buckets=2)
    remedy = "creek_bucket=<value> partition dirs.*replay from the checkpoint"
    with pytest.raises(ValueError, match=remedy):
        applier.current_state()
    # a run publishes without reading the base; its fold then refuses
    _apply_events(spark, applier, [(3, "u", (1,), (1, "one-v2"), None)], 0)
    with pytest.raises(ValueError, match=remedy):
        applier.current_state()
    with pytest.raises(ValueError, match=remedy):
        applier.compact()


def test_cdc_run_in_the_older_layout_is_refused_with_remedy(spark, tmp_path):
    """A pending run whose files sit directly in its ``_run`` dir (the
    layout before runs moved to ``_run/data``) is refused with its remedy,
    never read as an empty run."""
    import json
    import shutil

    state_dir = tmp_path / "state"
    applier = CdcApplier(spark, str(state_dir), ["id"], n_buckets=2)
    _apply_events(spark, applier, [(1, "c", None, (1, "one"), None)], 0)
    (run,) = json.loads((state_dir / "_manifest.json").read_text())["runs"]
    data = state_dir / run / "data"
    for f in data.iterdir():
        shutil.move(str(f), str(state_dir / run / f.name))
    data.rmdir()
    with pytest.raises(ValueError, match="outside data/.*replay from the checkpoint"):
        applier.current_state()


def test_compaction_writes_one_file_per_write_task(spark, tmp_path):
    """A compaction writes data-sized files, not one per bucket: no more
    data files than its write job has tasks (n_buckets here exceeds the
    session's shuffle partitions), and no existing base file changes."""
    import json

    state_dir = str(tmp_path / "state")
    n_buckets = 16
    applier = CdcApplier(spark, state_dir, ["id"], n_buckets=n_buckets)
    _apply_events(spark, applier,
                  [(k, "c", None, (k, f"v{k}"), None) for k in range(1, 201)], 0)
    applier.compact()
    before = {k: v for k, v in _parquet_file_hashes(state_dir).items()
              if os.sep + "_run" + os.sep not in k}
    _apply_events(spark, applier,
                  [(200 + k, "u", (k,), (k, f"w{k}"), None) for k in range(1, 201)], 1)

    sc = spark.sparkContext
    group = f"compaction-{id(applier)}"
    sc.setJobGroup(group, "compaction under test")
    try:
        applier.compact()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    tasks = tracker.getStageInfo(max(write_job.stageIds)).numTasks

    with open(os.path.join(state_dir, "_manifest.json")) as f:
        buckets = json.load(f)["buckets"]
    (vdir,) = set(buckets.values())
    assert len(buckets) == n_buckets
    files = [k for k in _parquet_file_hashes(os.path.join(state_dir, vdir))
             if os.sep + "_run" + os.sep not in k]
    assert 1 <= len(files) <= tasks < n_buckets
    after = _parquet_file_hashes(state_dir)
    assert {k: after.get(k) for k in before} == before


def test_cdc_truncate_inside_a_pending_run(spark, tmp_path):
    """A truncate in a run that is not yet compacted discards every
    older row — base rows and rows of earlier runs alike — on read, and
    compaction agrees."""
    from tests.fixtures import interpret, wal_row

    applier = CdcApplier(spark, str(tmp_path / "state"), ["id"], ENV_SCHEMA, n_buckets=4)
    batches = [
        [(1, "c", None, (1, "one"), None), (2, "c", None, (2, "two"), None)],
        [(3, "c", None, (3, "three"), None)],
        [(4, "u", (2,), (2, "two-v2"), None), (5, "t", None, None, None),
         (6, "c", None, (4, "four"), None)],
        [(7, "c", None, (1, "one-again"), None)],
    ]
    for i, events in enumerate(batches):
        rows = [wal_row(lsn, op, before=b, after=a) for lsn, op, b, a, _ in events]
        applier.apply_batch(spark.createDataFrame(rows, schema=ENV_SCHEMA), i)
        if i == 0:
            applier.compact()  # batch 0 is base, the rest pending runs
    expected, _ = interpret([e for events in batches for e in events])
    assert expected == {4: "four", 1: "one-again"}
    assert state_dict(applier.current_state().select("id", "data")) == expected
    applier.compact()
    assert state_dict(applier.current_state().select("id", "data")) == expected


def test_read_runs_hands_spark_no_hidden_root_path(spark, tmp_path, monkeypatch):
    """Spark warns "All paths were ignored" for a root path whose last
    segment starts with "_" or "." — every `vN/_run` dir.  The store
    hands it each run's `data` subdir instead, and the fold still sees
    every pending run."""
    from pyspark.sql import DataFrameReader

    from tests.fixtures import wal_row

    seen = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    applier = CdcApplier(spark, str(tmp_path / "state"), ["id"], ENV_SCHEMA, n_buckets=4)
    for i in range(2):  # two pending runs, no base
        applier.apply_batch(spark.createDataFrame(
            [wal_row(i + 1, "c", after=(i + 1, f"v{i}"))], schema=ENV_SCHEMA
        ), i)
    seen.clear()
    assert state_dict(applier.current_state().select("id", "data")) == {1: "v0", 2: "v1"}
    runs = [p for p in seen if "/_run" in p]
    assert len(runs) == 2, seen
    assert not [p for p in seen if p.rstrip("/").rsplit("/", 1)[-1][:1] in "_."], seen


def _driver_log(spark, action):
    """Run ``action`` with a log4j appender on the driver's root logger;
    returns what it logged as ``<logger>: <message>`` lines, stack traces
    included."""
    log4j = spark._jvm.org.apache.logging.log4j
    ctx = log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    out = spark._jvm.java.io.StringWriter()
    layout = log4j.core.layout.PatternLayout.newBuilder().withPattern("%c{1}: %m%n%ex").build()
    appender = log4j.core.appender.WriterAppender.createAppender(
        layout, None, out, "store-read-capture", False, True
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        action()
    finally:
        root.removeAppender("store-read-capture")
        ctx.updateLoggers()
        appender.stop()
    return out.toString()


def test_store_reads_log_no_failed_probe(spark, tmp_path):
    """A read of one base dir and of one pending run hands Spark no lone
    glob (Spark probes a glob's literal name for a streaming-sink
    metadata dir and logs the FileNotFoundException) and no root path
    that is hidden-named (Spark warns that all paths were ignored)."""
    from creek_spark.streaming.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "state"), "b")
    rows = spark.createDataFrame([(1, "x"), (2, "y")], "id int, b string")
    m = store.publish(None, set(), store.write(rows, None))
    m = store.publish(m, set(), set(), runs=[store.write_run(rows, m)],
                      run_schema=rows.schema)
    got = {}
    log = _driver_log(spark, lambda: got.update(
        base=store.read(m).count(), runs=store.read_runs(m).count()
    ))
    assert got == {"base": 2, "runs": 2}
    for noise in ("FileStreamSink", "FileNotFoundException", "All paths were ignored"):
        assert noise not in log, log


def test_cdc_add_column_between_pending_runs(spark, tmp_path):
    """Upstream ADD COLUMN between two pending runs: the widened batch
    folds the narrower runs into the base before its own run is
    published, so a read never drops the added column, and the rows
    that predate it read it as NULL."""
    import json

    from creek_spark.types import envelope_schema
    from creek_spark.types.pgtypes import PGColumn, PGRelation, pg_relation_to_struct
    from tests.fixtures import wal_row

    state_dir = str(tmp_path / "state")
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    applier.apply_batch(spark.createDataFrame(
        [wal_row(1, "c", after=(1, "one")), wal_row(2, "c", after=(2, "two"))],
        schema=ENV_SCHEMA,
    ), 0)
    applier.apply_batch(spark.createDataFrame(
        [wal_row(3, "u", before=(1,), after=(1, "one-v2"))], schema=ENV_SCHEMA
    ), 1)

    env2 = envelope_schema(pg_relation_to_struct(PGRelation(
        namespace="public", name="other",
        columns=[PGColumn("id", "int4", flags=1), PGColumn("data", "text"),
                 PGColumn("score", "int4")],
    )))
    applier.apply_batch(spark.createDataFrame(
        [wal_row(4, "c", after=(3, "three", 30)),
         wal_row(5, "u", before=(2,), after=(2, "two-v2", 20))],
        schema=env2,
    ), 2)
    with open(os.path.join(state_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    assert len(manifest["runs"]) == 1  # the narrower runs were compacted
    expected = {1: ("one-v2", None), 2: ("two-v2", 20), 3: ("three", 30)}

    def read():
        return {r["id"]: (r["data"], r["score"]) for r in
                applier.current_state().select("id", "data", "score").collect()}

    assert read() == expected
    applier.compact()
    assert read() == expected


def test_cdc_empty_batch_leaves_manifest_unchanged(spark, tmp_path):
    """A batch with no rows for this table (several tables share one WAL
    dir, each query filtering by table) publishes nothing: the manifest
    is byte-identical and no run is pending, and the next real batch
    still lands on top of it."""
    from tests.fixtures import wal_row

    state_dir = str(tmp_path / "state")
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    applier.apply_batch(spark.createDataFrame(
        [wal_row(1, "c", after=(1, "one"))], schema=ENV_SCHEMA), 0)
    applier.compact()
    path = os.path.join(state_dir, "_manifest.json")
    with open(path, "rb") as f:
        before = f.read()

    applier.apply_batch(spark.createDataFrame([], schema=ENV_SCHEMA), 1)
    with open(path, "rb") as f:
        assert f.read() == before
    assert state_dict(applier.current_state().select("id", "data")) == {1: "one"}

    applier.apply_batch(spark.createDataFrame(
        [wal_row(2, "c", after=(2, "two"))], schema=ENV_SCHEMA), 2)
    assert state_dict(applier.current_state().select("id", "data")) == {
        1: "one", 2: "two"
    }


def test_cdc_applier_takes_no_envelope_schema(spark, tmp_path):
    """The envelope schema argument is optional: runs keep each batch's
    own schema."""
    from tests.fixtures import wal_row

    applier = CdcApplier(spark, str(tmp_path / "state"), ["id"], n_buckets=4)
    applier.apply_batch(spark.createDataFrame(
        [wal_row(1, "c", after=(1, "one"))], schema=ENV_SCHEMA), 0)
    assert state_dict(applier.current_state().select("id", "data")) == {1: "one"}


def test_concurrent_store_reads_restore_the_discovery_threshold(spark, tmp_path):
    """Store reads from several threads at once (one query per table,
    concurrent readers) return the same rows and leave the session's
    conf as they found it."""
    from concurrent.futures import ThreadPoolExecutor

    applier = CdcApplier(spark, str(tmp_path / "state"), ["id"], ENV_SCHEMA, n_buckets=4)
    _apply_events(spark, applier,
                  [(i, "c", None, (i, f"v{i}"), None) for i in range(1, 9)], 0)
    applier.compact()
    _apply_events(spark, applier, [(9, "u", (1,), (1, "v9"), None)], 1)
    conf = spark.conf.getAll
    with ThreadPoolExecutor(4) as pool:
        frames = list(pool.map(lambda _: applier.current_state(), range(12)))
    assert spark.conf.getAll == conf
    rows = [sorted(map(tuple, f.select("id", "data", "_creek_lsn").collect())) for f in frames]
    assert all(r == rows[0] for r in rows)
    assert dict(r[:2] for r in rows[0])[1] == "v9"


def test_cdc_applier_delete_empties_bucket(spark, tmp_path):
    """A batch deleting a bucket's last key must remove the bucket dir —
    dynamic partition overwrite alone would leave the stale rows."""
    from tests.fixtures import wal_row

    src = str(tmp_path / "wal_d")
    state_dir = str(tmp_path / "state_d")
    ckpt = str(tmp_path / "ckpt_d")
    applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)

    _write_batch(
        spark,
        [wal_row(1, "c", after=(1, "one")), wal_row(2, "c", after=(2, "two"))],
        src,
    )
    q = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q.awaitTermination(120)
    assert state_dict(applier.current_state().select("id", "data")) == {
        1: "one",
        2: "two",
    }
    _write_batch(spark, [wal_row(3, "d", before=(1,))], src)
    q2 = applier.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q2.awaitTermination(120)
    assert state_dict(applier.current_state().select("id", "data")) == {
        2: "two"
    }


def test_cdc_schema_evolution_add_column(spark, tmp_path):
    """Upstream `ALTER TABLE ... ADD COLUMN` mid-stream: the reference
    publishes a new schema fingerprint and keeps streaming (O10), so the
    consumer restarts its applier with the WIDENED envelope schema — and
    that applier must merge new-schema batches onto the old-schema
    persisted state.  Old rows surface the new column as NULL (exactly
    Postgres ADD COLUMN semantics for pre-existing rows), updated and
    inserted rows carry values, and untouched buckets persisted under
    the old schema keep reading alongside new-schema buckets."""
    from creek_spark.types import envelope_schema
    from creek_spark.types.pgtypes import (
        PGColumn,
        PGRelation,
        pg_relation_to_struct,
    )
    from tests.fixtures import wal_row

    state_dir = str(tmp_path / "state")
    a1 = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    b1 = spark.createDataFrame(
        [
            wal_row(1, "c", after=(1, "one")),
            wal_row(2, "c", after=(2, "two")),
        ],
        schema=ENV_SCHEMA,
    )
    a1.apply_batch(b1, 0)

    widened = PGRelation(
        namespace="public",
        name="other",
        columns=[
            PGColumn("id", "int4", flags=1),
            PGColumn("data", "text"),
            PGColumn("score", "int4"),
        ],
    )
    env2 = envelope_schema(pg_relation_to_struct(widened))
    a2 = CdcApplier(spark, state_dir, ["id"], env2, n_buckets=4)
    b2 = spark.createDataFrame(
        [
            wal_row(20, "c", after=(3, "three", 30)),
            wal_row(21, "u", before=(2,), after=(2, "two-v2", 20)),
        ],
        schema=env2,
    )
    a2.apply_batch(b2, 1)

    st = {
        r["id"]: (r["data"], r["score"])
        for r in a2.current_state().select("id", "data", "score").collect()
    }
    assert st == {1: ("one", None), 2: ("two-v2", 20), 3: ("three", 30)}

    # the widened state keeps evolving normally (delete under new schema)
    b3 = spark.createDataFrame(
        [wal_row(22, "d", before=(1,))], schema=env2
    )
    a2.apply_batch(b3, 2)
    st3 = {
        r["id"]: (r["data"], r["score"])
        for r in a2.current_state().select("id", "data", "score").collect()
    }
    assert st3 == {2: ("two-v2", 20), 3: ("three", 30)}


def test_cdc_stream_restart_across_schema_widening(spark, tmp_path):
    """The full production shape of the ADD COLUMN case: a checkpointed
    stream processes old-schema envelope files, stops, the upstream adds
    a column, and a NEW query on the SAME checkpoint — widened schema,
    widened applier — resumes without reprocessing old files and merges
    new-schema batches onto the old-schema state."""
    from creek_spark.types import envelope_schema
    from creek_spark.types.pgtypes import (
        PGColumn,
        PGRelation,
        pg_relation_to_struct,
    )
    from tests.fixtures import wal_row

    src = str(tmp_path / "wal")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    a1 = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
    _write_batch(
        spark,
        [wal_row(1, "c", after=(1, "one")), wal_row(2, "c", after=(2, "two"))],
        src,
    )
    q1 = a1.start(read_envelope_stream(spark, src, ENV_SCHEMA), ckpt)
    q1.awaitTermination(120)
    assert state_dict(a1.current_state().select("id", "data")) == {
        1: "one",
        2: "two",
    }

    widened = PGRelation(
        namespace="public",
        name="other",
        columns=[
            PGColumn("id", "int4", flags=1),
            PGColumn("data", "text"),
            PGColumn("score", "int4"),
        ],
    )
    env2 = envelope_schema(pg_relation_to_struct(widened))
    spark.createDataFrame(
        [
            wal_row(20, "u", before=(2,), after=(2, "two-v2", 9)),
            wal_row(21, "c", after=(3, "three", 30)),
        ],
        schema=env2,
    ).coalesce(1).write.mode("append").parquet(src)

    a2 = CdcApplier(spark, state_dir, ["id"], env2, n_buckets=4)
    q2 = a2.start(read_envelope_stream(spark, src, env2), ckpt)
    q2.awaitTermination(120)
    st = {
        r["id"]: (r["data"], r["score"])
        for r in a2.current_state().select("id", "data", "score").collect()
    }
    assert st == {1: ("one", None), 2: ("two-v2", 9), 3: ("three", 30)}
