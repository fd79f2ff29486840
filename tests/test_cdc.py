"""CDC apply correctness — the engine's analog of the reference's
integration suite (listen_test.go: TestInsert/TestUpdate/TestDelete +
truncate/dedup/ordering semantics from replication.go)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from creek_spark.functions.lsn import lsn_num, lsn_str
from creek_spark.operators.cdc import changelog_stats, latest_state, wal_from
from tests.fixtures import OTHER_EXPECTED, other_wal_df


@pytest.fixture(scope="module")
def wal(spark):
    df = other_wal_df(spark)
    df.cache().count()
    return df


def state_dict(df):
    return {r["id"]: r["data"] for r in df.collect()}


def test_latest_state_full_semantics(spark, wal):
    """insert/update/u_pk/delete/truncate/dup/ooo/TOAST in one stream."""
    out = latest_state(wal)
    assert state_dict(out) == OTHER_EXPECTED


def test_latest_state_without_toast_handling(spark, wal):
    out = latest_state(wal, handle_toast=False)
    d = state_dict(out)
    # without carry-forward the unchanged-TOAST column collapses to NULL
    assert d[5] is None
    assert d[1] == "one-v3"


def test_wal_from_resume(spark, wal):
    """StreamWALFrom semantics (client.go:227-294): strictly-after LSN."""
    resumed = wal_from(wal, lsn="0/8")
    lsns = [r[0] for r in resumed.select(lsn_num("source.lsn")).collect()]
    assert min(lsns) == 9
    # resuming mid-stream then applying still converges for keys touched after
    out = latest_state(resumed)
    d = state_dict(out)
    assert d[1] == "one-v3" and d[30] == "three-moved"


def test_lsn_roundtrip(spark):
    df = spark.range(1).select(
        F.lit("1A/2B3C4D5E").alias("lsn")
    )
    n = df.select(lsn_num("lsn").alias("n"))
    val = n.collect()[0]["n"]
    assert val == (0x1A << 32) + 0x2B3C4D5E
    back = n.select(lsn_str(F.col("n")).alias("s")).collect()[0]["s"]
    assert back == "1A/2B3C4D5E"


def test_changelog_stats(spark, wal):
    stats = {(r["op"]): r["n"] for r in changelog_stats(wal).collect()}
    assert stats["c"] == 8
    assert stats["d"] == 2  # includes the duplicate delivery
    assert stats["t"] == 1
    assert stats["u_pk"] == 1


def test_latest_state_is_parallelism_invariant(spark, wal):
    """Per-key LSN ordering must survive any partitioning (SURVEY.md §4
    constraint #1)."""
    shuffled = wal.repartition(7)
    assert state_dict(latest_state(shuffled)) == OTHER_EXPECTED
    single = wal.coalesce(1)
    assert state_dict(latest_state(single)) == OTHER_EXPECTED


def test_bootstrap_preserves_snapshot_rows(spark, tmp_path, wal):
    """Every snapshot row enters the merge as op 'r' at the single header
    LSN — distinct keys sharing that LSN must all survive the dedup
    (regression: dedup on LSN alone collapsed the snapshot to one row)."""
    from creek_spark.sources import bootstrap, read_snapshot, write_snapshot

    snap = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id int, data string"
    )
    # snapshot taken at lsn 0/F == 15: no later changes exist in the stream
    path = write_snapshot(snap, str(tmp_path), "other", lsn="0/F", tx_id=7)
    sdf, header = read_snapshot(spark, path)
    out = bootstrap(sdf, header, wal, ["id"])
    assert state_dict(out) == {1: "one", 2: "two", 3: "three"}


def test_bootstrap_applies_changes_after_snapshot_lsn(spark, tmp_path, wal):
    from creek_spark.sources import bootstrap, read_snapshot, write_snapshot

    snap = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id int, data string"
    )
    # snapshot at lsn 0/8: changes 9..15 apply on top
    path = write_snapshot(snap, str(tmp_path), "other", lsn="0/8", tx_id=7)
    sdf, header = read_snapshot(spark, path)
    out = bootstrap(sdf, header, wal, ["id"])
    d = state_dict(out)
    # u(2→two-v2), u_pk(3→30), d(4 absent), c(5,"five")@lsn9 then TOAST-u
    # carries "five" forward, u(1→one-v3)
    assert d == {1: "one-v3", 2: "two-v2", 30: "three-moved", 5: "five"}


def test_latest_state_keeps_distinct_keys_sharing_lsn(spark):
    """Two different keys inserted at the same LSN (bootstrap/state-re-entry
    shape) must both survive dedup=True."""
    from tests.fixtures import ENV_SCHEMA, wal_row

    rows = [
        wal_row(5, "c", after=(1, "a")),
        wal_row(5, "c", after=(2, "b")),
        wal_row(5, "c", after=(2, "b")),  # true duplicate: collapses
    ]
    df = spark.createDataFrame(rows, schema=ENV_SCHEMA)
    out = latest_state(df, ["id"])
    assert state_dict(out) == {1: "a", 2: "b"}


def test_bootstrap_old_snapshot_against_widened_stream(spark, tmp_path):
    """Upstream ADD COLUMN between the snapshot and the stream head: the
    snapshot's rows predate the column, the WAL envelope carries it —
    bootstrapping must widen the snapshot rows with typed NULLs (what
    those rows would read as in Postgres after ADD COLUMN) and let later
    changes fill the column in."""
    from creek_spark.sources import bootstrap, read_snapshot, write_snapshot
    from creek_spark.types import envelope_schema
    from creek_spark.types.pgtypes import (
        PGColumn,
        PGRelation,
        pg_relation_to_struct,
    )
    from tests.fixtures import wal_row

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
    stream = spark.createDataFrame(
        [
            wal_row(20, "u", before=(2,), after=(2, "two-v2", 9)),
            wal_row(21, "c", after=(4, "four", 40)),
        ],
        schema=env2,
    )
    snap = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id int, data string"
    )
    path = write_snapshot(snap, str(tmp_path), "other", lsn="0/F", tx_id=7)
    sdf, header = read_snapshot(spark, path)
    out = bootstrap(sdf, header, stream, ["id"])
    got = {
        r["id"]: (r["data"], r["score"])
        for r in out.select("id", "data", "score").collect()
    }
    assert got == {
        1: ("one", None),
        2: ("two-v2", 9),
        3: ("three", None),
        4: ("four", 40),
    }


def test_events_envelope_never_emits_truncate(spark, sf_dir):
    """cdc_latest_state calls latest_state(handle_truncate=False) on the
    strength of "this envelope provably never emits 't'" — that proof
    must live in a gate, not a comment (round-12 verdict): if the
    envelope generator ever grows a truncate arm, skipping the
    truncate-watermark pass would silently change results.  Checks both
    the expression (op is a two-arm CASE over event_type) and the data
    (every op on the driver events table is u or d)."""
    import re

    from creek_spark.query_parts import events_envelope
    from creek_spark.sources import read_table

    env = events_envelope(read_table(spark, sf_dir, "events"))
    # expression shape: the op column must be a single two-arm CASE over
    # event_type whose only outcomes are 'd' and 'u' — a truncate arm
    # added behind a condition that happens to never fire on the driver
    # table would pass the data check below but fail here
    analyzed = str(env.select("op")._jdf.queryExecution().analyzed())
    m = re.search(r"CASE WHEN .*? END AS op", analyzed)
    assert m, analyzed
    op_expr = m.group(0)
    assert op_expr.count("WHEN") == 1, op_expr  # exactly two arms
    assert re.search(r"THEN d ELSE u END", op_expr), op_expr
    # data: every emitted op on the driver events table is u or d
    ops = {r["op"] for r in env.select("op").distinct().collect()}
    assert ops <= {"u", "d"}, ops
