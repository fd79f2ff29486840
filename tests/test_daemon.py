"""Daemon entrypoint (`python -m creek_spark`) and its creekd-shaped
config: env sourcing, flag override, and a batch-mode (--available-now)
end-to-end run over staged envelope files."""

from __future__ import annotations

import pytest

from creek_spark.config import Config
from tests.fixtures import ENV_SCHEMA, OTHER_EXPECTED, ROW_SCHEMA, other_wal_events


def _state(spark, wal: str, base: str) -> dict:
    """public.other's state as the daemon left it, read the way its
    readers do: through DynamicTables.state, which resolves the store's
    files by its manifest."""
    from creek_spark.streaming.tables import DynamicTables

    st = DynamicTables(spark, wal, base).state("public.other")
    return {r["id"]: r["data"] for r in st.select("id", "data").collect()}


def test_config_env_and_flag_override():
    env = {
        "CREEK_WAL_DIR": "/w",
        "CREEK_BASE_DIR": "/b",
        "CREEK_TABLES": "public.a, public.b",
        "CREEK_TRIGGER_SECONDS": "5",
    }
    cfg = Config.load([], env)
    assert cfg.wal_dir == "/w" and cfg.base_dir == "/b"
    assert cfg.tables == ["public.a", "public.b"]
    assert cfg.trigger_seconds == 5 and not cfg.available_now

    cfg2 = Config.load(
        ["--tables", "public.c", "--trigger-seconds", "2", "--available-now"],
        env,
    )
    assert cfg2.tables == ["public.c"]
    assert cfg2.trigger_seconds == 2 and cfg2.available_now


def test_config_validation_and_unknown_flag():
    with pytest.raises(ValueError, match="wal_dir"):
        Config.load([], {})
    with pytest.raises(ValueError, match="unknown flag"):
        Config.load(["--frob", "x"], {"CREEK_WAL_DIR": "/w", "CREEK_BASE_DIR": "/b"})


def test_daemon_available_now_end_to_end(spark, tmp_path):
    """Register a schema, stage WAL files, run main(--available-now):
    state materializes and the process exits 0.  Reuses the live session
    (get_spark returns the active one)."""
    from creek_spark.__main__ import main
    from creek_spark.sources.registry import SchemaRegistry

    wal = str(tmp_path / "wal")
    base = str(tmp_path / "cdc")
    # the daemon resolves schemas from the registry under base_dir
    SchemaRegistry(str(tmp_path / "cdc/registry")).put(
        ROW_SCHEMA, source="public.other"
    )
    spark.createDataFrame(other_wal_events(), schema=ENV_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(wal)

    rc = main(
        ["--available-now", "--tables", "public.other"],
        {"CREEK_WAL_DIR": wal, "CREEK_BASE_DIR": base},
    )
    assert rc == 0
    assert _state(spark, wal, base) == OTHER_EXPECTED


def test_daemon_no_tables_is_error(spark, tmp_path):
    from creek_spark.__main__ import main

    rc = main(
        ["--available-now", "--tables", "public.mystery"],
        {
            "CREEK_WAL_DIR": str(tmp_path / "w"),
            "CREEK_BASE_DIR": str(tmp_path / "b"),
        },
    )
    assert rc == 1


def test_config_metrics_port():
    cfg = Config.load(
        ["--metrics-port", "7779"],
        env={"CREEK_WAL_DIR": "/w", "CREEK_BASE_DIR": "/b"},
    )
    assert cfg.metrics_port == 7779
    cfg = Config.load(
        [],
        env={
            "CREEK_WAL_DIR": "/w",
            "CREEK_BASE_DIR": "/b",
            "CREEK_METRICS_PORT": "0",
        },
    )
    assert cfg.metrics_port == 0
    assert (
        Config.load([], env={"CREEK_WAL_DIR": "/w", "CREEK_BASE_DIR": "/b"}).metrics_port
        is None
    )


def test_metrics_server_prometheus_endpoint():
    """The /metrics endpoint serves the Prometheus text format the
    reference exposes on :7779 (internal/metrics/metrics.go:51-66)."""
    import urllib.error
    import urllib.request
    from types import SimpleNamespace

    from creek_spark.metrics import MetricsServer

    fake = SimpleNamespace(
        snapshot=lambda: {
            "active_queries": 2,
            "batches": [
                {"id": "q1", "batchId": 0, "numInputRows": 10,
                 "inputRowsPerSecond": 5.0, "processedRowsPerSecond": 20.0},
                {"id": "q1", "batchId": 1, "numInputRows": 7,
                 "inputRowsPerSecond": 3.5, "processedRowsPerSecond": 14.0},
            ],
            "queries": {"q1": {"batches": 2, "input_rows": 17}},
        }
    )
    srv = MetricsServer(fake, port=0, extra=lambda: {"creek_subscriptions": 3})
    port = srv.start()
    try:
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=10
        ).read().decode()
        assert "creek_active_queries 2" in body
        assert "creek_batches_total 2" in body
        assert 'creek_input_rows_total{query="q1"} 17' in body
        assert 'creek_processed_rows_per_second{query="q1"} 14.0' in body
        assert "creek_subscriptions 3" in body
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope", timeout=10)
    finally:
        srv.stop()


def test_stream_metrics_listener_memory_is_bounded():
    """A long-running daemon's listener keeps per-query counters plus the
    last MAX_BATCHES progress records: 10k progress events leave its
    memory and its snapshot() at a fixed size, and the counters exact."""
    import tracemalloc
    from types import SimpleNamespace

    from creek_spark.metrics import MAX_BATCHES, MetricsServer, StreamMetricsListener

    listener = StreamMetricsListener()

    def feed(lo, hi):
        for i in range(lo, hi):
            listener.onQueryProgress(SimpleNamespace(progress=SimpleNamespace(
                id=f"q{i % 3}", batchId=i // 3, numInputRows=i % 7,
                inputRowsPerSecond=1.0, processedRowsPerSecond=2.0,
            )))

    feed(0, 2 * MAX_BATCHES)
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        feed(2 * MAX_BATCHES, 10_000)
        grown = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert grown < 64 * 1024, grown

    snap = listener.snapshot()
    assert len(snap["batches"]) == MAX_BATCHES
    assert snap["batches"][-1]["batchId"] == 9_999 // 3
    assert sum(q["batches"] for q in snap["queries"].values()) == 10_000
    assert sum(q["input_rows"] for q in snap["queries"].values()) == sum(
        i % 7 for i in range(10_000)
    )
    body = MetricsServer(listener, port=0).render()
    assert "creek_batches_total 10000" in body


def test_daemon_transcript_ingestion_end_to_end(spark, tmp_path):
    """--transcript: the daemon ingests a recorded replication session
    (schema auto-derived from the stream's Relation declarations and
    registered; per-table envelope parquet staged), then materializes
    state — zero manual registry or staging steps.  Tables default to
    the ones the transcript declares.  A second run on the same
    transcript is a no-op (resume state under base_dir)."""
    from creek_spark.__main__ import main
    from creek_spark.sources.walsender import encode_xlogdata
    from tests.test_pgoutput import OTHER, begin, commit, delete, insert, update

    frames = [
        encode_xlogdata(0x10, begin(lsn=0x40)),
        encode_xlogdata(0x10, OTHER),
        encode_xlogdata(0x14, insert(55, 1, "one")),
        encode_xlogdata(0x18, insert(55, 2, "two")),
        encode_xlogdata(0x1C, update(55, new=(1, "uno"))),
        encode_xlogdata(0x20, delete(55, (2, None))),
        encode_xlogdata(0x40, commit(lsn=0x40)),
    ]
    tpath = tmp_path / "session.hex"
    tpath.write_text("\n".join(f.hex() for f in frames) + "\n")
    wal = str(tmp_path / "wal")
    base = str(tmp_path / "cdc")

    rc = main(
        ["--available-now", "--transcript", str(tpath)],
        {"CREEK_WAL_DIR": wal, "CREEK_BASE_DIR": base},
    )
    assert rc == 0
    assert _state(spark, wal, base) == {1: "uno"}

    # re-run: resume state makes the ingest a no-op, state unchanged
    rc2 = main(
        ["--available-now", "--transcript", str(tpath), "--tables", "public.other"],
        {"CREEK_WAL_DIR": wal, "CREEK_BASE_DIR": base},
    )
    assert rc2 == 0
    assert _state(spark, wal, base) == {1: "uno"}


def test_daemon_live_walsender_socket_end_to_end(spark, tmp_path):
    """--walsender host:port: the daemon connects as a real v3-protocol
    client (here to the TranscriptServer replay backend over TCP),
    streams the session, stages per-table envelopes, and materializes
    state — the reference's creekd capture loop end to end."""
    from creek_spark.__main__ import main
    from creek_spark.sources.walsender import TranscriptServer, encode_xlogdata
    from tests.test_pgoutput import OTHER, begin, commit, insert, update

    frames = [
        encode_xlogdata(0x10, begin(lsn=0x40)),
        encode_xlogdata(0x10, OTHER),
        encode_xlogdata(0x14, insert(55, 5, "five")),
        encode_xlogdata(0x18, update(55, new=(5, "cinq"))),
        encode_xlogdata(0x40, commit(lsn=0x40)),
    ]
    tpath = tmp_path / "session.hex"
    tpath.write_text("\n".join(f.hex() for f in frames) + "\n")
    srv = TranscriptServer(str(tpath))
    try:
        rc = main(
            [
                "--available-now",
                "--walsender", f"127.0.0.1:{srv.port}",
                "--slot", "s_daemon",
            ],
            {
                "CREEK_WAL_DIR": str(tmp_path / "wal"),
                "CREEK_BASE_DIR": str(tmp_path / "cdc"),
            },
        )
        assert rc == 0
        assert _state(spark, str(tmp_path / "wal"), str(tmp_path / "cdc")) == {5: "cinq"}
        # the daemon really spoke the protocol: startup + slot in the query
        assert any(r[0] == "startup" for r in srv.received)
        assert any(
            r[0] == "query" and "SLOT s_daemon" in r[1] for r in srv.received
        )
    finally:
        srv.close()
