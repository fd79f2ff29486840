"""`python -m creek_spark` — the daemon entrypoint (creekd's serve).

Wires Config → SparkSession → DynamicTables and runs the subscribed
tables' CDC apply pipelines, continuously (default) or draining once
(--available-now).  The reference's serve() wires config → dao → mq →
replication the same way (cmd/creekd.go:63-147); SIGTERM-equivalent
shutdown is Ctrl-C → stop_all (the reference cancels its context and
grants a 10 s grace, creekd.go:27-34)."""

from __future__ import annotations

import os
import sys

from creek_spark.config import Config


def main(argv: list[str] | None = None, env: dict | None = None) -> int:
    cfg = Config.load(argv, env)

    from pyspark.sql import SparkSession

    from creek_spark.session import get_spark
    from creek_spark.streaming.tables import DynamicTables

    # only stop a session we created (embedding hosts keep theirs)
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(shuffle_partitions=cfg.shuffle_partitions)
    if owns_session:
        spark.sparkContext.setLogLevel(cfg.log_level.upper())

    dyn = DynamicTables(spark, cfg.wal_dir, cfg.base_dir)
    if cfg.walsender or cfg.transcript:
        # Ingest FIRST: decode pgoutput, derive each table's schema from
        # the stream's own Relation declarations, register it, and stage
        # per-table envelope parquet the appliers tail — the producer
        # path (capture → publish), from a live walsender endpoint (a
        # real primary's replication port, or the TranscriptServer replay
        # harness) or from a recorded session.  Resume state (the
        # confirmed-LSN analog) lives under base_dir, so re-running the
        # daemon on the same transcript ingests nothing new.
        from creek_spark.sources.walsender import (
            SocketTransport,
            TranscriptTransport,
            WalSenderSession,
            ingest_transcript_tables,
        )

        boot_lsn = 0
        if cfg.walsender:
            host, _, port = cfg.walsender.rpartition(":")
            transport = SocketTransport(
                host or "127.0.0.1",
                int(port),
                slot=cfg.slot,
                publication=cfg.publication,
            )
            # Producer bootstrap (init.go:120-206 parity): create-or-reuse
            # the publication (from --tables) and the replication slot; an
            # existing slot's confirmed_flush_lsn seeds the resume point so
            # a fresh daemon host continues where the slot left off.
            boot_lsn = transport.ensure_bootstrap(cfg.tables or None)
        else:
            transport = TranscriptTransport(cfg.transcript)
        sess = WalSenderSession(
            transport, os.path.join(cfg.base_dir, "walsender")
        )
        # the slot seeds only a FRESH host: where local state exists,
        # its acked LSN is the commit point
        if sess.acked_lsn == 0 and boot_lsn > 0:
            sess.ack(boot_lsn)
        written = ingest_transcript_tables(
            spark, sess, cfg.wal_dir, dyn.registry, only=cfg.tables or None
        )
        for qname, n in sorted(written.items()):
            print(f"ingested {n} rows for {qname}", file=sys.stderr)
        if not cfg.tables:
            cfg.tables = sorted(written)
    subscribed = []
    for t in cfg.tables:
        # schema must already be registered (reflect_table / prior ADD) —
        # the reference likewise initializes each table's schema before
        # streaming (init.go:250-290)
        if dyn.handle_command(f"ADD {t}"):
            subscribed.append(t)
        else:
            print(f"skipping {t}: no schema registered", file=sys.stderr)
    if not subscribed:
        print("no tables subscribed; nothing to do", file=sys.stderr)
        if owns_session:
            spark.stop()
        return 1
    # the envelope schema is per-table; DynamicTables resolves it lazily
    # from each table's registered row schema
    if cfg.available_now:
        dyn.run_available()
        if owns_session:
            spark.stop()
        return 0
    # subscriptions gauge + per-batch throughput — the daemon's analog of
    # the reference's Prometheus metrics (internal/metrics/metrics.go)
    from creek_spark.metrics import MetricsServer, StreamMetricsListener

    listener = StreamMetricsListener()
    spark.streams.addListener(listener)
    metrics_server = None
    if cfg.metrics_port is not None:
        # the reference serves promhttp on :7779 (cmd/creekd.go:48)
        metrics_server = MetricsServer(
            listener,
            port=cfg.metrics_port,
            extra=lambda: {"creek_subscriptions": len(dyn.subscribed())},
        )
        port = metrics_server.start()
        print(f"metrics: http://127.0.0.1:{port}/metrics", file=sys.stderr)
    dyn.run_continuous(trigger_seconds=cfg.trigger_seconds)

    # signal → flag → graceful stop, the reference's SIGTERM handling
    # (creekd.go:27-34).  An explicit handler keeps pyspark's default
    # SIGINT machinery from tearing the context down mid-batch.
    import signal

    stopping = {"flag": False}

    def _on_signal(signum, frame):
        stopping["flag"] = True

    prev_int = signal.signal(signal.SIGINT, _on_signal)
    prev_term = signal.signal(signal.SIGTERM, _on_signal)
    from creek_spark.streaming.tables import ControlChannel

    channel = ControlChannel(cfg.base_dir)
    try:
        while not stopping["flag"]:
            # bounded wait: returns to Python regularly so the flag is
            # seen AND the control channel (the NOTIFY analog — appended
            # ADD/REMOVE payload lines) gets polled between triggers
            if spark.streams.awaitAnyTermination(timeout=2):
                spark.streams.resetTerminated()
                # an intentional stop (REMOVE) is not a daemon exit;
                # leave only on query FAILURE or an empty table set
                failed = [
                    q
                    for q in dyn._running.values()
                    if q.exception() is not None
                ]
                alive = any(q.isActive for q in dyn._running.values())
                if failed or not alive:
                    break
            if channel.poll(dyn):
                dyn.run_continuous(trigger_seconds=cfg.trigger_seconds)
        dyn.stop_all()
        snap = listener.snapshot()
        print(
            f"metrics: {snap['active_queries']} active, "
            f"{sum(q['batches'] for q in snap['queries'].values())} batches processed",
            file=sys.stderr,
        )
    finally:
        signal.signal(signal.SIGINT, prev_int)
        signal.signal(signal.SIGTERM, prev_term)
        if metrics_server is not None:
            metrics_server.stop()
        spark.streams.removeListener(listener)
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
