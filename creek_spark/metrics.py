"""Observability — the engine-side analog of the reference's Prometheus
metrics (internal/metrics/metrics.go):

  reference                          engine
  ---------------------------------  ------------------------------------
  creek_producer_pg_reads{op,...}    observe_changes(): df.observe counters
  creek_producer_lsn                 max lsn_num observation
  creek_producer_pg_behind_time      StreamMetricsListener batch lag
  subscriptions gauge                listener's active-query set

df.observe attaches accumulator-backed aggregates to a query with zero
extra passes; the listener captures per-batch progress from Structured
Streaming's instrumentation."""

from __future__ import annotations

import json
import threading
from collections import deque

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from creek_spark.functions.lsn import lsn_num


def observe_changes(wal: DataFrame, name: str = "creek_reads") -> tuple[DataFrame, Observation]:
    """Attach read/LSN observations to a (batch) envelope DataFrame.
    After an action, ``observation.get`` returns the counters."""
    obs = Observation(name)
    observed = wal.observe(
        obs,
        F.count(F.lit(1)).alias("rows_read"),
        F.sum(F.when(F.col("op") == "c", 1).otherwise(0)).alias("inserts"),
        F.sum(F.when(F.col("op") == "u", 1).otherwise(0)).alias("updates"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("deletes"),
        F.max(lsn_num(F.col("source.lsn"))).alias("max_lsn"),
    )
    return observed, obs


# progress records a StreamMetricsListener keeps: a long-running daemon
# holds the last batches for the rate gauges, not its whole history
MAX_BATCHES = 256


class StreamMetricsListener(StreamingQueryListener):
    """Captures per-batch rows/sec and watermark/lag from every streaming
    query in the session — creek_producer_pg_behind_time's analog is the
    batch's (now − max event time) which Spark reports as watermark delta.

    Memory is bounded: per-query counters (batches, input rows) plus the
    last ``MAX_BATCHES`` progress records."""

    def __init__(self):
        self.progress: deque[dict] = deque(maxlen=MAX_BATCHES)
        self.queries: dict[str, dict] = {}
        self.active: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.active.add(event.id)

    def onQueryProgress(self, event):
        p = event.progress
        batch = {
            "id": str(p.id),
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "inputRowsPerSecond": p.inputRowsPerSecond,
            "processedRowsPerSecond": p.processedRowsPerSecond,
        }
        with self._lock:
            self.progress.append(batch)
            q = self.queries.setdefault(batch["id"], {"batches": 0, "input_rows": 0})
            q["batches"] += 1
            q["input_rows"] += batch["numInputRows"] or 0

    def onQueryTerminated(self, event):
        with self._lock:
            self.active.discard(event.id)

    def onQueryIdle(self, event):
        pass

    def snapshot(self) -> dict:
        """``batches`` holds the last MAX_BATCHES progress records,
        ``queries`` every query's counters since the listener started."""
        with self._lock:
            return {
                "active_queries": len(self.active),
                "batches": list(self.progress),
                "queries": {q: dict(c) for q, c in self.queries.items()},
            }


class MetricsServer:
    """Prometheus text-format endpoint over stdlib http.server — the
    serving half the reference exposes via promhttp on :7779/metrics
    (internal/metrics/metrics.go:51-66, wired in cmd/creekd.go:48).

    GET /metrics renders the listener's snapshot as gauges/counters:

        creek_active_queries 1
        creek_batches_total 17
        creek_input_rows_total{query="..."} 1234
        creek_input_rows_per_second{query="..."} 56.7
        creek_processed_rows_per_second{query="..."} 78.9

    plus any ``extra`` callable's {name: value-or-{labels: value}} map.
    Runs on a daemon thread; ``port=0`` binds an ephemeral port (tests)."""

    def __init__(self, listener: StreamMetricsListener, port: int = 7779, extra=None):
        self.listener = listener
        self.port = port
        self.extra = extra
        self._httpd = None
        self._thread = None

    def render(self) -> str:
        snap = self.listener.snapshot()
        queries = snap["queries"]
        lines = [
            "# TYPE creek_active_queries gauge",
            f"creek_active_queries {snap['active_queries']}",
            "# TYPE creek_batches_total counter",
            f"creek_batches_total {sum(q['batches'] for q in queries.values())}",
        ]
        last = {b["id"]: b for b in snap["batches"]}
        lines.append("# TYPE creek_input_rows_total counter")
        for qid, q in sorted(queries.items()):
            lines.append(f'creek_input_rows_total{{query="{qid}"}} {q["input_rows"]}')
        for metric, key in (
            ("creek_input_rows_per_second", "inputRowsPerSecond"),
            ("creek_processed_rows_per_second", "processedRowsPerSecond"),
        ):
            lines.append(f"# TYPE {metric} gauge")
            for qid, b in sorted(last.items()):
                v = b.get(key)
                if v is not None:
                    lines.append(f'{metric}{{query="{qid}"}} {v}')
        if self.extra is not None:
            for name, val in sorted(self.extra().items()):
                lines.append(f"# TYPE {name} gauge")
                if isinstance(val, dict):
                    for labels, v in sorted(val.items()):
                        lines.append(f"{name}{{{labels}}} {v}")
                else:
                    lines.append(f"{name} {val}")
        return "\n".join(lines) + "\n"

    def start(self) -> int:
        """Bind and serve on a daemon thread; returns the bound port."""
        import http.server

        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — stdlib API name
                if self.path.rstrip("/") not in ("", "/metrics"):
                    self.send_error(404)
                    return
                body = server.render().encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # quiet
                pass

        self._httpd = http.server.ThreadingHTTPServer(("127.0.0.1", self.port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
