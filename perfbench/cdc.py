"""The ``cdc_catchup`` workload: WalSenderSession.stream (decode) →
ingest_transcript (stage) → read_envelope_stream + foreachBatch →
CdcApplier.apply_batch (apply), replayed from a seeded transcript through
TranscriptTransport.  A closed loop drains a backlog in large staging
batches, one stage + apply cycle after another.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import wal
from creek_spark.sources.pgoutput import OID_NAMES
from creek_spark.sources.walsender import (
    TranscriptTransport,
    WalSenderSession,
    ingest_transcript,
)
from creek_spark.streaming import CdcApplier, read_envelope_stream
from creek_spark.types.envelope import envelope_schema
from creek_spark.types.pgtypes import PGColumn, PGRelation, pg_relation_to_struct

ROW_SCHEMA = pg_relation_to_struct(
    PGRelation(
        wal.NAMESPACE,
        wal.TABLE,
        [PGColumn(n, OID_NAMES[oid], typmod, flags) for flags, n, oid, typmod in wal.COLUMNS],
    )
)
ENV_SCHEMA = envelope_schema(ROW_SCHEMA)
N_BUCKETS = 64

CATCHUP_KEYS, CATCHUP_LIVE, CATCHUP_BATCH = 20_000, 0.8, 5_000
MIN_CYCLES, WARM_CHANGES = 2, 1_000
_EPOCH_T0 = 1704067200  # wal.T0 as unix seconds


def preload_state(spark, applier: CdcApplier, keys: list[int]) -> None:
    """Apply one batch of 'c' rows carrying `wal.preload_row(key)`, at LSNs
    below every transcript LSN — the state the stream starts from."""
    ids = spark.createDataFrame([(k,) for k in keys], "id int")
    after = F.struct(
        F.col("id"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("name"),
        (F.col("id").cast("long") * 7919 % 10_000_000)
        .cast("decimal(12,0)")
        .__truediv__(F.lit(100))
        .cast("decimal(12,2)")
        .alias("amount"),
        F.timestamp_seconds(F.col("id").cast("long") + _EPOCH_T0).alias("updated_at"),
    )
    ts = F.lit("2024-01-01 00:00:00").cast("timestamp")
    lsn = F.concat(F.lit("0/"), F.upper(F.hex(F.col("id"))))
    df = ids.select(
        F.lit("preload").alias("fingerprint"),
        F.struct(
            F.lit("preload").alias("name"), ts.alias("tx_at"), F.lit("postgres").alias("db"),
            F.lit(wal.NAMESPACE).alias("schema"), F.lit(wal.TABLE).alias("table"),
            F.lit(0).cast("long").alias("tx_id"), lsn.alias("lsn"),
        ).alias("source"),
        F.lit("c").alias("op"),
        ts.alias("sent_at"),
        F.lit(None).cast(ENV_SCHEMA["before"].dataType).alias("before"),
        after.alias("after"),
        F.lit(None).cast("array<string>").alias("unchanged_toast"),
    )
    applier.apply_batch(df, 0)


def collect_state(ctx, applier: CdcApplier) -> dict:
    with ctx.tracer.span("streaming.current_state"):
        df = applier.current_state()
        if df is None:
            return {}
        return {
            r["id"]: (r["name"], r["amount"], r["updated_at"])
            for r in df.select("id", *wal.VALUE_COLS).collect()
        }


class Pipeline:
    """One table's staging dir, checkpoint, applier and walsender session."""

    def __init__(self, ctx, root: str):
        self.ctx, self.spark = ctx, ctx.spark
        self.root = root
        self.wal_dir = os.path.join(root, "wal")
        self.ckpt = os.path.join(root, "ckpt")
        self.applier = CdcApplier(self.spark, os.path.join(root, "state"), wal.KEY_COLS,
                                  ENV_SCHEMA, n_buckets=N_BUCKETS)
        self.session: WalSenderSession | None = None
        self.batches = 0
        apply = self.applier.apply_batch

        def traced_apply(batch, batch_id):
            with ctx.tracer.span("streaming.apply_batch"):
                apply(batch, batch_id)
            self.batches += 1

        # CdcApplier.start hands `self.apply_batch` to foreachBatch
        self.applier.apply_batch = traced_apply
        self._chunks = 0

    def inspect_publish(self) -> tuple[int, int]:
        """(buckets, rows) the last publish rewrote: the manifest names the
        new version dir; parquet footers give its row count.  Traced runs
        call it between cycles, outside the timed spans."""
        state = self.applier.state_dir
        with open(os.path.join(state, "_manifest.json")) as f:
            manifest = json.load(f)
        ver = f"v{manifest['version']:09d}"
        rows = 0
        for dirpath, _, files in os.walk(os.path.join(state, ver)):
            rows += sum(pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
                        for f in files if f.endswith(".parquet"))
        return sum(v == ver for v in manifest["buckets"].values()), rows

    def staged_bytes(self) -> int:
        if not os.path.isdir(self.wal_dir):
            return 0
        return sum(os.path.getsize(os.path.join(self.wal_dir, f))
                   for f in os.listdir(self.wal_dir) if f.endswith(".parquet"))

    def stage(self, frames: list[str]) -> int:
        """Decode and stage one chunk of frames; returns rows staged (one
        parquet flush per call: batch_rows never fills)."""
        path = os.path.join(self.root, f"chunk{self._chunks:05d}.hex")
        self._chunks += 1
        with open(path, "w") as f:
            f.write("\n".join(frames) + "\n!copydone\n")
        transport = TranscriptTransport(path)
        if self.session is None:
            self.session = WalSenderSession(transport, os.path.join(self.root, "lsn"))
        else:
            self.session.transport = transport
        tracer = self.ctx.tracer
        with tracer.span("walsender.ingest_transcript"):
            if tracer.enabled:
                self._split_decode_span()
            return ingest_transcript(self.spark, self.session, self.wal_dir, ROW_SCHEMA,
                                     batch_rows=1 << 30)

    def _split_decode_span(self) -> None:
        """ingest_transcript drains the stream before its single flush, so
        the stream generator's lifetime is the decode span."""
        session, tracer = self.session, self.ctx.tracer
        parent = tracer.current()
        stream = type(session).stream

        def traced(*a, **kw):
            t0 = time.perf_counter()
            yield from stream(session, *a, **kw)
            tracer.add("pgoutput.decode", t0, time.perf_counter(), parent)
            del session.stream

        session.stream = traced

    def apply(self) -> None:
        """Run one availableNow trigger."""
        batches = self.batches
        with self.ctx.tracer.span("streaming.trigger"):
            q = self.applier.start(read_envelope_stream(self.spark, self.wal_dir, ENV_SCHEMA),
                                   self.ckpt, available_now=True)
            q.awaitTermination()
        if self.batches == batches:
            raise RuntimeError(f"trigger over {self.wal_dir} applied no batch")


def _chunks(tr: wal.Transcript, min_changes: int, after: int = 0) -> list[tuple[int, int]]:
    """(frame_end, change_end) cut points at transaction ends after change
    ``after``, each chunk holding at least ``min_changes`` changes."""
    cuts, last = [], after
    for frame_end, change_end in tr.tx_bounds:
        if change_end - last >= min_changes:
            cuts.append((frame_end, change_end))
            last = change_end
    return cuts


def check_state(ctx, pipe: Pipeline, initial: dict, changes) -> None:
    expected = wal.interpret(changes, initial)
    got = collect_state(ctx, pipe.applier)
    bad = wal.state_mismatches(expected, got)
    ctx.check(not bad, f"state differs from the interpreter ({len(expected)} keys): {bad}")


def cdc_catchup(ctx) -> None:
    live = wal.preload_keys(CATCHUP_KEYS, CATCHUP_LIVE)
    initial = {k: wal.preload_row(k) for k in live}
    # a traced run alternates untraced and traced cycles
    kinds = (False, True) if ctx.trace else (False,)
    # enough backlog that the drain never runs dry inside the window
    tr = wal.generate(ctx.seed, CATCHUP_BATCH * (ctx.seconds + 8) * len(kinds), CATCHUP_KEYS,
                      live=live)
    cuts = [_chunks(tr, WARM_CHANGES)[0]]
    cuts += _chunks(tr, CATCHUP_BATCH, after=cuts[0][1])

    def preload():
        pipe = Pipeline(ctx, ctx.workdir("catchup"))
        preload_state(ctx.spark, pipe.applier, live)
        return pipe

    pipe = ctx.timed_setup(preload)

    def warm_cycle():
        # the first stream cycle pays codegen for the stage and trigger
        # path; its changes stay in the state the check compares
        pipe.stage(tr.frames[:cuts[0][0]])
        pipe.apply()

    ctx.timed_setup(warm_cycle)
    applied, start = cuts[0][1], cuts[0][0]
    cycles = {k: [] for k in kinds}  # (changes, seconds) per cycle
    traced_io = {"changes": 0, "flushes": 0, "staged_bytes": 0,
                 "buckets_touched": [], "rows_rewritten": []}
    ctx.begin_window()
    for i, (frame_end, change_end) in enumerate(cuts[1:]):
        if all(len(c) >= MIN_CYCLES and sum(s for _, s in c) >= ctx.seconds
               for c in cycles.values()):
            break
        traced = ctx.trace and i % 2 == 1
        bytes0 = pipe.staged_bytes() if traced else 0
        c0 = time.perf_counter()
        with ctx.op(f"batch{i}", traced):
            staged = pipe.stage(tr.frames[start:frame_end])
            pipe.apply()
        cycles[traced].append((change_end - applied, time.perf_counter() - c0))
        if traced:
            buckets, rows = pipe.inspect_publish()
            traced_io["changes"] += change_end - applied
            traced_io["flushes"] += staged > 0
            traced_io["staged_bytes"] += pipe.staged_bytes() - bytes0
            traced_io["buckets_touched"].append(buckets)
            traced_io["rows_rewritten"].append(rows)
        ctx.check(staged == change_end - applied, f"batch {i}: staged {staged} rows, "
                  f"expected {change_end - applied}")
        applied, start = change_end, frame_end
    ctx.end_window()
    drained = applied - cuts[0][1]
    ctx.attempted += 1
    check_state(ctx, pipe, initial, tr.changes[:applied])

    def rate(kind: bool) -> float:
        # closed loop: the drain is busy for exactly the summed cycles
        return sum(n for n, _ in cycles[kind]) / sum(s for _, s in cycles[kind])

    ctx.report("cpu_ms_per_item", 1000 * ctx.window_cpu_s / drained, "ms")
    ctx.info.update(throughput_per_s=rate(False), changes=drained, batch_rows=CATCHUP_BATCH,
                    cycles=sum(map(len, cycles.values())),
                    cycle_s=[round(s, 3) for c in cycles.values() for _, s in c])
    if ctx.trace:
        ctx.info["traced_throughput_per_s"] = rate(True)
        ctx.layer_inputs.update(traced_io)
        ctx.after.append(lambda: _local1_baseline(ctx, tr, cuts, live, initial))


def _local1_baseline(ctx, tr, cuts, live, initial) -> dict:
    """The same drain at local[1] — the single-threaded baseline: the warm
    chunk and the first batch in one timed cycle, untraced (the JVM's
    generated code is already warm from the measured window)."""
    ctx.tracer.enabled = False
    spark = ctx.restart_session(cores=1)
    pipe = Pipeline(ctx, ctx.workdir("catchup_local1"))
    preload_state(spark, pipe.applier, live)
    t0 = time.perf_counter()
    pipe.stage(tr.frames[:cuts[1][0]])
    pipe.apply()
    rate = cuts[1][1] / (time.perf_counter() - t0)
    ctx.attempted += 1
    check_state(ctx, pipe, initial, tr.changes[:cuts[1][1]])
    return {"scaling.local1_changes_per_s": rate,
            "scaling.speedup_vs_local1": ctx.info["throughput_per_s"] / rate}
