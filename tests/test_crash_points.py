"""Crash-point harness: a process dies at any filesystem step of a
publish, restarts on the same state dir, re-applies the batch it was
handling (at-least-once delivery), and must end with exactly the state
of the reference interpreter — nothing lost, nothing doubled.

``creek_spark.fsio`` is the only filesystem seam the state stores use, so
raising in place of its k-th call (or after the last one: the crash
between the publish and the checkpoint commit) covers every point
between a version-dir write, the manifest swap and GC.  Hypothesis draws
the op sequence, the batch split and the crash point; the explicit
examples pin one crash at each fsio step of a run publish and of a
compaction publish (CdcApplier, StreamingDedup), of a rollup publish
(AdditiveRollupSink) — every fenced sink that commits through the
versioned store — of a StreamingAnnIndex manifest commit, compaction and
retrain flip, of a stream_shard_writer fence commit, and of each staged
file of a two-flush, two-table walsender ingest.  A
StreamingDedup, StreamingAnnIndex or shard-writer batch costs seconds of
Spark jobs, so their harnesses run the explicit examples only."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st

from creek_spark import fsio
from creek_spark.streaming import CdcApplier
from creek_spark.streaming.ann import StreamingAnnIndex
from creek_spark.streaming.dedup import StreamingDedup
from creek_spark.streaming.rollup import AdditiveRollupSink
from tests.fixtures import ENV_SCHEMA, _lsn, interpret, wal_row

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


class _Crash(Exception):
    pass


class _CrashAt:
    """While active, counts the outermost ``creek_spark.fsio`` calls
    (``join`` is pure and not a step) and raises :class:`_Crash` in
    place of the ``k``-th.  ``hit`` names the call it replaced."""

    def __init__(self, k: int):
        self.k = k
        self.calls = 0
        self.hit: str | None = None
        self._depth = 0
        self._orig: dict = {}

    def _wrap(self, name, fn):
        def wrapped(*a, **kw):
            if self._depth == 0:
                self.calls += 1
                if self.calls == self.k:
                    self.hit = name
                    raise _Crash(name)
            self._depth += 1
            try:
                return fn(*a, **kw)
            finally:
                self._depth -= 1

        return wrapped

    def __enter__(self):
        for name in fsio.__all__:
            if name != "join":
                self._orig[name] = getattr(fsio, name)
                setattr(fsio, name, self._wrap(name, self._orig[name]))
        return self

    def __exit__(self, *exc):
        for name, fn in self._orig.items():
            setattr(fsio, name, fn)
        return False


def _crash_during(k: int, op) -> str:
    """Run ``op`` with a crash in place of its k-th fsio call, or right
    after it returns when it makes fewer calls; returns the crashed
    step ('after' for the latter)."""
    crash = _CrashAt(k)
    try:
        with crash:
            op()
    except _Crash:
        return crash.hit
    return "after"


def _manifest(state_dir: str) -> dict:
    """The committed manifest; version 0 before the first publish."""
    path = os.path.join(state_dir, "_manifest.json")
    if not os.path.exists(path):
        return {"version": 0}
    with open(path) as f:
        return json.load(f)


def _dirs_outside(state_dir: str, manifest: dict) -> set[str]:
    """Base files (named by their version dir) and run dirs on disk that
    ``manifest`` neither reads nor retains — what a crash leaked and GC
    missed."""
    keep = set(manifest["buckets"].values())
    keep |= set(manifest.get("runs", ())) | set(manifest["retain"])
    found = set()
    for ver in os.listdir(state_dir):
        if ver.startswith("v") and os.path.isdir(os.path.join(state_dir, ver)):
            found |= {f"{ver}/_run" if sub == "_run" else ver
                      for sub in os.listdir(os.path.join(state_dir, ver))
                      if sub != "_SUCCESS" and not sub.startswith(".")}
    return found - keep


# -- CdcApplier --------------------------------------------------------

_OPS = st.lists(
    st.tuples(
        st.sampled_from(["c", "u", "toast", "d", "u_pk", "t", "dup"]),
        st.integers(1, 4),
        st.integers(1, 4),
    ),
    min_size=2,
    max_size=10,
)


def _events(ops) -> list[tuple]:
    """(lsn, op, before, after, toast) events; 'dup' re-delivers an
    earlier event verbatim."""
    events = []
    for i, (kind, k, k2) in enumerate(ops):
        lsn, v = i + 1, f"v{i + 1}"
        if kind == "dup":
            if events:
                events.append(events[(k * k2) % len(events)])
            continue
        events.append({
            "c": (lsn, "c", None, (k, v), None),
            "u": (lsn, "u", (k,), (k, v), None),
            "toast": (lsn, "u", (k,), (k, None), ["data"]),
            "d": (lsn, "d", (k,), None, None),
            "u_pk": (lsn, "u_pk", (k,), (k2 + 4, v), None),
            "t": (lsn, "t", None, None, None),
        }[kind])
    return events


def _split(events, cuts) -> list[list]:
    bounds = sorted({c % len(events) for c in cuts} - {0}) + [len(events)]
    out, prev = [], 0
    for b in bounds:
        out.append(events[prev:b])
        prev = b
    return out


def _cdc_state(applier) -> tuple[dict, dict]:
    st_ = applier.current_state()
    if st_ is None:
        return {}, {}
    rows = st_.select("id", "data", "_creek_lsn").collect()
    return {r["id"]: r["data"] for r in rows}, {r["id"]: r["_creek_lsn"] for r in rows}


_BASE = [("c", 1, 1), ("c", 2, 1), ("c", 3, 1), ("u", 1, 1)]
_TRUNC = _BASE + [("t", 1, 1), ("c", 4, 1)]


@given(
    ops=_OPS,
    cuts=st.lists(st.integers(1, 20), max_size=3),
    j=st.integers(0, 3),
    compact_first=st.booleans(),
    orphan=st.booleans(),
    phase=st.sampled_from(["run", "compact"]),
    k=st.integers(1, 8),
    expect=st.none(),
)
# one crash at each fsio step: a run publish on a fresh store (manifest
# read, manifest swap, orphan sweep) and after a compaction (GC delete)
@example(ops=_BASE, cuts=[], j=0, compact_first=False, orphan=False,
         phase="run", k=1, expect="read_json_or_none")
@example(ops=_BASE, cuts=[], j=0, compact_first=False, orphan=False,
         phase="run", k=2, expect="write_json_atomic")
@example(ops=_BASE, cuts=[], j=0, compact_first=False, orphan=True,
         phase="run", k=3, expect="list_names")
@example(ops=_BASE + [("d", 2, 1)], cuts=[4], j=1, compact_first=True,
         orphan=False, phase="run", k=3, expect="delete")
@example(ops=_BASE + [("d", 2, 1)], cuts=[4], j=1, compact_first=True,
         orphan=False, phase="run", k=4, expect="after")
# ... and at each step of a compaction publish: manifest read, manifest
# swap, then the orphan sweep's listing and its delete (of a dir an
# earlier crash leaked)
@example(ops=_TRUNC, cuts=[3], j=1, compact_first=True, orphan=True,
         phase="compact", k=1, expect="read_json_or_none")
@example(ops=_TRUNC, cuts=[3], j=1, compact_first=True, orphan=True,
         phase="compact", k=2, expect="write_json_atomic")
@example(ops=_TRUNC, cuts=[3], j=1, compact_first=True, orphan=True,
         phase="compact", k=3, expect="list_names")
@example(ops=_TRUNC, cuts=[3], j=1, compact_first=True, orphan=True,
         phase="compact", k=4, expect="delete")
@example(ops=_TRUNC, cuts=[3], j=1, compact_first=True, orphan=True,
         phase="compact", k=99, expect="after")
@_SETTINGS
def test_cdc_applier_survives_a_crash_at_every_fsio_step(
    spark, ops, cuts, j, compact_first, orphan, phase, k, expect
):
    events = _events(ops)
    batches = _split(events, cuts)
    j %= len(batches)
    state_dir = tempfile.mkdtemp(prefix="crash_cdc_")
    try:
        def apply(applier, i):
            rows = [wal_row(lsn, op, before=b, after=a, toast=t)
                    for lsn, op, b, a, t in batches[i]]
            applier.apply_batch(spark.createDataFrame(rows, schema=ENV_SCHEMA), i)

        applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
        for i in range(j):
            apply(applier, i)
        if compact_first:
            applier.compact()
        if orphan:
            # a run dir no manifest names, leaked by an earlier crash
            os.makedirs(os.path.join(state_dir, "v000000000", "_run"))
        if phase == "run":
            hit = _crash_during(k, lambda: apply(applier, j))
        else:
            apply(applier, j)
            hit = _crash_during(k, applier.compact)
        assert expect is None or hit == expect, (hit, expect)

        # restart: a fresh applier on the same state dir, the crashed
        # batch re-delivered, then the rest of the stream
        applier = CdcApplier(spark, state_dir, ["id"], ENV_SCHEMA, n_buckets=4)
        for i in range(j, len(batches)):
            apply(applier, i)
        expected, last = interpret(events)
        expected_lsn = {key: _lsn(lsn) for key, lsn in last.items()}
        assert _cdc_state(applier) == (expected, expected_lsn)
        applier.compact()
        assert _cdc_state(applier) == (expected, expected_lsn)
        manifest = _manifest(state_dir)
        assert manifest["runs"] == []
        assert not _dirs_outside(state_dir, manifest)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# -- walsender ingest --------------------------------------------------


@pytest.mark.parametrize(
    "k, expect",
    [(1, "write_file_atomic"), (2, "write_file_atomic"), (3, "write_file_atomic"),
     (4, "write_file_atomic"), (5, "after")],
)
def test_tables_ingest_survives_a_crash_at_every_fsio_step(
    spark, tmp_path, monkeypatch, k, expect
):
    """Two flushes of two tables stage four files.  A crash in place of
    any of them, or after the ingest returns, then a fresh session on
    the same state dir re-ingesting the transcript, must apply to each
    table's interpreter state: a flush whose ack was lost is
    re-delivered, and its rows staged twice merge as no-ops."""
    from creek_spark.sources import walsender
    from creek_spark.sources.walsender import (
        TranscriptTransport,
        WalSenderSession,
        ingest_transcript_tables,
    )
    from tests.test_wal_staging import TWO_TABLES, two_table_transcript

    monkeypatch.setattr(walsender, "_FLUSH_ROWS", 3)
    path = two_table_transcript(tmp_path / "two.hex")
    wal_dir = str(tmp_path / "wal")

    def ingest():
        sess = WalSenderSession(TranscriptTransport(path), str(tmp_path / "lsn"))
        ingest_transcript_tables(spark, sess, wal_dir)

    assert _crash_during(k, ingest) == expect
    ingest()  # the restart
    for qname, (_, events) in TWO_TABLES.items():
        staged = os.path.join(wal_dir, qname.replace(".", "_"))
        applier = CdcApplier(spark, str(tmp_path / qname), ["id"], n_buckets=2)
        applier.apply_batch(spark.read.schema(ENV_SCHEMA).parquet(staged), 0)
        expected, last = interpret(events)
        expected_lsn = {key: _lsn(lsn) for key, lsn in last.items()}
        assert _cdc_state(applier) == (expected, expected_lsn)


# -- AdditiveRollupSink ------------------------------------------------

_DAYS = ["2024-01-01", "2024-01-02", "2024-01-03"]
_CELLS = st.lists(
    st.tuples(st.integers(0, 2), st.sampled_from(["a", "b"]), st.integers(1, 9)),
    min_size=1,
    max_size=4,
)
# three batches that all land on day 1: the third publish GCs the first
_SAME_DAY = [[(0, "a", 1)], [(0, "a", 2)], [(0, "b", 3)]]


@given(
    batches=st.lists(_CELLS, min_size=1, max_size=3),
    j=st.integers(0, 2),
    k=st.integers(1, 6),
    expect=st.none(),
)
# one crash at each fsio step of a rollup publish: manifest read,
# manifest swap, GC delete — and after it
@example(batches=_SAME_DAY, j=2, k=1, expect="read_json_or_none")
@example(batches=_SAME_DAY, j=2, k=2, expect="write_json_atomic")
@example(batches=_SAME_DAY, j=2, k=3, expect="delete")
@example(batches=_SAME_DAY, j=2, k=4, expect="after")
@settings(_SETTINGS, max_examples=4)
def test_rollup_sink_survives_a_crash_at_every_fsio_step(spark, batches, j, k, expect):
    j %= len(batches)
    state_dir = tempfile.mkdtemp(prefix="crash_rollup_")
    try:
        def apply(sink, i):
            rows = [(_DAYS[d], key, n) for d, key, n in batches[i]]
            sink.apply_batch(
                spark.createDataFrame(rows, "day string, key string, n long"), i
            )

        def open_sink():
            return AdditiveRollupSink(spark, state_dir, ["day", "key"], ["n"], "day")

        sink = open_sink()
        for i in range(j):
            apply(sink, i)
        hit = _crash_during(k, lambda: apply(sink, j))
        assert expect is None or hit == expect, (hit, expect)

        # restart: the re-delivered batch keeps its id, so the fence
        # drops it when its publish had landed before the crash
        sink = open_sink()
        crashed_version = _manifest(state_dir)["version"]
        for i in range(j, len(batches)):
            apply(sink, i)
        expected: dict = {}
        for cells in batches:
            for d, key, n in cells:
                expected[(_DAYS[d], key)] = expected.get((_DAYS[d], key), 0) + n
        got = {(r["day"], r["key"]): r["n"] for r in sink.current().collect()}
        assert got == expected
        assert sink.last_batch_id() == len(batches) - 1
        manifest = _manifest(state_dir)
        # a crash leaks dirs only until the restarted store's first
        # publish sweeps them
        if manifest["version"] > crashed_version:
            assert not _dirs_outside(state_dir, manifest)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# -- StreamingDedup ----------------------------------------------------

_FOX = "the quick brown fox jumps over the lazy dog near the old river bank"
_FENCE = "each micro batch commits its index run and its fence in one swap"
# near-duplicates within and across batches: exact copies (certain
# candidates), one-word edits and one unrelated doc
_DOC_BATCHES = [
    [(1, _FOX), (4, _FENCE)],
    [(2, _FOX), (5, _FENCE.replace("swap", "publish")), (6, "parquet files")],
    [(3, _FOX.replace("fox", "cat"))],
]


def _doc_pairs(df) -> list[tuple]:
    return sorted(map(tuple, df.select("doc_a", "doc_b").collect()))


@pytest.fixture(scope="module")
def dedup_prefix(spark, tmp_path_factory):
    """The batches, a store that committed the first two of them (each
    example starts from a copy — a batch costs seconds of Spark jobs),
    and the full-corpus candidate pairs."""
    from creek_spark.operators.dedup import minhash_lsh_candidates

    frames = [
        spark.createDataFrame(docs, "doc_id long, text string")
        for docs in _DOC_BATCHES
    ]
    state_dir = str(tmp_path_factory.mktemp("dedup_prefix"))
    sd = StreamingDedup(spark, state_dir)
    for i in (0, 1):
        sd.apply_batch(frames[i], i)
    corpus = frames[0].unionByName(frames[1]).unionByName(frames[2])
    want = _doc_pairs(minhash_lsh_candidates(corpus, "text", "doc_id"))
    assert (1, 2) in want and (1, 3) in want  # within and across batches
    return frames, state_dir, want


@given(
    phase=st.sampled_from(["batch", "compact"]),
    orphan=st.booleans(),
    k=st.integers(1, 6),
    expect=st.none(),
)
# one crash at each fsio step of a batch publish (manifest read, manifest
# swap, GC delete of the inputs of the compaction before it) ...
@example(phase="batch", orphan=False, k=1, expect="read_json_or_none")
@example(phase="batch", orphan=False, k=2, expect="write_json_atomic")
@example(phase="batch", orphan=False, k=3, expect="delete")
# ... and of a compaction publish: manifest read, manifest swap, the
# sweep's listing and its delete of a dir an earlier crash leaked — and
# right after it
@example(phase="compact", orphan=True, k=1, expect="read_json_or_none")
@example(phase="compact", orphan=True, k=2, expect="write_json_atomic")
@example(phase="compact", orphan=True, k=3, expect="list_names")
@example(phase="compact", orphan=True, k=4, expect="delete")
@example(phase="compact", orphan=True, k=99, expect="after")
@settings(_SETTINGS, phases=[Phase.explicit])
def test_streaming_dedup_survives_a_crash_at_every_fsio_step(
    spark, dedup_prefix, phase, orphan, k, expect
):
    frames, prefix, want = dedup_prefix
    state_dir = tempfile.mkdtemp(prefix="crash_dedup_")
    try:
        shutil.copytree(prefix, state_dir, dirs_exist_ok=True)
        sd = StreamingDedup(spark, state_dir)
        if orphan:
            # a run dir no manifest names, leaked by an earlier crash
            os.makedirs(os.path.join(state_dir, "v000000000", "_run"))
        if phase == "batch":
            # the store's first publish sweeps; the crashed one then GCs
            sd.compact()
            j = 2
            hit = _crash_during(k, lambda: sd.apply_batch(frames[j], j))
        else:
            j = 1
            hit = _crash_during(k, sd.compact)
        assert expect is None or hit == expect, (hit, expect)

        # restart: a fresh store on the same dir, the crashed batch
        # re-delivered under its id, then the rest of the stream
        sd = StreamingDedup(spark, state_dir)
        crashed_version = _manifest(state_dir)["version"]
        for i in range(j, len(frames)):
            sd.apply_batch(frames[i], i)
        assert sd.last_batch_id() == len(frames) - 1
        # a crash leaks dirs only until the restarted store's first
        # publish sweeps them
        if _manifest(state_dir)["version"] > crashed_version:
            assert not _dirs_outside(state_dir, _manifest(state_dir))
        sd.compact()  # a publish even when the re-delivery was fenced
        assert not _dirs_outside(state_dir, _manifest(state_dir))
        assert _doc_pairs(sd.candidates()) == want
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# -- StreamingAnnIndex -------------------------------------------------


@pytest.fixture(scope="module")
def ann_prefix(spark, tmp_path_factory):
    """A bootstrapped index (each example starts from a copy — bootstrap
    trains quantizers), the streamed batch, and the seed's ids."""
    from pyspark.sql import functions as F

    from creek_spark.sources import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    seed = emb.where(F.col("vec_id") % 4 == 0)
    batch = emb.where(F.col("vec_id") % 4 == 1)
    path = str(tmp_path_factory.mktemp("ann_prefix") / "idx")
    StreamingAnnIndex(spark, path).bootstrap(seed)
    seed_ids = [r["vec_id"] for r in seed.select("vec_id").collect()]
    return path, batch, seed_ids


@pytest.fixture(scope="module")
def ann_streamed(spark, ann_prefix, tmp_path_factory):
    """A copy of ``ann_prefix`` that committed the batch as batch id 0,
    and the ids the index must hold: the seed's and the batch's."""
    prefix, batch, seed_ids = ann_prefix
    path = str(tmp_path_factory.mktemp("ann_streamed") / "idx")
    shutil.copytree(prefix, path)
    StreamingAnnIndex(spark, path).apply_batch(batch, 0)
    batch_ids = [r["vec_id"] for r in batch.select("vec_id").collect()]
    return path, batch, sorted(seed_ids + batch_ids)


def _ann_ids(spark, path) -> list:
    from creek_spark.operators.ann_maintenance import read_codes

    return sorted(
        r["n_id"] for r in read_codes(spark, path).select("n_id").collect()
    )


@given(k=st.integers(1, 5), expect=st.none())
# one crash at each fsio step of the manifest commit that ends
# apply_batch (the commit's manifest read and the swap), at the batch's
# first manifest read, and right after the commit
@example(k=1, expect="read_json_or_none")
@example(k=3, expect="read_json_or_none")
@example(k=4, expect="write_json_atomic")
@example(k=99, expect="after")
@settings(_SETTINGS, phases=[Phase.explicit])
def test_streaming_ann_index_survives_a_crash_at_every_fsio_step(
    spark, ann_prefix, k, expect
):
    from creek_spark.operators.ann_maintenance import read_manifest

    prefix, batch, seed_ids = ann_prefix
    root = tempfile.mkdtemp(prefix="crash_ann_")
    path = os.path.join(root, "idx")
    try:
        shutil.copytree(prefix, path)
        idx = StreamingAnnIndex(spark, path)
        hit = _crash_during(k, lambda: idx.apply_batch(batch, 0))
        assert expect is None or hit == expect, (hit, expect)

        # restart: a fresh index handle on the same dir, the crashed
        # batch re-delivered under its id
        StreamingAnnIndex(spark, path).apply_batch(batch, 0)
        batch_ids = [r["vec_id"] for r in batch.select("vec_id").collect()]
        assert _ann_ids(spark, path) == sorted(seed_ids + batch_ids)
        assert read_manifest(spark, path)["max_bid"] == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ann_maintenance_crash(spark, ann_streamed, k, op):
    """Crash ``op`` (compact or retrain on an index handle) at its k-th
    fsio call, restart on a fresh handle and re-run it; the committed
    ids stay the seed plus the batch exactly once, the watermark stays
    at the batch, and a replay of the batch is a no-op.  Returns the
    crashed step."""
    from creek_spark.operators.ann_maintenance import (
        pending_retrain_epoch,
        read_manifest,
    )

    prefix, batch, want = ann_streamed
    root = tempfile.mkdtemp(prefix="crash_ann_maint_")
    path = os.path.join(root, "idx")
    try:
        shutil.copytree(prefix, path)
        hit = _crash_during(k, lambda: op(StreamingAnnIndex(spark, path)))
        idx = StreamingAnnIndex(spark, path)
        op(idx)
        assert _ann_ids(spark, path) == want
        assert read_manifest(spark, path)["max_bid"] == 1
        assert pending_retrain_epoch(spark, path) is None
        assert idx.apply_batch(batch, 0) is None
        assert _ann_ids(spark, path) == want
        return hit
    finally:
        shutil.rmtree(root, ignore_errors=True)


@given(k=st.integers(1, 4), expect=st.none())
# one crash at each fsio step of a compaction: its manifest read, the
# commit's manifest read, the swap — and right after it
@example(k=1, expect="read_json_or_none")
@example(k=2, expect="read_json_or_none")
@example(k=3, expect="write_json_atomic")
@example(k=99, expect="after")
@settings(_SETTINGS, phases=[Phase.explicit])
def test_ann_compaction_survives_a_crash_at_every_fsio_step(
    spark, ann_streamed, k, expect
):
    hit = _ann_maintenance_crash(spark, ann_streamed, k, lambda i: i.compact())
    assert expect is None or hit == expect, (hit, expect)


@given(k=st.integers(1, 7), expect=st.none())
# one crash at each fsio step of a retrain: its manifest read, the
# pending marker's write, the catch-up round's manifest read, the flip's
# manifest read and swap, the marker's delete — and right after it
@example(k=1, expect="read_json_or_none")
@example(k=2, expect="write_json_atomic")
@example(k=3, expect="read_json_or_none")
@example(k=4, expect="read_json_or_none")
@example(k=5, expect="write_json_atomic")
@example(k=6, expect="delete")
@example(k=99, expect="after")
@settings(_SETTINGS, phases=[Phase.explicit])
def test_ann_retrain_survives_a_crash_at_every_fsio_step(
    spark, ann_streamed, k, expect
):
    hit = _ann_maintenance_crash(spark, ann_streamed, k, lambda i: i.retrain())
    assert expect is None or hit == expect, (hit, expect)


# -- stream_shard_writer -----------------------------------------------

_SHARD_DOCS = 30


@given(k=st.integers(1, 3), expect=st.none())
# one crash at each fsio step of a batch commit: the fence read, the
# fence write — and right after it
@example(k=1, expect="read_json_or_none")
@example(k=2, expect="write_json_atomic")
@example(k=99, expect="after")
@settings(_SETTINGS, phases=[Phase.explicit])
def test_stream_shard_writer_survives_a_crash_at_every_fsio_step(
    spark, k, expect
):
    from pyspark.sql import functions as F

    from creek_spark.operators.pipeline import stream_shard_writer

    docs = spark.range(_SHARD_DOCS).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("d"), "id").alias("text")
    )
    batches = [docs.where(F.col("doc_id") % 3 == r) for r in range(3)]
    path = tempfile.mkdtemp(prefix="crash_shards_")
    try:
        stream_shard_writer(path, "doc_id")(batches[0], 0)
        j = 1
        write = stream_shard_writer(path, "doc_id")
        hit = _crash_during(k, lambda: write(batches[j], j))
        assert expect is None or hit == expect, (hit, expect)

        # restart: a fresh writer, the crashed batch re-delivered under
        # its id, then the rest of the stream
        write = stream_shard_writer(path, "doc_id")
        for i in range(j, len(batches)):
            write(batches[i], i)
        rows = spark.read.option("basePath", path).parquet(path).collect()
        assert sorted((r["batch"], r["doc_id"]) for r in rows) == sorted(
            (d % 3, d) for d in range(_SHARD_DOCS)
        )
        for b in range(len(batches)):
            subs = os.listdir(os.path.join(path, f"batch={b}"))
            assert any(s.startswith("shard=") for s in subs), subs
        with open(os.path.join(path, "_fence.json")) as f:
            assert json.load(f)["last_batch_id"] == len(batches) - 1
    finally:
        shutil.rmtree(path, ignore_errors=True)
