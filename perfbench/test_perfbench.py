"""Benchmark-local tests (no Spark session): the transcript generator is
deterministic, its frames decode to exactly what the interpreter applies,
the state check trips on a dropped change, the per-layer block keeps the
schema BENCHMARK.json declares, and the CPU reading counts child processes.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pandas as pd

import analytics
import instrument
import run
import wal
from creek_spark.sources.pgoutput import PgOutputDecoder, unwrap_xlogdata
from layers import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
LIVE = wal.preload_keys(300, 0.8)


def _transcript(seed: int) -> wal.Transcript:
    return wal.generate(seed, 400, 300, live=LIVE)


def _decoded_state(frames: list[str]) -> dict:
    """Decode the frames with the product decoder and apply the envelope
    rows with the reference rules — independent of `wal.interpret`."""
    dec = PgOutputDecoder()
    state = {k: wal.preload_row(k) for k in LIVE}
    for line in frames:
        lsn, payload = unwrap_xlogdata(bytes.fromhex(line))
        for row in dec.feed(payload, lsn):
            after = row["after"]
            if row["op"] in ("d", "u_pk"):
                state.pop(row["before"]["id"])
            if after is not None:
                if row["unchanged_toast"]:
                    after = {**after, "name": state[after["id"]][0]}
                state[after["id"]] = tuple(after[c] for c in wal.VALUE_COLS)
    return state


def test_same_seed_gives_byte_identical_frames():
    a, b = _transcript(5), _transcript(5)
    assert a.frames == b.frames and a.changes == b.changes
    assert _transcript(6).frames != _transcript(5).frames


def test_transcript_covers_every_op():
    ops = {(c.op, c.toast) for c in _transcript(1).changes}
    assert ops == {("c", False), ("u", False), ("u", True), ("u_pk", False), ("d", False)}


def test_decoded_frames_match_the_interpreter():
    tr = _transcript(2)
    initial = {k: wal.preload_row(k) for k in LIVE}
    assert wal.state_mismatches(wal.interpret(tr.changes, initial), _decoded_state(tr.frames)) == []


def test_state_check_trips_when_one_change_is_dropped():
    tr = _transcript(3)
    initial = {k: wal.preload_row(k) for k in LIVE}
    expected = wal.interpret(tr.changes, initial)
    assert wal.state_mismatches(expected, wal.interpret(tr.changes, initial)) == []
    # the last change to touch a key always shows in the final state
    last = {}
    for i, ch in enumerate(tr.changes):
        last[ch.key] = i
    for i in sorted(last.values())[::37]:
        dropped = tr.changes[:i] + tr.changes[i + 1:]
        assert wal.state_mismatches(expected, wal.interpret(dropped, initial)), tr.changes[i]


def test_layers_block_matches_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert dict(instrument.all_metrics()) == declared
    assert len(analytics.headline()) == 16


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 0, "name": "cycle", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "apply", "parent": 0, "start": 2.0, "end": 6.0},
        {"id": 2, "name": "read", "parent": 0, "start": 5.0, "end": 7.0},
        {"id": 3, "name": "write", "parent": 1, "start": 3.0, "end": 4.0},
    ]
    assert [tr.self_time(s) for s in tr.spans] == [5.0, 3.0, 2.0, 1.0]


def test_result_digest_is_order_and_type_blind():
    a = pd.DataFrame({"d": [dt.date(2024, 1, 2), dt.date(2024, 1, 1)], "x": [1.5, 2]})
    b = pd.DataFrame({"x": [2.0, 1.5], "d": pd.to_datetime(["2024-01-01", "2024-01-02"])})
    assert analytics.result_digest(a) == analytics.result_digest(b)
    assert analytics.result_digest(a) != analytics.result_digest(b.assign(x=[2.0, 1.25]))


def test_tree_cpu_counts_a_live_child():
    burn = ("import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
            "print('burnt', flush=True)\ntime.sleep(60)")
    before = run._tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "burnt"
        assert run._tree_cpu_s(os.getpid()) - before >= 0.45
    finally:
        child.kill()
        child.wait()
        child.stdout.close()
