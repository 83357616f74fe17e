"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402


def _model(spec):
    m = W.Model()
    for batch in spec["batches"]:
        for key, epoch, v in batch:
            m.add(key, epoch, v)
    return m


# -- seeded generators ------------------------------------------------------
def test_read_store_spec_is_deterministic_per_seed():
    assert W.read_store_spec(7) == W.read_store_spec(7)
    assert W.read_store_spec(7) != W.read_store_spec(8)
    spec = W.read_store_spec(7)
    m = _model(spec)  # Model.add rejects non-increasing timestamps
    assert m.total() == W.READ_STREAMS * W.READ_BATCHES * W.READ_POINTS


def test_request_decks_are_deterministic_and_keep_the_mix():
    spec = W.read_store_spec(3)
    m = _model(spec)

    def draw(seed):
        rng = random.Random(seed)
        return [W.draw_deck(rng, spec, m) for _ in range(3)]

    assert draw(5) == draw(5)
    assert draw(5) != draw(6)
    for deck in draw(5):
        kinds = [k for k, _ in deck]
        assert {k: kinds.count(k) for k in set(kinds)} == dict(W.DECK)


class _RecordingClient:
    """Stands in for workloads.Client: records calls instead of running them."""

    def __init__(self):
        self.calls = []

    def run(self, kind, fn, *args, **kwargs):
        self.calls.append((kind, args))
        return f"id-{len(self.calls)}" if kind == "create" else None


def _ingest_inputs(seed, tmp_path):
    # Datastream's constructor only creates the store directory, so the
    # workload's generators run without a Spark session
    wl = W.IngestDownsample(None, str(tmp_path / f"store{seed}"), seed)
    client = _RecordingClient()
    wl.build(client)
    wl._cycle(client)
    return [(k, a) for k, a in client.calls if k == "append"], wl


def test_ingest_inputs_are_deterministic_per_seed(tmp_path):
    a, wl = _ingest_inputs(9, tmp_path)
    b, _ = _ingest_inputs(9, tmp_path)
    c, _ = _ingest_inputs(10, tmp_path)
    assert a == b and a != c
    assert len(a) == W.INGEST_SETUP_BATCHES + W.CYCLE_APPENDS
    assert wl.appended == sum(len(args[0]) for _, args in a)


# -- percentile and sample-count rule --------------------------------------
def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.beyond(n, want) >= stats.MIN_BEYOND


def test_summary_reports_count_median_and_supported_tail():
    s = stats.summary([float(x) for x in range(1, 41)])
    assert s == {"n": 40, "p50": 20.5, "tail_pct": 75.0, "tail": 30.0}
    assert stats.summary([1.0, 2.0]) == {"n": 2, "p50": 1.5}


def test_self_time_subtracts_the_union_of_children():
    parent = {"t0": 0.0, "t1": 10.0}
    kids = [{"t0": 1.0, "t1": 4.0}, {"t0": 3.0, "t1": 5.0}, {"t0": 9.0, "t1": 12.0}]
    assert stats.self_time(parent, kids) == pytest.approx(10 - 4 - 1)


# -- model checks ------------------------------------------------------------
def test_raw_page_check_catches_a_changed_value():
    m = W.Model()
    for k in range(5):
        m.add("s", 100 + k, float(k))
    want = m.raw_page("s", 101, True, 3)
    resp = {"datapoints": [{"t": W.iso(e), "v": v} for e, v in want]}
    assert W.check_response("raw", resp, want) is None
    resp["datapoints"][1]["v"] = 9.0
    assert W.check_response("raw", resp, want) is not None
    assert [e for e, _ in m.raw_page("s", 101, False, 10)] == [102, 103, 104]


def test_agg_page_check_compares_count_sum_min_max_and_first():
    m = W.Model()
    for e, v in ((600, 1.0), (610, 3.0), (1250, 2.0)):
        m.add("s", e, v)
    b = m.buckets("s", 600)
    want = [b[k] for k in sorted(b)]
    resp = {
        "datapoints": [
            {"t": {"first": W.iso(600)}, "v": {"count": 2, "sum": 4.0, "min": 1.0, "max": 3.0}},
            {"t": {"first": W.iso(1250)}, "v": {"count": 1, "sum": 2.0, "min": 2.0, "max": 2.0}},
        ]
    }
    assert W.check_response("agg_hours6", resp, want) is None
    resp["datapoints"][0]["v"]["count"] = 3
    assert W.check_response("agg_hours6", resp, want) is not None


# -- the printed result ------------------------------------------------------
def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_end_to_end_metric_is_printed_with_its_unit():
    measured = {
        "setup_s": [3.0, 1.2, 1.1],
        "call_s": [0.3, 0.4, 0.35],
        "items": 1000,
        "wall_s": 12.5,
        "job_s": [19.0],
        "store_bytes": 10**6,
        "points": 12000,
    }
    got = run.end_to_end_metrics(measured)
    want = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert all(isinstance(v["value"], float) and v["value"] > 0 for v in got.values())


def test_every_per_layer_metric_is_printed_with_its_unit():
    spans = [
        {"id": 1, "parent": None, "call": 1, "name": "call.raw", "t0": 0.0, "t1": 1.0},
        {"id": 2, "parent": 1, "call": 1, "name": "http_api.stream_datapoints", "t0": 0.1, "t1": 0.9, "jobs": 2},
        {"id": 3, "parent": 2, "call": 1, "name": "api.get_data", "t0": 0.2, "t1": 0.4, "jobs": 1},
        {"id": 4, "parent": 2, "call": 1, "name": "api.iter", "t0": 0.4, "t1": 0.8, "jobs": 1, "rows": 100},
    ]
    calls = [{"id": 1, "kind": "raw", "files_read": 12, "jobs": []}]
    extra = {
        "get_spark_s": [1.0],
        "files_written": 0,
        "files_live": 30,
        "streams_log_files": 5,
        "overhead_ratio": 0.02,
        "spark": dict.fromkeys(
            ("jobs", "stages", "tasks", "exec_s", "executor_run_s",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 1),
    }
    got = run.layer_metrics(spans, calls, extra)
    want = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["http_api.self_ms"]["value"] == pytest.approx(200.0)
    assert got["api.iter.rows"]["value"] == 100
    assert got["storage.files_scanned_per_read"]["value"] == 12


def test_benchmark_json_names_the_workloads_run_accepts():
    doc = _benchmark_json()
    assert {w["name"] for w in doc["workloads"]} == set(W.WORKLOADS)
    assert doc["command"] == ["python3", "perfbench/run.py"]


def test_run_refuses_without_the_engine_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "http_read", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
