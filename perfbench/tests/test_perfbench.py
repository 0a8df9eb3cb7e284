"""Tests of the benchmark itself: seeded generators repeat exactly, the
metric registry matches BENCHMARK.json, and the statistics and event-log
reader compute what the README says.  They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import dashboard  # noqa: E402
import gen  # noqa: E402
import harness as h  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.md5(f.read()).hexdigest()
    return out


def test_restaging_repeats_for_a_seed_and_keeps_every_row(tmp_path):
    a = gen.write_dataset(str(tmp_path / "a"), 7)
    b = gen.write_dataset(str(tmp_path / "b"), 7)
    c = gen.write_dataset(str(tmp_path / "c"), 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert sorted(n[: -len(".parquet")] for n in _digest(a)) == sorted(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]
    )
    for name in ("events", "orders"):
        ref = gen.read(name).to_pandas()
        staged = pq.read_table(os.path.join(c, f"{name}.parquet")).to_pandas()
        assert not staged.equals(ref)  # reordered
        key = list(ref.columns)
        assert staged.sort_values(key, ignore_index=True).equals(
            ref.sort_values(key, ignore_index=True))


def test_events_batch_repeats_draws_stored_rows_and_numbers_ids():
    events = gen.read("events")
    a = gen.events_batch(np.random.default_rng(5), events, 50, 20000)
    b = gen.events_batch(np.random.default_rng(5), events, 50, 20000)
    assert a.equals(b)
    assert a["event_id"].to_pylist() == list(range(20000, 20050))
    stored = {tuple(r.values()) for r in events.drop_columns("event_id").to_pylist()}
    assert all(tuple(r.values()) in stored
               for r in a.drop_columns("event_id").to_pylist())


def test_dashboard_plan_repeats_and_covers_every_panel(tmp_path):
    def plans(seed):
        store = dashboard.Store(str(tmp_path))
        client = dashboard.Client(None, store, np.random.default_rng(seed),
                                  str(tmp_path), trace=False)
        return [client.round_plan() for _ in range(3)]

    first = plans(11)
    assert first == plans(11)
    assert first != plans(12)
    for plan in first:
        assert sorted(p for p in plan if p != "write") == sorted(dashboard.READS)
        assert plan.count("write") == dashboard.WRITES_PER_ROUND
        i = plan.index("minhash_candidates")
        assert plan[i + 1] == "minhash_verified_pairs"


def test_metric_registry_matches_benchmark_json():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in SPEC["per_layer"]] == list(run.PER_LAYER)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_tail_is_the_highest_percentile_with_ten_beyond():
    values = list(range(1, 201))
    q = h.tail_quantile(len(values))
    assert q == pytest.approx(0.95)
    assert sum(v > h.percentile(values, q) for v in values) == 10
    assert h.tail_quantile(99) == h.tail_quantile(14) == 1.0
    assert h.percentile([3.0, 1.0, 2.0], 1.0) == 3.0


def test_union_ms_merges_overlapping_jobs():
    assert h.union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert h.union_ms([]) == 0


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    def task(stage, run_ms, read=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Failed": False},
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                                 "Input Metrics": {"Bytes Read": read,
                                                   "Records Read": 1}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "operators|1"}},
        task(0, 30, read=500), task(0, 20),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 160},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 200,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "run-1"}},
        task(1, 7),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 210},
        {"Event": h._QUERY_STARTED, "id": "q", "runId": "run-1", "name": "feed"},
        {"Event": h._QUERY_PROGRESS, "progress": {
            "runId": "run-1", "durationMs": {"triggerExecution": 40,
                                             "commitOffsets": 4},
            "sources": [{"numInputRows": 9}],
            "stateOperators": [{"numRowsTotal": 3, "memoryUsedBytes": 64}]}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "rdd_1_0", "Memory Size": 100, "Disk Size": 0}},
        {"Event": "SparkListenerBlockUpdated", "Block Updated Info": {
            "Block ID": "rdd_1_0", "Memory Size": 0, "Disk Size": 0}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    log = h.EventLog(str(tmp_path))
    ops = log.layer("operators")
    assert (ops.tasks, ops.run_ms, ops.in_bytes, ops.jobs) == (2, 50, 500, [(100, 160)])
    assert log.layer("streaming.feed").run_ms == 7
    assert log.total().gc_ms == 3
    assert log.cached_bytes_peak == 100
    s = h.stream_metrics(log, "feed")
    assert (s["batch_ms_p50"], s["rows_per_batch_p50"], s["state_rows"]) == (40, 9, 3)
