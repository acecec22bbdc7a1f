"""Unit tests for the benchmark's own helpers.

    python3 -m pytest crawlbench -q
"""

from __future__ import annotations

import json
import os
import random
import statistics

import pandas as pd
import pytest

from crawlbench import eventlog
from crawlbench.stats import digest_frame, digest_rows, median, percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- percentile
def test_percentile_interpolates_and_counts_samples():
    assert percentile([3.0, 1.0, 2.0], 50) == (2.0, 3)
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == (2.5, 4)
    assert percentile([10.0, 20.0], 90) == pytest.approx((19.0, 2))
    assert percentile([7.0], 99) == (7.0, 1)
    assert percentile([5.0, 1.0], 0) == (1.0, 2)
    assert percentile([5.0, 1.0], 100) == (5.0, 2)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_median_matches_statistics():
    rng = random.Random(7)
    for n in range(1, 12):
        xs = [rng.random() for _ in range(n)]
        assert median(xs) == pytest.approx(statistics.median(xs))


# ----------------------------------------------------------------- digest
def _pages(partition_ids):
    return pd.DataFrame({
        "url": ["https://a.test/1", "https://a.test/2", "https://b.test/3"],
        "status_code": [200, 404, 0],
        "caption": ["x", None, None],
        "bytes": [b"\x89PNG", None, None],
        "phash": pd.array([-5, None, None], dtype="Int64"),
        "partition_id": partition_ids,
    })


SEMANTIC = ["url", "status_code", "caption", "bytes", "phash"]


def test_digest_ignores_row_order_and_partition_id():
    a = _pages([0, 1, 2])
    b = _pages([7, 7, -1]).iloc[[2, 0, 1]].reset_index(drop=True)
    assert digest_frame(a, SEMANTIC) == digest_frame(b, SEMANTIC)


def test_digest_sees_every_semantic_cell():
    base = digest_frame(_pages([0, 1, 2]), SEMANTIC)
    for col, value in (("status_code", 500), ("caption", "y"), ("bytes", b"\x89PNH"),
                       ("phash", -6)):
        changed = _pages([0, 1, 2])
        changed.loc[0, col] = value
        assert digest_frame(changed, SEMANTIC) != base, col


def test_digest_normalizes_nulls_and_numpy_scalars():
    import numpy as np

    assert digest_rows([(None, 1)]) == digest_rows([(float("nan"), np.int64(1))])
    assert digest_rows([(pd.NA, 2.0)]) == digest_rows([(None, np.float64(2.0))])


# --------------------------------------------------------------- eventlog
def _job_start(jid, t_ms, label, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": {"spark.job.description": label}}


def _job_end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t_ms}


def _task(stage, run_ms, cpu_ns, gc_ms=0, sw=0, lr=0, rr=0, spill=0, rec=0, srec=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
        "Disk Bytes Spilled": spill,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        "Shuffle Read Metrics": {"Local Bytes Read": lr, "Remote Bytes Read": rr,
                                 "Total Records Read": srec},
        "Input Metrics": {"Records Read": rec}}}


MB = 1024 * 1024
CANNED = [
    # window 0 = [100 s, 110 s]; window 1 = [120 s, 130 s]
    _job_start(0, 90_000, "dws r1: schedule", [0]),             # warm-up: outside
    _task(0, 5000, 9e9),
    _job_end(0, 95_000),
    _job_start(1, 100_500, "dws r2: schedule", [1, 2]),
    _task(1, 1000, 5e8, sw=2 * MB, rec=100),
    _task(2, 500, 2.5e8, lr=MB, rr=MB, srec=40),
    _job_end(1, 102_000),
    _job_start(2, 103_000, "dws r2: fetch+decode+pages_write", [3]),
    _job_start(3, 103_500, "dws r2: progress+done", [4]),
    _task(3, 4000, 3e9, gc_ms=200, spill=3 * MB),
    _task(4, 700, 1e8),
    _job_end(3, 105_000),
    _job_end(2, 108_000),
    _job_start(4, 108_500, "crawlbench: check", [5]),           # not a phase
    _task(5, 100, 1e7),
    _job_end(4, 109_000),
    _job_start(5, 121_000, "dws r3: fetch+decode+pages_write", [6]),
    _task(6, 6000, 4e9),
    _job_end(5, 129_000),
]


def test_summarize_attributes_tasks_to_phases_inside_windows():
    lines = [json.dumps(e) for e in CANNED] + ['{"Event":"SparkListenerStageCompleted"}']
    s = eventlog.summarize(eventlog.iter_events(lines), [(100.0, 110.0), (120.0, 130.0)])
    sched = s.phases["schedule"]
    assert sched["executor_run_s"] == pytest.approx(1.5)
    assert sched["cpu_s"] == pytest.approx(0.75)
    assert sched["shuffle_write_mb"] == pytest.approx(2.0)
    assert sched["shuffle_read_mb"] == pytest.approx(2.0)
    assert sched["records_in"] == 140
    pages = s.phases["pages"]
    assert pages["executor_run_s"] == pytest.approx(10.0)
    assert pages["gc_s"] == pytest.approx(0.2)
    assert pages["spill_mb"] == pytest.approx(3.0)
    assert s.phases["progress"]["executor_run_s"] == pytest.approx(0.7)
    w0, w1 = s.windows
    assert (w0.jobs, w0.stages, w0.tasks) == (4, 5, 5)
    # jobs cover [100.5, 102] + [103, 108] + [108.5, 109] of [100, 110]
    assert w0.driver_gap_s == pytest.approx(10.0 - 7.0)
    assert (w1.jobs, w1.stages, w1.tasks) == (1, 1, 1)
    assert w1.driver_gap_s == pytest.approx(2.0)


def test_layer_metrics_average_per_round():
    s = eventlog.summarize(iter(CANNED), [(100.0, 110.0), (120.0, 130.0)])
    m = eventlog.layer_metrics(s)
    assert m["spark.pages.executor_run_s"] == pytest.approx(5.0)
    assert m["spark.expand.executor_run_s"] == 0.0
    assert m["engine.jobs_per_round"] == pytest.approx(2.5)
    assert m["engine.driver_gap_s"] == pytest.approx(2.5)


def test_phase_walls_converts_offsets_and_deltas():
    stage_secs = {"schedule": 1.0, "pages_write": 9.0, "expand_frontier": 7.5,
                  "bloom_update": 8.0, "progress_done": 6.0, "round_branches": 8.5,
                  "checkpoint": 0.2}
    assert eventlog.phase_walls(stage_secs) == pytest.approx({
        "schedule_s": 1.0, "pages_write_s": 8.0, "expand_frontier_s": 6.5,
        "seen_update_s": 0.5, "progress_done_s": 5.0, "branches_s": 8.5,
        "checkpoint_s": 0.2})


# --------------------------------------------------------------- contract
def test_benchmark_json_names_match_the_reported_metrics():
    from crawlbench import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
