"""Tests of the benchmark itself (not of the package it measures).

  python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end at the tiny scale in a child
process, as the benchmark is run for real (about five minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from checks import (crawl_mismatches, expected_schedule,  # noqa: E402
                    schedule_mismatches)
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from tracing import (Span, job_stats, jobs_within, read_events,  # noqa: E402
                     self_time, union_length)


def _run(tmp_root, *args):
    return subprocess.run(
        [sys.executable, os.path.join(tmp_root, "perfbench", "run.py"),
         *args], cwd=tmp_root, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, timeout=600)


# ------------------------------------------------------------ contract
def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "sched", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# ------------------------------------------------------------ spans
def _span(name, start, end, parent=None):
    return Span(name, float(start), float(end), parent, "t")


def test_union_of_overlapping_intervals():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([]) == 0


def test_self_time_counts_concurrent_children_once():
    parent = _span("run_round:1", 0, 10)
    # three sink writes from a thread pool, overlapping: union is [1, 6]
    kids = [_span("stage_write:url_seen", 1, 4),
            _span("stage_write:fetched", 2, 6),
            _span("stage_write:edges", 3, 5),
            _span("commit", 8, 9)]
    assert self_time(parent, kids) == pytest.approx(10 - 5 - 1)


def test_self_time_clips_children_to_the_parent():
    parent = _span("run_round:2", 10, 20)
    kids = [_span("stage_write:frontier", 8, 12),
            _span("commit", 19, 25)]
    assert self_time(parent, kids) == pytest.approx(10 - 2 - 1)


# ------------------------------------------------------------ event log
def _events():
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_000_500, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "stage_write:url_seen"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageExecutorMetrics", "Stage ID": 1,
         "Executor ID": "driver",
         "Executor Metrics": {"JVMHeapMemory": 300, "TotalGCTime": 40}},
        {"Event": "SparkListenerStageExecutorMetrics", "Stage ID": 0,
         "Executor ID": "driver", "Executor Metrics": {"JVMHeapMemory": 200}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 10,
            "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2048},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4096}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1_009_000, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 250}},
    ]


def _write_lines(path, events, compression):
    with pa.output_stream(str(path), compression=compression) as f:
        for ev in events:
            f.write((json.dumps(ev) + "\n").encode())


def test_event_log_parser_reads_rolling_zstd_logs(tmp_path):
    """Spark 4's default: a rolling dir of zstd files, numbered from 1."""
    app = "local-1700000000000"
    roll = tmp_path / f"eventlog_v2_{app}"
    roll.mkdir()
    ev = _events()
    for n, part in ((1, ev[:5]), (2, ev[5:])):
        _write_lines(roll / f"events_{n}_{app}.zstd", part, "zstd")
    (roll / f"appstatus_{app}").write_text("")
    jobs = job_stats(read_events(str(tmp_path), app))
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.description == "stage_write:url_seen"
    assert (j0.stages, j0.task_s, j0.shuffle_read_b, j0.shuffle_write_b,
            j0.spill_b, j0.heap_peak_b, j0.gc_total_s
            ) == (1, 1.5, 2048, 4096, 15, 300, 0.04)
    # stage 1 is shared; it stays charged to job 0, job 1 only ran stage 2
    assert (j1.stages, j1.task_s, j1.heap_peak_b) == (1, 0.25, 0)
    window = [_span("run_round:1", 1000.0, 1001.0)]
    assert [j.job_id for j in jobs_within(jobs, window)] == [0]


# ------------------------------------------------------------ checks
def test_crawl_check_catches_a_corrupted_result():
    fetched = [{"url": f"u{i}", "round": 1 + i // 2, "depth": 0,
                "discovery_seq": i, "image_id": f"img-{i}"} for i in range(4)]
    rounds = [{"round": r, "scheduled": 2, "fetched_ok": 2, "discovered": 3,
               "new_urls": 1, "frontier_size": 5} for r in (1, 2)]
    oracle = SimpleNamespace(fetched=fetched, failures=[], rounds=rounds,
                             url_seen={"u0", "u1", "u2", "u3", "u9"})
    tables = {"fetched": [dict(r) for r in fetched], "failures": [],
              "metrics": [dict(r) for r in rounds],
              "url_seen": [{"url": u} for u in sorted(oracle.url_seen)]}
    assert not any(crawl_mismatches(tables, oracle, 2).values())

    swapped = dict(tables, fetched=[dict(r) for r in fetched])
    swapped["fetched"][2]["url"], swapped["fetched"][3]["url"] = "u3", "u2"
    bad = crawl_mismatches(swapped, oracle, 2)
    assert not bad[1] and bad[2]

    lost = dict(tables, url_seen=tables["url_seen"][:-1])
    assert crawl_mismatches(lost, oracle, 2)[2]


@pytest.fixture(scope="module")
def tiny_sched(tmp_path_factory):
    from fixtures import sched_fixtures
    work = str(tmp_path_factory.mktemp("work"))
    fx, _ = sched_fixtures(work, seed=3, n_urls=3000, n_hosts=20,
                           seen_frac=0.3, seen_mult=2, n_buckets=16,
                           workers=2)
    return fx


def test_sched_fixture_depends_on_the_seed(tmp_path):
    import pyarrow.parquet as pq
    from fixtures import sched_fixtures
    urls = []
    for seed in (1, 2):
        fx, _ = sched_fixtures(str(tmp_path), seed=seed, n_urls=500,
                               n_hosts=10, seen_frac=0.3, seen_mult=1,
                               n_buckets=16, workers=1)
        urls.append(pq.read_table(fx["frontier"]).column("url_hash")
                    .to_pylist())
    assert urls[0] != urls[1]


def test_sched_check_catches_a_corrupted_result(tiny_sched):
    want = expected_schedule(tiny_sched, 1, 60.0)
    assert want and schedule_mismatches(list(want), want) == []
    dropped = want[:-1]
    assert schedule_mismatches(dropped, want)
    shifted = [(u, s + (i == 5), t) for i, (u, s, t) in enumerate(want)]
    assert schedule_mismatches(shifted, want)
    late = [(u, s, t + 0.5 * (i == 7)) for i, (u, s, t) in enumerate(want)]
    assert schedule_mismatches(late, want)


# ------------------------------------------------------------ smoke
@pytest.mark.parametrize("workload,trace", [
    ("crawl", 0), ("crawl", 1), ("sched", 0), ("sched", 1), ("steady", 0)])
def test_tiny_workload_runs_and_checks(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    if trace:
        assert vals["spark.jobs_per_round"] > 0
        assert vals["urls.resolve_s_per_mrow"] > 0
        assert vals["bloom.probe_s_per_mkey"] > 0
        if workload == "crawl":
            assert vals["statestore.stage_write_s.url_seen"] > 0
            assert vals["statestore.commit_s"] > 0
            assert vals["scheduler.round_self_s"] > 0
    else:
        assert all(v > 0 for v in vals.values()), vals
