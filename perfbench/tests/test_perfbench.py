"""Tests of the benchmark itself.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
The smallest-size runs start Spark and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, eventlog, worker, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
ALL_WORKLOADS = ("terasort_files", "terasort_skewed", "tpch_shapes", "llm_pipeline")


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# ------------------------------------------------------------ the spec --


def test_spec_matches_the_metrics_the_worker_prints():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert e2e == worker.END_TO_END_UNITS
    assert layers == worker.PER_LAYER_UNITS
    assert {w["name"] for w in SPEC["workloads"]} <= set(ALL_WORKLOADS)
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert worker.tail([float(i) for i in range(21)])["percentile"] == 50.0
    assert worker.tail([float(i) for i in range(42)])["percentile"] == 75.0
    t = worker.tail([float(i) for i in range(200)])
    assert (t["percentile"], t["beyond"]) == (95.0, 10)
    t = worker.tail([1.0, 3.0, 2.0])
    assert (t["percentile"], t["value"], t["beyond"]) == (100.0, 3.0, 0)


def test_best_ops_takes_each_operations_lowest_time_over_the_passes():
    passes = [workloads.PassResult(3.2, {"a": 1.0, "b": 2.0}, 0.0),
              workloads.PassResult(3.9, {"a": 2.0, "b": 1.5}, 0.0)]
    assert worker.best_ops(passes) == {"a": 1.0, "b": 1.5}


# ------------------------------------------------------------ checks ----


def _write_part(path: str, keys: list[bytes]) -> None:
    with open(path, "wb") as f:
        for k in keys:
            f.write(k + k[:1] * 90)


def _sorted_keys(lo: int, hi: int) -> list[bytes]:
    return [f"{i:010d}".encode() for i in range(lo, hi)]


def test_swapped_partitions_fail_the_index_order_check(tmp_path):
    low, high = _sorted_keys(100, 110), _sorted_keys(900, 910)
    _write_part(tmp_path / "part-00000.dat", high)  # swapped: high keys first
    _write_part(tmp_path / "part-00001.dat", low)
    parts = checks.summarize_dir(str(tmp_path))
    total = sum(p.checksum for p in parts)
    errors = checks.check_sorted_output(parts, 20, total)
    assert errors == ["partition 0 ends after partition 1 starts"]
    # ordering the same summaries by first key, as a key-sorted validator
    # does, would hide the swap
    by_key = sorted(parts, key=lambda p: p.first)
    assert checks.check_sorted_output(by_key, 20, total) == []


def test_checksum_matches_the_package_definition():
    # sources.teragen.checksum: conv(substring(md5(key || 0x00 || value), 1, 12), 16, 10)
    import hashlib

    key, value = b"k" * 10, b"v" * 90
    want = int(hashlib.md5(key + b"\x00" + value).hexdigest()[:12], 16)
    assert checks.record_hash(key, value) == want


def test_swapped_output_counts_as_a_failed_operation(tmp_path, monkeypatch):
    """The files workload's outside check fails a chain whose output has two
    partitions swapped, even when teravalidate reports success."""
    wl = workloads.TerasortFiles("tiny")
    run = workloads.Run(spark=None, seed=1, work=str(tmp_path))

    def fake_cli(run_, argv):
        cmd = argv[0]
        if cmd == "teragen":
            out = argv[argv.index("--out") + 1]
            os.makedirs(out)
            _write_part(os.path.join(out, "part-00000.dat"), _sorted_keys(500, 520))
            _write_part(os.path.join(out, "part-00001.dat"), _sorted_keys(100, 120))
            parts = checks.summarize_dir(out)
            return 0, {"checksum": sum(p.checksum for p in parts)}
        if cmd == "terasort":
            out = argv[argv.index("--out") + 1]
            os.makedirs(out)
            _write_part(os.path.join(out, "part-00000.dat"), _sorted_keys(500, 520))
            _write_part(os.path.join(out, "part-00001.dat"), _sorted_keys(100, 120))
            return 0, {}
        return 0, {"sorted_within": True, "sorted_between": True}

    monkeypatch.setattr(wl, "_cli", fake_cli)
    result = wl._chain(run, 40, None, "pass0", [])
    assert run.attempted == 3
    assert run.failed == 1
    assert "partition 0 ends after partition 1 starts" in run.errors[0]
    assert result.skew == 1.0


# ---------------------------------------------------------- event log --


def test_event_log_summary_counts_only_the_window(tmp_path):
    plan = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": eventlog.PY_SENT, "accumulatorId": 7, "metricType": "size"},
        {"name": eventlog.PY_RUN, "accumulatorId": 8, "metricType": "timing"},
    ]}
    events = [
        {"Event": eventlog._SQL_PLAN_EVENTS[0], "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 500,
         "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [{"ID": 7, "Update": "64"}, {"ID": 8, "Update": "1500"}]},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000, "JVM GC Time": 250,
                          "Disk Bytes Spilled": 3,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 7, "Update": 999}]}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
        {"Event": eventlog._PROGRESS, "progress": {
            "runId": "r", "timestamp": "1970-01-01T00:00:02.000Z",
            "durationMs": {"triggerExecution": 400, "addBatch": 300, "walCommit": 20,
                           "queryPlanning": 50},
            "stateOperators": [{"numRowsTotal": 5}]}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    s = eventlog.summarize([str(path)], 900, 5000)
    assert (s["exec.jobs"], s["exec.stages"], s["exec.tasks"]) == (1, 1, 1)
    assert s["exec.run_s"] == 2.0
    assert s["exec.task_cpu_s"] == 2.0 and s["exec.gc_s"] == 0.25
    assert (s["exec.shuffle_write_bytes"], s["exec.shuffle_read_bytes"]) == (10, 3)
    assert s["exec.spill_bytes"] == 3
    assert (s["python.bytes_sent"], s["python.worker_s"]) == (64, 1.5)
    assert (s["streaming.batches"], s["streaming.state_rows"]) == (1, 5)
    assert s["streaming.add_batch_s"] == 0.3


# ---------------------------------------------------------- end to end --


def test_run_without_the_package_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(*SPEC["command"][2:], "--workload", SPEC["workloads"][0]["name"],
                "--seed", "1", "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_smallest_run_prints_every_metric_with_its_unit(workload, trace):
    proc = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["perfbench"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["errors"]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    assert {"nproc", "spark_graft_cpus", "loadavg_1m_start", "loadavg_1m_end",
            "seed"} <= set(detail["load"])
    if not trace:
        for name in worker.END_TO_END_UNITS:
            assert result["metrics"][name]["value"] > 0
    elif workload == "tpch_shapes":
        assert result["metrics"]["catalog.calls"]["value"] > 0
    elif workload == "llm_pipeline":
        assert result["metrics"]["streaming.batches"]["value"] > 0
        assert result["metrics"]["python.bytes_sent"]["value"] > 0
    elif workload == "terasort_skewed":
        assert result["metrics"]["tera.partition_skew"]["value"] > 2
