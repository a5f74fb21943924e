"""bench.py's output contract: the last stdout line is the suite
total, with its per-query map, and the gate report comes before it.
Also the snapshot fold that feeds the committed per-query medians."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_suite_total_last(sf_dir):
    env = dict(os.environ, BENCH_ONLY="scan_full", SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]
    last = lines[-1]
    assert last["metric"] == "suite_median_total_s", proc.stdout[-2000:]
    assert last["queries"] and set(last["queries"]) == {"scan_full"}
    assert [d["metric"] for d in lines[:-1]] == ["per_query_median_s", "gate_over_2x"]


def test_fold_bench_snapshots_marks_minima_and_skips_booleans(tmp_path):
    fold = os.path.join(REPO, "scripts", "fold_bench_snapshots.py")
    usage = subprocess.run([sys.executable, fold, str(tmp_path / "out.json")],
                           capture_output=True, text=True)
    assert usage.returncode != 0 and "usage" in usage.stderr

    a, b, out = tmp_path / "a.json", tmp_path / "b.json", tmp_path / "out.json"
    a.write_text(json.dumps({"queries": {"q1": 2.0, "q2": True, "q3": 0.5}}))
    b.write_text(json.dumps({"q1": 1.5, "q3": 0.7}))
    subprocess.run([sys.executable, fold, str(out), str(a), str(b)], check=True,
                   capture_output=True)
    doc = json.loads(out.read_text())
    assert doc["folded"] is True
    assert doc["queries"] == {"q1": 1.5, "q3": 0.5}
