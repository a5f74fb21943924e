"""Benchmark entry point, run from the repository root:

    python3 perfbench/run.py --workload terasort_files --seed 1 --seconds 10 --trace 0

Starts ``perfbench.worker`` as the leader of a new session in a prepared
environment, waits for it under a time limit, then stops every process
left in that session (the JVM and its Python workers) and waits until
each has ended. The last line of standard output is the run's result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the run's load context and details. Exits non-zero, printing no result,
when the package is missing or the run fails.

Everything the run writes stays under ``perfbench/.work``: generated
inputs, Spark's local and temporary directories, the event log of a
traced run and the traced run's spans.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("terasort_files", "terasort_skewed", "tpch_shapes", "llm_pipeline")
TIME_LIMIT_S = 150
MAX_CPUS = 4
DRIVER_MEMORY = "2g"
_PR_SET_CHILD_SUBREAPER = 36


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: smallest inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def _proc_stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, session id) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[3])
    except (OSError, ValueError, IndexError):
        return None


def _leftovers(sid: int) -> list[int]:
    """Processes still in the worker's session, plus any orphan of it that
    was re-parented to this process (we are a child subreaper)."""
    me = os.getpid()
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit() and int(pid) != me:
            stat = _proc_stat(pid)
            if stat and (stat[1] == sid or stat[0] == me):
                out.append(int(pid))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_session(sid: int, grace_s: float = 5.0, limit_s: float = 20.0) -> None:
    """SIGTERM, then SIGKILL after ``grace_s``, every leftover process;
    return once none remains, or report the stragglers after ``limit_s``."""
    start = time.monotonic()
    sig = signal.SIGTERM
    while True:
        _reap()
        pids = _leftovers(sid)
        if not pids:
            return
        waited = time.monotonic() - start
        if waited > limit_s:
            print(f"perfbench: processes {pids} did not stop", file=sys.stderr)
            return
        if waited > grace_s:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def event_log_dir(work: str) -> str:
    """Where a traced run's JVM writes Spark's event log."""
    return os.path.join(work, "eventlog")


def _environment(root: str, work: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = min(os.cpu_count() or 1, MAX_CPUS)
    env["PERFBENCH_INHERITED_CPUS"] = os.environ.get("SPARK_GRAFT_CPUS", "")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = tmp
    # for every JVM spark-submit starts, its launcher included; without
    # -XX:-UsePerfData each would write /tmp/hsperfdata_<user>
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    submit = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        logs = event_log_dir(work)
        os.makedirs(logs)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{logs}",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return env


def _result(line: str) -> dict | None:
    try:
        out = json.loads(line)
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return out if isinstance(out, dict) and set(out) == keys else None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "terasort_spark", "__init__.py")):
        print(f"perfbench: no terasort_spark package under {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, "perfbench", ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _environment(root, work, bool(args.trace))
    cmd = [sys.executable, "-m", "perfbench.worker",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--work", work]
    # a SIGTERM from the caller still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, orphans are still found by their session id
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
    finally:
        stop_session(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or _result(lines[-1]) is None:
        sys.stderr.write(out)
        print(f"perfbench: worker exited with status {proc.returncode} "
              "and no result", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
