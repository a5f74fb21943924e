"""One benchmark run. ``run.py`` starts this module as the leader of a new
session, in the environment it prepares, and prints its last line.

Order of a run: make the inputs; set up the session once, launching the
JVM (``get_spark`` + ``configure``, timed as ``setup_s``); one untimed
warm-up that also checks outputs; a fixed number of timed passes; with
``--trace 1`` one more pass with spans on, after which the event log is
read. End-to-end metrics come from the untraced passes only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import threading
import time

from perfbench import eventlog, workloads
from perfbench.run import event_log_dir
from perfbench.spans import Tracer

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_geomean_s": "s",
    "op_tail_s": "s",
    "input_mb_s": "MB/s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.configure_s": "s",
    "catalog.calls": "count",
    "catalog.table_s": "s",
    "operators.build_s": "s",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "tera.gen_write_s": "s",
    "tera.sort_s": "s",
    "tera.validate_s": "s",
    "tera.checksum_s": "s",
    "tera.partition_skew": "ratio",
    "python.rows_received": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.worker_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "trace.overhead_frac": "ratio",
}


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (NumPy's default)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> dict:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    above it; with fewer than ``2 * MIN_BEYOND`` samples no percentile
    qualifies, and the maximum is reported with ``beyond`` = 0."""
    n = len(values)
    for p in TAIL_LADDER:
        beyond = int(n * (100.0 - p) / 100.0)
        if beyond >= MIN_BEYOND:
            return {"percentile": p, "value": percentile(values, p), "samples": n,
                    "beyond": beyond}
    return {"percentile": 100.0, "value": max(values), "samples": n, "beyond": 0}


def best_ops(passes: list) -> dict[str, float]:
    """Each operation's lowest latency over the timed passes. A burst of
    load from outside the run only ever adds time, and a repeated pass
    adds samples to every operation rather than more operations to the
    latency distribution."""
    names = dict.fromkeys(n for p in passes for n in p.ops)
    return {n: min(p.ops[n] for p in passes if n in p.ops) for n in names}


def record_peaks(sid: int, peaks: dict[tuple[int, int, str], int]) -> None:
    """Update ``peaks`` with the peak resident memory (``VmHWM``) of every
    java and python process in session ``sid``: this driver, the JVM it
    launched and the Python workers the JVM forks. Keys are (pid, start
    time, command), so a reused pid counts as a new process. Other commands
    are skipped: a child the JVM forks to run a helper (``chmod``,
    ``readlink``) shows the JVM's whole resident set until it execs."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[3]) != sid:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        key = (int(pid), int(fields[19]), comm)
                        peaks[key] = max(peaks.get(key, 0), int(line.split()[1]) * 1024)
                        break
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we read it


class PeakRss:
    """Samples the session's processes in a background thread. ``total``
    is the sum over processes of each one's peak resident memory: unlike a
    sampled sum it does not depend on where the samples fall."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.sid = os.getsid(0)
        self.peaks: dict[tuple[int, int, str], int] = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            record_peaks(self.sid, self.peaks)
            if self._stop.wait(self._interval):
                return

    @property
    def total(self) -> int:
        return sum(self.peaks.values())

    def by_command(self) -> dict[str, list[int]]:
        """Process count and summed peak MB per command name."""
        out: dict[str, list[int]] = {}
        for (_, _, comm), v in self.peaks.items():
            n, mb = out.get(comm, [0, 0])
            out[comm] = [n + 1, mb + v // 1_000_000]
        return out

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        record_peaks(self.sid, self.peaks)


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) clock ticks of every CPU since boot, from /proc/stat.
    Stolen ticks are time a virtual CPU waited for the host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def load_context(seed: int) -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_graft_cpus_inherited": os.environ.get("PERFBENCH_INHERITED_CPUS"),
        "loadavg_1m_start": load1,
        "seed": seed,
    }


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench.worker")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--work", required=True)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    context = load_context(args.seed)
    ticks0 = cpu_ticks()
    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    from terasort_spark import session

    wl = workloads.make(args.workload, args.size)
    reps = max(1, round(args.seconds / workloads.NOMINAL_PASS_S[args.workload]))
    run = workloads.Run(spark=None, seed=args.seed, work=args.work)
    wl.prepare(run)
    phase("prepare")

    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    session.configure(spark)
    t2 = time.perf_counter()
    run.spark = spark
    phase("setup")

    traced = tracer = None
    with PeakRss() as rss, wl.seeded(run):
        wl.warmup(run)
        phase("warmup")
        passes = [wl.run_pass(run, None, f"pass{i}") for i in range(reps)]
        phase("passes")
        if args.trace:
            tracer = Tracer()
            wl.tracer_patches(tracer)
            w0 = time.time()
            try:
                traced = wl.run_pass(run, tracer, "traced")
            finally:
                tracer.restore()
            w1 = time.time()
            phase("traced")
    app_id = spark.sparkContext.applicationId
    spark.stop()
    phase("stop")

    walls = [p.wall_s for p in passes]
    ops = list(best_ops(passes).values())
    op_tail = tail(ops) if ops else {"value": 0.0}
    if args.trace:
        layers = {
            "session.get_spark_s": t1 - t0,
            "session.configure_s": t2 - t1,
            "catalog.calls": tracer.count("catalog.table"),
            "catalog.table_s": tracer.total("catalog.table"),
            "operators.build_s": tracer.self_time("operators.build", "catalog.table"),
            "catalyst.plan_s": tracer.total("catalyst.plan"),
            "tera.gen_write_s": tracer.self_time("tera.gen", "tera.checksum"),
            "tera.sort_s": tracer.total("tera.sort"),
            "tera.validate_s": tracer.total("tera.validate"),
            "tera.checksum_s": tracer.total("tera.checksum"),
            "tera.partition_skew": traced.skew,
            "trace.overhead_frac": traced.wall_s / min(walls) - 1.0,
        }
        layers.update(eventlog.summarize(
            eventlog.log_files(event_log_dir(args.work), app_id), w0 * 1000.0, w1 * 1000.0))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        traces = os.path.join(os.path.dirname(args.work), "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    else:
        values = {
            "setup_s": t2 - t0,
            "wall_s": sum(ops) if ops else min(walls),
            "op_geomean_s": statistics.geometric_mean(ops) if ops else 0.0,
            "op_tail_s": op_tail["value"],
            "input_mb_s": max(p.input_mb_s for p in passes),
            "peak_rss_mb": rss.total / 1e6,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}

    with open("/proc/loadavg") as f:
        context["loadavg_1m_end"] = float(f.read().split()[0])
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    context["steal_frac"] = ticks[1] / ticks[0] if ticks[0] else 0.0
    detail = {
        "workload": args.workload, "size": args.size, "trace": args.trace,
        "passes": reps, "load": context, "op_tail": op_tail,
        "failed_frac": run.failed / max(run.attempted, 1),
        "pass_wall_s": walls, "phase_s": phases,
        "op_s": [p.ops for p in passes], "peak_rss_by_command": rss.by_command(),
        "errors": run.errors,
    }
    print(json.dumps({"perfbench": detail}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
