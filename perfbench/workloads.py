"""The benchmark's workloads. Each drives the package through its public
calls and checks every operation's output, untimed.

A workload runs one untimed warm-up, then timed passes. A pass is a fixed
list of operations, each timed and counted as attempted; an operation that
raises, or whose output fails its check, counts as failed. With a
``Tracer`` the pass also records spans around the calls into each layer.
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from perfbench import checks, datagen
from perfbench.spans import Tracer

RECORD_BYTES = 100

TPCH_QUERIES = tuple(f"tpch_q{i}_shape" for i in range(2, 23))
# Left out to fit the run budget (see README "Budget"): stream_source_pyds
# (~15 s a run; stream_transformwithstate already drives the streaming
# layer) and dedup_minhash (~8 s a run, JVM-only work, and the least steady
# operation: 2.5-3.9 s across runs).
LLM_QUERIES = (
    "udf_python", "udf_pandas", "udf_grouped_map", "udaf_pandas",
    "text_bigram_lm", "text_boilerplate", "sim_levenshtein",
    "stream_transformwithstate",
)


@dataclass
class Run:
    """Per-run state shared by the warm-up and the passes."""

    spark: object
    seed: int
    work: str
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


@dataclass
class PassResult:
    wall_s: float
    ops: dict[str, float]  # operation name -> seconds, in run order
    input_mb_s: float
    skew: float = 0.0


def _span(tracer: Tracer | None, name: str | None):
    return tracer.span(name) if tracer and name else nullcontext()


def _timed_ops(run: Run, tracer: Tracer | None, tag: str, ops) -> dict[str, float] | None:
    """Run dependent operations in order, timing each; on the first that
    raises, count it failed and return None."""
    times = {}
    for name, span, fn in ops:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with _span(tracer, span):
                fn()
        except Exception as exc:  # reported as a failed op
            run.fail(f"{tag} {name}: {type(exc).__name__}: {exc}")
            return None
        times[name] = time.perf_counter() - t0
    return times


def _check(run: Run, tag: str, check) -> float:
    """Run an output check; a check that fails or raises counts one failed
    operation. Returns the partition skew the check measured (0 if none)."""
    try:
        errors, skew = check()
    except Exception as exc:  # an unreadable output is a failure
        errors, skew = [f"check raised {type(exc).__name__}: {exc}"], 0.0
    if errors:
        run.fail(f"{tag}: " + "; ".join(errors[:3]))
    return skew


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _plan(df) -> None:
    """Force Catalyst analysis, optimization and physical planning."""
    df._jdf.queryExecution().executedPlan()


class Workload:
    """Defaults for the steps a workload may leave out."""

    def prepare(self, run: Run) -> None:
        """Make inputs before set-up; untimed."""

    def seeded(self, run: Run):
        """Context in which the run's passes execute."""
        return nullcontext()


# ------------------------------------------------------------ terasort --


class TerasortFiles(Workload):
    """The CLI chain on disk: ``teragen --checksum`` -> ``terasort`` ->
    ``teravalidate --expect-rows --expect-checksum``, at 8 partitions (the
    CLI default of 32 does not fit the run budget; see README "Budget").
    The seed is the teragen seed."""

    SIZES = {"full": 200_000, "tiny": 2_000}
    PARTITIONS = 8
    WARMUP_PARTITIONS = 4

    def __init__(self, size: str):
        self.rows = self.SIZES[size]

    def tracer_patches(self, tracer: Tracer) -> None:
        for attr, span in (("write_tera_files", "tera.write"),
                           ("checksum", "tera.checksum"),
                           ("teravalidate", "tera.validate")):
            tracer.patch("terasort_spark.sources.teragen", attr, span)

    @contextlib.contextmanager
    def seeded(self, run: Run):
        """The CLI has no seed flag; bind the run's seed to the generator
        it calls for the duration of the run."""
        from terasort_spark.sources import teragen

        original = teragen.teragen
        teragen.teragen = functools.partial(original, seed=run.seed)
        try:
            yield
        finally:
            teragen.teragen = original

    def warmup(self, run: Run) -> None:
        self._chain(run, max(self.rows // 100, 1_000), None, "warmup",
                    ["--partitions", str(self.WARMUP_PARTITIONS)])

    def run_pass(self, run: Run, tracer: Tracer | None, tag: str) -> PassResult:
        return self._chain(run, self.rows, tracer, tag,
                           ["--partitions", str(self.PARTITIONS)])

    def _cli(self, run: Run, argv: list[str]) -> tuple[int, dict]:
        from terasort_spark.__main__ import main

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(argv, spark=run.spark)
        lines = buf.getvalue().strip().splitlines()
        return rc, json.loads(lines[-1]) if lines else {}

    def _chain(self, run: Run, rows: int, tracer: Tracer | None, tag: str,
               partitions: list[str]) -> PassResult:
        base = os.path.join(run.work, "tera", tag)
        src, dst = os.path.join(base, "in"), os.path.join(base, "out")
        shutil.rmtree(base, ignore_errors=True)
        out: dict[str, object] = {}

        def teragen():
            out["gen"] = self._cli(run, ["teragen", "--rows", str(rows), "--out", src,
                                         "--checksum", *partitions])[1]

        def terasort():
            self._cli(run, ["terasort", "--input", src, "--out", dst, *partitions])

        def teravalidate():
            out["rc"] = self._cli(run, [
                "teravalidate", "--input", dst, "--expect-rows", str(rows),
                "--expect-checksum", str(out["gen"].get("checksum")),
            ])[0]

        start = time.perf_counter()
        times = _timed_ops(run, tracer, tag, [
            ("teragen", "tera.gen", teragen),
            ("terasort", "tera.sort", terasort),
            ("teravalidate", None, teravalidate),
        ])
        wall = time.perf_counter() - start
        if times is None:
            return PassResult(wall, {}, 0.0)

        def check() -> tuple[list[str], float]:
            # untimed: read the files from outside, in part-file index order
            errors = [] if out["rc"] == 0 else [f"teravalidate exit status {out['rc']}"]
            gen_checksum = out["gen"].get("checksum")
            expect = sum(p.checksum for p in checks.summarize_dir(src))
            if gen_checksum != expect:
                errors.append(f"teragen checksum {gen_checksum} != recomputed {expect}")
            parts = checks.summarize_dir(dst)
            errors += checks.check_sorted_output(parts, rows, expect)
            return errors, checks.partition_skew(parts)

        skew = _check(run, tag, check)
        shutil.rmtree(base, ignore_errors=True)
        return PassResult(wall, times, rows * RECORD_BYTES / 1e6 / times["terasort"], skew)


class TerasortSkewed(Workload):
    """``teragen_skewed`` (one key holds ~25% of rows) -> ``terasort`` ->
    noop sink, then ``teravalidate`` and an input and output ``checksum``,
    all in memory at 32 partitions."""

    SIZES = {"full": 400_000, "tiny": 4_000}
    PARTITIONS = 32

    def __init__(self, size: str):
        self.rows = self.SIZES[size]

    def tracer_patches(self, tracer: Tracer) -> None:
        for attr, span in (("checksum", "tera.checksum"),
                           ("teravalidate", "tera.validate")):
            tracer.patch("terasort_spark.sources.teragen", attr, span)

    def warmup(self, run: Run) -> None:
        self._pass(run, max(self.rows // 5, 1_000), None, "warmup")

    def run_pass(self, run: Run, tracer: Tracer | None, tag: str) -> PassResult:
        return self._pass(run, self.rows, tracer, tag)

    def _pass(self, run: Run, rows: int, tracer: Tracer | None, tag: str) -> PassResult:
        from terasort_spark.sources import teragen as tg

        spark, n = run.spark, self.PARTITIONS
        results: dict[str, object] = {}

        def sort():
            with _span(tracer, "operators.build"):
                df = tg.teragen_skewed(spark, rows, n, seed=run.seed)
                out = tg.terasort(df, n)
            if tracer:
                with _span(tracer, "catalyst.plan"):
                    _plan(out)
            _noop_write(out)
            results["in"], results["out"] = df, out

        start = time.perf_counter()
        times = _timed_ops(run, tracer, tag, [
            ("sort", "tera.sort", sort),
            ("validate", None, lambda: results.update(report=tg.teravalidate(results["out"]))),
            ("checksum_in", None, lambda: results.update(cin=tg.checksum(results["in"]))),
            ("checksum_out", None, lambda: results.update(cout=tg.checksum(results["out"]))),
        ])
        wall = time.perf_counter() - start
        if times is None:
            return PassResult(wall, {}, 0.0)

        def check() -> tuple[list[str], float]:
            # untimed: recompute the output's partitions by task partition id
            report = results["report"]
            parts = checks.summarize_dataframe(results["out"])
            errors = checks.check_sorted_output(parts, rows, results["cin"])
            if results["cin"] != results["cout"]:
                errors.append(f"checksum in {results['cin']} != out {results['cout']}")
            if report["n_rows"] != rows or not (
                    report["sorted_within"] and report["sorted_between"]):
                errors.append(f"teravalidate report {report}")
            return errors, checks.partition_skew(parts)

        skew = _check(run, tag, check)
        return PassResult(wall, times, rows * RECORD_BYTES / 1e6 / times["sort"], skew)


# ------------------------------------------------------------- queries --


class Queries(Workload):
    """Registered queries, each timed as build plus noop write, in an order
    the seed permutes. The warm-up pass is the check: every query against
    its DuckDB oracle through ``compare.compare_query``."""

    def __init__(self, names: tuple[str, ...], scale: str):
        self.names = list(names)
        self.scale = scale

    def prepare(self, run: Run) -> None:
        from terasort_spark import registry

        root = os.path.join(os.path.dirname(run.work), "data")
        self.sf_dir = datagen.ensure_tables(root, self.scale)
        self.fns = registry.queries()
        self.oracles = registry.oracle_sql()
        random.Random(run.seed).shuffle(self.names)
        self.wrong: set[str] = set()

    def tracer_patches(self, tracer: Tracer) -> None:
        tracer.patch("terasort_spark.catalog", "table", "catalog.table")

    def warmup(self, run: Run) -> None:
        from terasort_spark.compare import compare_query, duck_connection

        con = duck_connection(self.sf_dir)
        try:
            for name in self.names:
                run.attempted += 1
                res = compare_query(name, self.fns[name], self.oracles[name],
                                    run.spark, self.sf_dir, con)
                if not res.ok:
                    self.wrong.add(name)
                    run.fail(f"check {name}: {'; '.join(res.errors[:2])}")
        finally:
            con.close()

    def run_pass(self, run: Run, tracer: Tracer | None, tag: str) -> PassResult:
        """``input_mb_s`` is the size of the files the pass's executed plans
        scan over the time of their noop writes: build time (catalog reads,
        DataFrame construction, a streaming query's micro-batches) is not
        in it."""
        times, files, write_s = {}, set(), 0.0
        start = time.perf_counter()
        for name in self.names:
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with _span(tracer, "op"):
                    with _span(tracer, "operators.build"):
                        df = self.fns[name](run.spark, self.sf_dir)
                    if tracer:
                        with _span(tracer, "catalyst.plan"):
                            _plan(df)
                    w0 = time.perf_counter()
                    with _span(tracer, "exec.write"):
                        _noop_write(df)
                    t1 = time.perf_counter()
                files.update(df.inputFiles())  # untimed
            except Exception as exc:  # reported as a failed op
                run.fail(f"{tag} {name}: {type(exc).__name__}: {exc}")
                continue
            times[name] = t1 - t0
            write_s += t1 - w0
            if name in self.wrong:
                run.fail(f"{tag} {name}: output failed its check")
        wall = time.perf_counter() - start
        read_mb = sum(os.path.getsize(unquote(urlparse(f).path)) for f in files) / 1e6
        return PassResult(wall, times, read_mb / write_s if write_s else 0.0)


# Nominal seconds of one pass on a 4-core box; passes per run are
# round(--seconds / nominal), at least one, so the rep count depends only
# on the arguments.
NOMINAL_PASS_S = {
    "terasort_files": 15.0,
    "terasort_skewed": 12.0,
    "tpch_shapes": 18.0,
    "llm_pipeline": 12.0,
}

TINY_QUERIES = {
    "tpch_shapes": ("tpch_q3_shape", "tpch_q6_shape"),
    "llm_pipeline": ("udf_pandas", "stream_transformwithstate"),
}


def make(name: str, size: str):
    if name == "terasort_files":
        return TerasortFiles(size)
    if name == "terasort_skewed":
        return TerasortSkewed(size)
    full = {"tpch_shapes": TPCH_QUERIES, "llm_pipeline": LLM_QUERIES}
    if name in full:
        if size == "full":
            return Queries(full[name], "sf0.01")
        return Queries(TINY_QUERIES[name], "sf0.001")
    raise ValueError(f"unknown workload {name!r}")
