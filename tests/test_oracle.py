"""Local twin of the driver's t2 gate: every registered query with an
oracle is compared against DuckDB at sf0.001 (fast; the driver re-runs
the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from terasort_spark.compare import compare_query, duck_connection
from terasort_spark.registry import oracle_sql, queries

_QUERIES = queries()
_ORACLES = oracle_sql()
_NAMES = sorted(n for n in _QUERIES if n in _ORACLES)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _NAMES)
def test_oracle_match(name, spark, sf_dir, duck):
    res = compare_query(name, _QUERIES[name], _ORACLES[name], spark, sf_dir, duck)
    assert res.ok, str(res)


def test_no_nested_output_types(spark, sf_dir):
    """Registry-wide lint: no declared query may emit array/map/struct
    columns. The driver canonicalizes results through pandas
    (sort_values + factorize), where list-like cells raise
    ``TypeError: unhashable type`` — the r1 agg_collect failure class.
    Arrays must be array_join'd to scalar strings before leaving a query.
    """
    from terasort_spark.compare import nested_output_columns

    bad = {}
    for name, fn in sorted(_QUERIES.items()):
        cols = nested_output_columns(fn(spark, sf_dir).schema)
        if cols:
            bad[name] = cols
    assert not bad, f"declared queries with nested output columns: {bad}"


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle still execute and return a stable schema."""
    for name in sorted(set(_QUERIES) - set(_ORACLES)):
        df = _QUERIES[name](spark, sf_dir)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_engine_facade(spark, sf_dir):
    from terasort_spark import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert "agg_group" in eng.names()
    assert eng.query("agg_group").count() > 0
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] == 5
    assert eng.oracle("agg_group") is not None
    report = eng.teravalidate(eng.terasort(n_rows=10_000, n_partitions=4))
    assert report["sorted_between"] and report["sorted_within"]


def test_registry_inventory_is_pinned():
    """Moving queries between modules must not change what is registered:
    the name-sorted ``{name: oracle}`` map is pinned by its sha256. An
    intended oracle edit updates the digest in the same change."""
    import hashlib
    import json

    digest = hashlib.sha256(
        json.dumps(sorted(_ORACLES.items())).encode()
    ).hexdigest()
    assert (len(_QUERIES), len(_ORACLES)) == (341, 339)
    assert digest == (
        "b5a3a6cb2ce33eb97c02d866570be9a7a2debb3be3834dda304ef216ea18a7cb"
    )


def test_grading_rotation_fronts_ungraded_queries(monkeypatch):
    """The driver grades queries() in dict order with a ~50-entry budget.
    One rule orders it: queries without a current green CORRECTNESS row
    first, in registration order, then the rest by (latest green round,
    name), so the oldest evidence is regraded next."""
    from terasort_spark import registry

    rounds = registry._graded_rounds()
    order = list(registry.queries())
    keys = [(rounds[n], n) for n in order if n in rounds]
    assert keys == sorted(keys)
    assert order[: len(order) - len(keys)] == [n for n in order if n not in rounds]

    monkeypatch.setattr(registry, "_graded_cache", {"a": 3, "b": 1, "c": 3})
    got = registry._graded_last(dict.fromkeys(["c", "new2", "a", "b", "new1"]))
    assert list(got) == ["new2", "new1", "b", "a", "c"]


def test_engine_explain_returns_plan_text(spark, sf_dir):
    from terasort_spark import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    plan = eng.explain("agg_group")
    assert "HashAggregate" in plan and "Scan parquet" in plan
    assert "Scan parquet" in eng.explain("scan_project", mode="simple")
