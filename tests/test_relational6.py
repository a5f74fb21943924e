"""Seventh-wave operator tests (relational6): the properties the
sf0.001 oracle twin can't see — Bloom pruning effectiveness and
no-false-negatives, the binned range join's nested-loop-free plan,
and the structural invariants of the transition matrix and profiler.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.joins import bloom_prefilter
from terasort_spark.plans.checks import assert_no_cartesian
from terasort_spark.registry import queries

_Q = queries()


def _bloom_fixture(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    sel = o.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return li, sel


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """Every probe row whose key truly joins must survive the Bloom."""
    li, sel = _bloom_fixture(spark, sf_dir)
    pre_keys = {
        r[0]
        for r in bloom_prefilter(li, "l_orderkey", sel, "o_orderkey")
        .select("l_orderkey")
        .distinct()
        .collect()
    }
    true_keys = {
        r[0]
        for r in li.join(
            sel, li.l_orderkey == sel.o_orderkey, "left_semi"
        )
        .select("l_orderkey")
        .distinct()
        .collect()
    }
    assert true_keys, "fixture must select a non-empty build side"
    assert true_keys <= pre_keys


def test_bloom_prefilter_prunes_probe_side(spark, sf_dir):
    """The point of the runtime filter: most non-matching probe rows
    are dropped BEFORE any shuffle. With a selective build side the
    survivor fraction must be far below 1 (false positives only add
    a few percent on top of the true-match fraction)."""
    li, sel = _bloom_fixture(spark, sf_dir)
    n_all = li.count()
    n_pre = bloom_prefilter(li, "l_orderkey", sel, "o_orderkey").count()
    n_true = li.join(sel, li.l_orderkey == sel.o_orderkey, "left_semi").count()
    assert n_true <= n_pre <= n_all
    # survivors = true matches + false positives; require the filter to
    # remove at least half of the non-matching rows (the sf0.001/0.01
    # geometry gives fpp << 0.5 — this bound only fails if the filter
    # stops filtering)
    assert (n_pre - n_true) <= 0.5 * (n_all - n_true), (n_all, n_pre, n_true)


def test_join_range_binned_is_not_nested_loop(spark, sf_dir):
    """Binning must turn the no-equi-key interval predicate into an
    equi-join: no CartesianProduct / BroadcastNestedLoopJoin anywhere
    in the executed plan."""
    assert_no_cartesian(_Q["join_range_binned"](spark, sf_dir))


def test_join_range_binned_equals_naive_between_join(spark, sf_dir):
    """The binned formulation must equal the direct BETWEEN join (which
    Spark can only execute as a nested loop — fine at test scale)."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wins = (
        daily.withColumn(
            "wid", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("day")))
        )
        .where(F.col("wid") <= 15)
        .select("wid", F.col("day").alias("w_start"), F.date_add("day", 13).alias("w_end"))
    )
    naive = (
        li.join(
            wins,
            F.to_date("l_shipdate").between(F.col("w_start"), F.col("w_end")),
        )
        .groupBy("wid")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    want = {(r["wid"], r["n_lines"]) for r in naive.collect()}
    got = {
        (r["wid"], r["n_lines"])
        for r in _Q["join_range_binned"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_events_transitions_conservation(spark, sf_dir):
    """Each user with >=1 event contributes exactly (n_events - 1)
    transitions, so sum(n) == total_events - distinct_users."""
    ev = table(spark, sf_dir, "events")
    total = ev.count()
    users = ev.select("user_id").distinct().count()
    got = (
        _Q["events_transitions"](spark, sf_dir)
        .agg(F.sum("n").alias("s"))
        .collect()[0]["s"]
    )
    assert got == total - users


def test_profile_table_invariants(spark, sf_dir):
    rows = {r["col_name"]: r for r in _Q["profile_table"](spark, sf_dir).collect()}
    assert len(rows) == 6
    o = table(spark, sf_dir, "orders")
    n = o.count()
    # primary key: all-distinct, no nulls
    assert rows["o_orderkey"]["n_distinct"] == n
    assert rows["o_orderkey"]["n_nulls"] == 0
    # rendered doubles carry exactly 2dp
    assert "." in rows["o_totalprice"]["min_s"]
    assert len(rows["o_totalprice"]["max_s"].split(".")[1]) == 2


def test_profile_table_distinct_shuffle_is_deduped_not_expanded(spark, sf_dir):
    """The exact-distinct stage must shuffle each column's DISTINCT set
    (two-level groupBy with map-side combine), never Expand the row
    stream x(cols+1) into one fat multi-distinct exchange."""
    plan = (
        _Q["profile_table"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    # two-level distinct: partial aggregate on (col_name, v) below the
    # exchange, count per col_name above it
    assert plan.count("HashAggregate") >= 4
