"""Round-10 fifth wave: parameterized SQL and ROUGE overlap. Oracle
parity is driver-graded; these tests pin what the hash compare cannot
see — parameter binding treating hostile input as a literal, and the
clipped-count ROUGE definition replayed independently."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators.ml import ROUGE_PAIRS
from terasort_spark.registry import queries

_Q = queries()


def test_sql_params_binds_literals_not_strings(spark, sf_dir):
    """A hostile bound value must be compared AS A LITERAL — the
    classic injection payload returns zero rows instead of everything."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    n = spark.sql(
        "SELECT count(*) AS n FROM orders_v WHERE o_orderstatus = :st",
        args={"st": "O' OR '1'='1"},
    ).collect()[0]["n"]
    assert n == 0
    total = spark.sql(
        "SELECT count(*) AS n FROM orders_v WHERE o_orderstatus = :st",
        args={"st": "O"},
    ).collect()[0]["n"]
    assert total > 0


def test_sql_params_branches_partition(spark, sf_dir):
    """The two bound branches partition 'O' orders on the threshold:
    per priority, named.n + exec_immediate.n == count of 'O' orders."""
    rows = _Q["sql_params"](spark, sf_dir).collect()
    per = {}
    for r in rows:
        per[r["o_orderpriority"]] = per.get(r["o_orderpriority"], 0) + r["n"]
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    assert per == {r["o_orderpriority"]: r["count"] for r in o}


def test_rouge_clipped_counts_replay(spark, sf_dir):
    """Independent Python replay of clipped ROUGE-1 P/R on every
    emitted pair."""
    import math

    docs = {
        r["doc_id"]: [t for t in r["text"].lower().split(" ") if t]
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < ROUGE_PAIRS))
        .select("doc_id", "text")
        .collect()
    }
    rows = _Q["ml_rouge"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        cand, ref = docs[r["cand_id"]], docs[r["cand_id"] - 1]
        cc, rc = Counter(cand), Counter(ref)
        m = sum(min(cc[t], rc[t]) for t in cc)
        p = math.floor(m / len(cand) * 10000 + 0.5) / 10000
        rr = math.floor(m / len(ref) * 10000 + 0.5) / 10000
        assert (r["rouge1_p"], r["rouge1_r"]) == (p, rr)
        assert 0.0 <= r["rouge2_f"] <= 1.0
        # identical texts must score a perfect F1
        if cand == ref:
            assert r["rouge1_f"] == 1.0


def test_fn_try_null_not_error(spark, sf_dir):
    """Every malformed cell yields NULL, never an exception: the
    non-numeric priority string, the past-the-end array index, and the
    zero divisor; the parseable leading digit always lands 1..5."""
    rows = _Q["fn_try"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["pri_int"] is None
        assert 1 <= r["pri_num"] <= 5
        assert r["st_dbl"] is None
        assert r["pri_missing"] is None
        assert (r["price_div"] is None) == (r["o_orderkey"] % 5 == 0)
        assert r["pri_word"] in {
            "URGENT", "HIGH", "MEDIUM", "NOT SPECIFIED", "LOW",
        }
