"""Composite TPC-H-shaped queries: multi-operator pipelines proving the
primitives compose end-to-end (scan → filter → multi-join → agg →
window/top-k). These are the bench headliners a reference user would
actually run: the 22-query TPC-H family, adapted to the driver corpus
(FIXTURES.md).

The corpus has no ``partsupp`` table and no ``l_receiptdate`` /
``l_commitdate`` columns, so the shapes that depend on them are re-based
on the distinct ``(l_partkey, l_suppkey)`` relation mined from lineitem
and on ``l_shipdate`` vs ``o_orderdate`` lateness — the operator
structure (correlated subqueries, disjunctive join predicates,
exists/not-exists self-joins, group-global scalar comparisons) is
preserved exactly. Thresholds go through exact DECIMAL sums so the
group-vs-global comparisons are bit-stable regardless of partition
count or summation order.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, dsum, o_dsum, o_rnd, rnd
from terasort_spark.registry import register


@register(
    "tpch_q3_shape",
    oracle=f"""
SELECT l_orderkey, o_orderdate, o_orderpriority, revenue, rn
FROM (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         {o_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
         CAST(row_number() OVER (
              ORDER BY floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 DESC,
                       l_orderkey) AS INTEGER) AS rn
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15'
    AND l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
WHERE rn <= 10
""",
)
def tpch_q3_shape(spark, sf_dir):
    """TPC-H Q3 (shipping priority): selective dim filter → 3-way join →
    revenue agg → global top-10. Filters sit directly on the scans
    (pushdown), the customer side broadcasts, and the final top-k is a
    TakeOrderedAndProject-style bounded sort — no full global sort."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    agg = (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    # Top-k as ORDER BY + LIMIT (plans as TakeOrderedAndProject: per-
    # partition k-row heaps, driver merges k*P rows) — then the rank
    # column is a window over the already-bounded 10 rows. No
    # unpartitioned window ever sees the unbounded aggregate.
    top = agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return top.select(
        "l_orderkey",
        "o_orderdate",
        "o_orderpriority",
        "revenue",
        F.row_number().over(w).alias("rn"),
    )


@register(
    "tpch_q5_shape",
    oracle=f"""
SELECT n_name,
       {o_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
       count(*) AS n_lines
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'AMERICA')
  AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
""",
)
def tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): six-table join. Dim chain
    (region→nation→supplier) broadcasts; the only shuffles are the
    customer⋈orders and ⋈lineitem fact joins plus the final tiny agg.
    The co-nation predicate rides the supplier join condition."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "AMERICA"))
    dims = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
            F.broadcast(r), n.n_regionkey == r.r_regionkey
        )
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            dims,
            (li.l_suppkey == dims.s_suppkey)
            & (c.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q10_shape",
    oracle=f"""
SELECT c_custkey, c_name, n_name, revenue, rn
FROM (
  SELECT c_custkey, c_name, n_name,
         {o_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
         CAST(row_number() OVER (
              ORDER BY floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 DESC,
                       c_custkey) AS INTEGER) AS rn
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
)
WHERE rn <= 20
""",
)
def tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): returned lineitems → revenue
    lost per customer → top 20."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    agg = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )
    # Same top-k shape as tpch_q3_shape: TakeOrderedAndProject bounds
    # the input to 20 rows BEFORE the rank window — r3's form ranked
    # the whole aggregate through one single-partition window task.
    top = agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return top.select(
        "c_custkey",
        "c_name",
        "n_name",
        "revenue",
        F.row_number().over(w).alias("rn"),
    )


@register(
    "tpch_q18_shape",
    oracle=f"""
SELECT c_custkey, o_orderkey,
       {o_dsum("l_quantity", "total_qty")}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, o_orderkey
HAVING sum(l_quantity) > 300
""",
)
def tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): per-order quantity totals with
    a HAVING cut. The HAVING predicate is evaluated post-aggregation —
    only surviving groups leave the agg, so the filter costs nothing
    extra at scale."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(
            dsum(F.col("l_quantity"), "total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 300)
        .drop("_raw_qty")
    )


@register(
    "corr_scalar_subquery",
    oracle="""
SELECT p_partkey, p_brand, p_retailprice
FROM part p
WHERE p_retailprice = (SELECT min(p2.p_retailprice)
                       FROM part p2 WHERE p2.p_brand = p.p_brand)
""",
)
def corr_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (cheapest part per brand), expressed in
    decorrelated form — groupBy-min joined back on the correlation key —
    which is exactly the plan Catalyst's RewriteCorrelatedScalarSubquery
    produces: one extra agg + one equi-join, no per-row subquery."""
    p = table(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_brand").alias("mb")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            F.broadcast(mins),
            (p.p_brand == F.col("mb")) & (p.p_retailprice == F.col("min_price")),
        )
        .select("p_partkey", "p_brand", "p_retailprice")
    )


@register(
    "tpch_q7_shape",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {o_dsum("volume", "revenue")}
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
      OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
)
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_shape(spark, sf_dir):
    """TPC-H Q7 (volume shipping): nation-pair trade volume by year. The
    disjunctive nation-pair predicate sits on two broadcast nation dims;
    the fact chain shuffles only on its natural keys."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = F.broadcast(table(spark, sf_dir, "nation")).alias("n1")
    n2 = F.broadcast(table(spark, sf_dir, "nation")).alias("n2")
    pair = (
        (F.col("n1.n_name") == "FRANCE") & (F.col("n2.n_name") == "GERMANY")
    ) | ((F.col("n1.n_name") == "GERMANY") & (F.col("n2.n_name") == "FRANCE"))
    j = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .filter(pair)
    )
    return (
        j.select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume"), "revenue"))
    )


def _o_ratio(num_case: str, den_expr: str, alias: str, scale: str = "") -> str:
    """Oracle SQL for a deterministic ratio of two money sums: each side
    sums through DECIMAL(25,6) (order-insensitive), converts to DOUBLE,
    divides (one IEEE op), optional scale factor, floor-rounds to 4dp."""
    num = f"CAST(sum(CAST({num_case} AS DECIMAL(25,6))) AS DOUBLE)"
    den = f"CAST(sum(CAST({den_expr} AS DECIMAL(25,6))) AS DOUBLE)"
    return f"floor({scale}{num} / {den} * 10000 + 0.5) / 10000 AS {alias}"


@register(
    "tpch_q8_shape",
    oracle=f"""
SELECT o_year,
       {_o_ratio("CASE WHEN supp_nation = 'BRAZIL' THEN volume ELSE 0.0 END",
                 "volume", "mkt_share")}
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         n2.n_name AS supp_nation,
         l_extendedprice * (1 - l_discount) AS volume
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
)
GROUP BY o_year
""",
)
def tpch_q8_shape(spark, sf_dir):
    """TPC-H Q8 (national market share): BRAZIL's share of ECONOMY-part
    revenue among AMERICA-region customers, per year. The conditional
    numerator and the denominator are both exact decimal sums, so the
    final single IEEE division is reproducible on any partitioning.
    part/supplier/nation/region all broadcast; only the
    lineitem⋈orders⋈customer fact chain shuffles."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").alias("n1")
    n2 = table(spark, sf_dir, "nation").alias("n2")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
    )
    num = F.sum(
        F.when(F.col("n2.n_name") == "BRAZIL", vol).otherwise(F.lit(0.0)).cast(DEC)
    ).cast("double")
    den = F.sum(vol.cast(DEC)).cast("double")
    from terasort_spark.operators._util import rnd

    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(rnd(num / den, "mkt_share"))
    )


@register(
    "tpch_q12_shape",
    oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY l_linestatus
""",
)
def tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority split, adapted to this
    corpus: o_orderpriority plays l_shipmode's role): one fact join, two
    conditional counts per group. Integer conditional sums need no
    rounding — bit-exact on any engine."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
    )


@register(
    "tpch_q13_shape",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS INTEGER) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def tpch_q13_shape(spark, sf_dir):
    """TPC-H Q13 (customer distribution): left join keeps order-less
    customers (c_count = 0 via null-skipping count), then a second agg
    over the first's output — a distribution of counts. The ON-clause
    predicate is applied pre-join (outer semantics preserved: filtering
    the right side before a left join IS the ON-clause form)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("int").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q14_shape",
    oracle=f"""
SELECT {_o_ratio("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END",
                 "l_extendedprice * (1 - l_discount)", "promo_revenue", scale="100.0 * ")}
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate <  TIMESTAMP '1997-10-01'
""",
)
def tpch_q14_shape(spark, sf_dir):
    """TPC-H Q14 (promotion effect): percent of one month's revenue from
    PROMO parts. Single-row global agg; the month filter pushes to the
    lineitem scan and part broadcasts."""
    from terasort_spark.operators._util import rnd

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    num = F.sum(
        F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)).cast(DEC)
    ).cast("double")
    den = F.sum(vol.cast(DEC)).cast("double")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(rnd(F.lit(100.0) * num / den, "promo_revenue"))
    )


@register(
    "tpch_q22_shape",
    oracle=f"""
WITH thr AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       {o_dsum("c_acctbal", "totacctbal")}
FROM customer, thr
WHERE c_acctbal > thr.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT'
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""",
)
def tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity): customers with
    above-average positive balance and no recent urgent orders, counted
    per nation (every customer in this corpus has SOME order, so the
    anti-join side is the urgent-recent slice). The scalar-subquery
    threshold is a 1-row broadcast cross join (the same decorrelation
    Catalyst performs); "no matching orders" is a left-anti join. The
    threshold average divides an exact decimal sum by an exact count so
    the cutoff is identical on every engine and partitioning."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    )
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count(F.lit(1)))
            .alias("avg_bal")
        )
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), "totacctbal"),
        )
    )


@register(
    "tpch_q4_shape",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate <  TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def tpch_q4_shape(spark, sf_dir):
    """TPC-H Q4 (order priority checking, adapted: the corpus lacks
    commit/receipt dates so the EXISTS predicate is "some lineitem
    shipped after the order date"): a correlated EXISTS expressed as a
    left-semi join carrying the non-equi ship-date condition, then a
    tiny priority rollup. The semi join never duplicates orders no
    matter how many lineitems match — output stays bounded by orders."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q6_shape",
    oracle=f"""
SELECT {o_dsum("l_extendedprice * l_discount", "revenue")},
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_shape(spark, sf_dir):
    """TPC-H Q6 (forecast revenue change): pure scan-side query — all
    three predicates push down to the parquet row-group level, zero
    joins, one partial+final global agg. At 100 TB this is the
    I/O-bound best case: min/max row-group stats on l_shipdate prune
    most of the scan before a byte is decoded."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q19_shape",
    oracle=f"""
SELECT {o_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
       count(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def tpch_q19_shape(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive predicates): equi join
    on partkey with an OR-of-conjuncts residual. The equi conjunct keeps
    it a broadcast hash join (part is the dim side); the disjunction is
    a post-join filter, not a nested-loop — the plan shape that survives
    100x scale."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (li.l_partkey == p.p_partkey) & (
        ((p.p_brand == "Brand#12") & p.p_size.between(1, 5) & li.l_quantity.between(1, 11))
        | ((p.p_brand == "Brand#23") & p.p_size.between(1, 10) & li.l_quantity.between(10, 20))
        | ((p.p_brand == "Brand#34") & p.p_size.between(1, 15) & li.l_quantity.between(20, 30))
    )
    return li.join(F.broadcast(p), cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q9_shape",
    oracle=f"""
SELECT n_name, o_year,
       {o_dsum("l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1", "profit")}
FROM (
  SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         l_extendedprice, l_discount, p_retailprice, l_quantity
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN orders   ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%gear%'
)
GROUP BY n_name, o_year
""",
)
def tpch_q9_shape(spark, sf_dir):
    """TPC-H Q9 (product-type profit): 5-table join grouped by supplier
    nation x order year. partsupp's supplycost is adapted to a 10%
    carrying cost on p_retailprice. part/supplier/nation broadcast; the
    orders join is the one real shuffle."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * F.lit(0.1)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("o_year", F.year("o_orderdate").cast("integer"))
        .groupBy("n_name", "o_year")
        .agg(dsum(profit, "profit"))
    )


@register(
    "tpch_q11_shape",
    oracle=f"""
WITH euro_value AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(25,6)) * CAST(l_quantity AS DECIMAL(25,6))) AS v
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey
)
SELECT l_partkey, {o_rnd("CAST(v AS DOUBLE)", "part_value")}
FROM euro_value
WHERE CAST(v AS DOUBLE) > (SELECT CAST(sum(v) AS DOUBLE) FROM euro_value) * 0.001
""",
)
def tpch_q11_shape(spark, sf_dir):
    """TPC-H Q11 (important stock): per-part value vs a fraction of the
    global total — group-vs-global scalar comparison. partsupp value is
    adapted to extendedprice x quantity over EUROPE suppliers. Both the
    per-part and global sums go through exact DECIMAL so the > threshold
    compare is bit-stable at any partitioning; the global total joins
    back as a broadcast scalar, never a driver collect."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    dims = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
            F.broadcast(r), n.n_regionkey == r.r_regionkey
        )
    )
    per_part = (
        li.join(dims, li.l_suppkey == dims.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_quantity").cast(DEC))
            .alias("v")
        )
    )
    total = per_part.agg(F.sum("v").cast("double").alias("tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double") > F.col("tot") * 0.001)
        .select("l_partkey", rnd(F.col("v").cast("double"), "part_value"))
    )


@register(
    "tpch_q15_shape",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, {o_rnd("CAST(total_rev AS DOUBLE)", "total_revenue")}
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
""",
)
def tpch_q15_shape(spark, sf_dir):
    """TPC-H Q15 (top supplier): the revenue "view" computed once, its
    max re-joined as a broadcast scalar, equality on the exact DECIMAL
    revenue (ties all surface, deterministically). No driver-side
    collect of the max — it stays a 1-row broadcast."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
        .alias("total_rev")
    )
    mx = revenue.agg(F.max("total_rev").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .select(
            "s_suppkey", "s_name", rnd(F.col("total_rev").cast("double"), "total_revenue")
        )
    )


@register(
    "tpch_q16_shape",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 3, 9, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship): the partsupp relation is
    mined as DISTINCT (l_partkey, l_suppkey); NOT IN becomes a
    null-safe anti join against the (tiny, broadcast) excluded-supplier
    set; count(DISTINCT) keyed per group."""
    li = table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 3, 9, 19, 23, 36, 45, 49)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_shape",
    oracle=f"""
WITH li_part AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand IN ('Brand#3', 'Brand#13')
), stats AS (
  SELECT l_partkey AS sp, count(*) AS cnt,
         CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
  FROM li_part GROUP BY l_partkey
)
SELECT {o_rnd("CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0", "avg_yearly")},
       count(*) AS n_small
FROM li_part JOIN stats ON l_partkey = sp
WHERE l_quantity * 5.0 * cnt < sum_qty
""",
)
def tpch_q17_shape(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): correlated avg-per-part
    subquery, decorrelated into an aggregate self-join — the form
    Catalyst itself rewrites EXISTS/IN into. The threshold compare is
    restated as 5*qty*cnt < sum_qty (all exactly-representable values),
    dodging cross-engine avg() rounding."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand").isin("Brand#3", "Brand#13"))
    lp = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    stats = lp.groupBy(F.col("l_partkey").alias("sp")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
    )
    return (
        lp.join(stats, lp.l_partkey == stats.sp)
        .filter(F.col("l_quantity") * 5.0 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            rnd(
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0,
                "avg_yearly",
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "tpch_q20_shape",
    oracle="""
WITH shipped AS (
  SELECT l_suppkey, l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
  AND EXISTS (SELECT 1 FROM shipped
              WHERE l_suppkey = s_suppkey AND qty > 50.0)
""",
)
def tpch_q20_shape(spark, sf_dir):
    """TPC-H Q20 (potential promotion): nested subqueries → per
    (supplier, part) shipped-quantity agg, threshold filter, then a
    LEFT SEMI join into the region-filtered supplier dim. The semi
    join's build side is the small aggregated set — at 100 TB the agg
    shrinks the fact table before any supplier join happens."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("qty"))
        .filter(F.col("qty") > 50.0)
        .select("l_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "tpch_q21_shape",
    oracle="""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
SELECT s_name, numwait, rn FROM (
  SELECT s_name, count(*) AS numwait,
         CAST(row_number() OVER (ORDER BY count(*) DESC, s_name) AS INTEGER) AS rn
  FROM late l1
  JOIN supplier ON s_suppkey = l1.l_suppkey
  WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM late l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey)
  GROUP BY s_name
)
WHERE rn <= 20
""",
)
def tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting): EXISTS + NOT
    EXISTS self-joins on the fact table, expressed as left-semi and
    left-anti joins. Lateness is adapted to shipdate > orderdate + 60d
    (corpus has no receipt/commit dates). Both the semi and anti sides
    shuffle on l_orderkey — one co-partitioned exchange reused across
    the two joins."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    l1 = (
        late.join(l2, (late.l_orderkey == l2.k2) & (late.l_suppkey != l2.s2), "left_semi")
        .join(l3, (late.l_orderkey == l3.k3) & (late.l_suppkey != l3.s3), "left_anti")
    )
    s = table(spark, sf_dir, "supplier")
    agg = (
        l1.join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    # Top-20 via TakeOrderedAndProject (per-partition heaps) before the
    # rank window sees anything — the window input is bounded at 20
    # rows, never the full supplier aggregate.
    top = agg.orderBy(F.desc("numwait"), F.asc("s_name")).limit(20)
    w = Window.orderBy(F.desc("numwait"), F.asc("s_name"))
    return top.select(
        "s_name", "numwait", F.row_number().over(w).cast("integer").alias("rn")
    )


@register(
    "tpch_q2_shape",
    oracle=f"""
SELECT p_partkey, s_suppkey, s_name, n_name, {o_rnd("s_acctbal", "acctbal")}
FROM (
  SELECT p_partkey, s_suppkey, s_name, n_name, s_acctbal,
         max(s_acctbal) OVER (PARTITION BY p_partkey) AS mx
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE p_size = 15 AND r_name = 'EUROPE'
)
WHERE s_acctbal = mx
""",
)
def tpch_q2_shape(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): correlated per-part extremum.
    Min supplycost becomes max s_acctbal over the suppliers that ship
    each part (partsupp mined from lineitem). The correlated subquery
    is a window max over p_partkey — one shuffle, no re-join; ties all
    kept (exact 2dp doubles, deterministic both engines)."""
    li = table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("mx", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("mx"))
        .select("p_partkey", "s_suppkey", "s_name", "n_name", rnd(F.col("s_acctbal"), "acctbal"))
    )
