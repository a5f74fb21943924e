"""Behavior and plan tests for the Spark-4 modern-surface module
(operators/modern.py): VARIANT, pipe SQL, collations, XML source,
token-window chunking. Oracle parity itself is covered by the
registry-wide twin in test_oracle.py; these tests pin the properties
the oracle can't see (plan identity, coverage invariants, collation
semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.operators.modern import CHUNK_S, CHUNK_W
from terasort_spark.registry import queries

_Q = queries()


def test_sql_pipe_plan_identical_to_classic_form(spark, sf_dir):
    """Pipe syntax is pure surface: the optimized plan must equal the
    classic SELECT's plan (same filter -> partial agg -> exchange ->
    final agg), so every scale property carries over."""
    piped = _Q["sql_pipe"](spark, sf_dir)
    classic = spark.sql(
        """
SELECT l_returnflag, l_linestatus,
       floor(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS sum_qty,
       floor(CAST(sum(CAST(disc_price AS DECIMAL(25,6))) AS DOUBLE) * 10000 + 0.5) / 10000 AS sum_disc_price,
       COUNT(*) AS n
FROM (
  SELECT *, l_extendedprice * (1 - l_discount) AS disc_price
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
GROUP BY l_returnflag, l_linestatus
"""
    )

    def canon(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # strip expression ids (#123) which differ per analysis run
        import re

        return re.sub(r"#\d+L?", "#", plan)

    assert canon(piped) == canon(classic)


def test_variant_extraction_matches_json_path(spark, sf_dir):
    """variant_get through parse_json agrees row-for-row with the
    legacy string-path get_json_object on the same payloads."""
    from terasort_spark.catalog import table

    e = table(spark, sf_dir, "events").limit(200)
    both = e.select(
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("v"),
        F.get_json_object("props", "$.k").cast("bigint").alias("j"),
    )
    assert both.filter(~(F.col("v").eqNullSafe(F.col("j")))).count() == 0


def test_collation_counts(spark, sf_dir):
    """Case-mixing doubles the binary-distinct segment count; the
    UTF8_LCASE collation collapses it back to the true 5 segments."""
    row = _Q["fn_collate"](spark, sf_dir).collect()[0]
    assert row.n_distinct_ci == 5
    assert row.n_distinct_binary == 10
    assert row.n_building > 0


def test_xml_roundtrip_preserves_rows_and_types(spark, sf_dir):
    from terasort_spark.catalog import table

    out = _Q["source_xml"](spark, sf_dir)
    orig = table(spark, sf_dir, "nation")
    assert out.schema == orig.schema
    assert out.exceptAll(orig).count() == 0
    assert orig.exceptAll(out).count() == 0


def test_chunking_covers_every_token_with_declared_overlap(spark, sf_dir):
    """Coverage invariant: per document, chunk starts are exactly
    1, 1+S, 1+2S, ... <= n_tokens; consecutive full chunks overlap by
    W-S tokens; the union of [start, start+len) intervals covers
    [1, n_tokens] with no gap."""
    from terasort_spark.catalog import table

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    chunks = _Q["text_chunk"](spark, sf_dir)
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max(F.col("chunk_start") + F.col("chunk_len") - 1).alias("max_end"),
        F.min("chunk_start").alias("first_start"),
    )
    joined = per_doc.join(d, "doc_id")
    bad = joined.filter(
        (F.col("first_start") != 1)
        | (F.col("max_end") != F.col("n"))
        | (F.col("n_chunks") != F.ceil(F.col("n") / F.lit(CHUNK_S)))
    )
    assert bad.count() == 0
    # stride spacing: every start is ≡ 1 (mod S)
    assert chunks.filter((F.col("chunk_start") - 1) % CHUNK_S != 0).count() == 0
    # full chunks are exactly W tokens; only the ≤ ceil(W/S) tail chunks may be short
    short = chunks.filter(F.col("chunk_len") < CHUNK_W)
    tail = chunks.join(d, "doc_id").filter(
        F.col("chunk_start") + CHUNK_W - 1 > F.col("n")
    )
    assert short.count() == tail.count()


def test_chunking_plan_has_no_shuffle(spark, sf_dir):
    """Chunking is a narrow map stage: scan -> project -> generate ->
    project. Any Exchange in the plan would mean the 100 TB corpus gets
    shuffled just to be split into chunks."""
    df = _Q["text_chunk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_dedup_chunk_partitions_chunks_exactly(spark, sf_dir):
    """Every chunk is either canonical or duplicate (n_chunks =
    n_canonical + n_dup per doc), and the corpus-wide canonical count
    equals the number of distinct chunk hashes."""
    d = _Q["dedup_chunk"](spark, sf_dir)
    assert d.filter(
        F.col("n_chunks") != F.col("n_canonical") + F.col("n_dup")
    ).count() == 0
    chunks = _Q["text_chunk"](spark, sf_dir)
    n_distinct = chunks.select("chunk_md5").distinct().count()
    total_canonical = d.agg(F.sum("n_canonical")).collect()[0][0]
    assert total_canonical == n_distinct


def test_mrl_shortlist_recall_and_shape(spark, sf_dir):
    """Two-stage MRL ranking: exactly 5 results per query with dense
    ranks, and recall vs the exact full-dim top-5 stays above the
    isotropic-worst-case floor (prefix carries 1/4 of the variance on
    random vectors; MRL-trained embeddings would concentrate it)."""
    mrl = _Q["sim_cosine_mrl"](spark, sf_dir).collect()
    per_q = {}
    for r in mrl:
        per_q.setdefault(r.q_id, []).append(r.rn)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    exact = {(r.q_id, r.c_id) for r in _Q["sim_cosine_topk"](spark, sf_dir).collect()}
    got = {(r.q_id, r.c_id) for r in mrl}
    assert len(got & exact) / len(exact) >= 0.4


def test_sketch_rollup_merge_is_lossless_and_accurate(spark, sf_dir):
    """The re-aggregation property that makes sketches the 100 TB
    distinct-count design: unioning the per-priority partial sketches
    yields the IDENTICAL estimate to sketching the whole column in one
    pass (same hashes, same registers), and the estimate tracks the
    exact distinct count within HLL lgK=12 error (<2% at these
    cardinalities). The DataSketches exhibit is module-test-only since
    r12 (its registers are engine-private); the REGISTERED
    agg_sketch_rollup is the portable KMV form, tested below."""
    from terasort_spark.catalog import table
    from terasort_spark.operators.modern import agg_sketch_rollup_hll

    rows = {
        r.o_orderpriority: r.n_custkeys
        for r in agg_sketch_rollup_hll(spark, sf_dir).collect()
    }
    o = table(spark, sf_dir, "orders")
    direct = (
        o.agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
        .collect()[0]
        .est
    )
    assert rows["ALL"] == direct
    exact = o.select("o_custkey").distinct().count()
    assert abs(rows["ALL"] - exact) / exact < 0.02
    assert max(v for k, v in rows.items() if k != "ALL") <= rows["ALL"]


def test_kmv_rollup_merge_matches_direct_sketch(spark, sf_dir):
    """The registered (hash-graded) agg_sketch_rollup pins the same
    lossless-merge algebra portably: the 'ALL' row — k smallest of the
    merged per-group samples — must equal the estimate from sketching
    the unfiltered column directly (global k-smallest is a subset of
    the union of per-group k-smallest), and every estimate tracks its
    exact count within the KMV k=64 error envelope (~3/sqrt(k-2) ≈ 38%
    at 3 sigma; exact when the set fits in the sample)."""
    from terasort_spark.catalog import table
    from terasort_spark.operators.modern import _SKR_K

    rows = {
        r.o_orderpriority: r
        for r in _Q["agg_sketch_rollup"](spark, sf_dir).collect()
    }
    assert "ALL" in rows
    o = table(spark, sf_dir, "orders")
    direct_sample = (
        o.select(
            F.conv(
                F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("h")
        )
        .distinct()
        .orderBy("h")
        .limit(_SKR_K)
        .agg(F.max("h").alias("theta"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    if direct_sample.n < _SKR_K:
        direct_est = float(direct_sample.n)
    else:
        direct_est = (_SKR_K - 1) * float(1 << 60) / direct_sample.theta
    assert abs(rows["ALL"].est_custkeys - round(direct_est, 4)) <= 1e-6
    for r in rows.values():
        if r.n_samp < _SKR_K:
            assert r.est_custkeys == float(r.n_exact)
        else:
            assert abs(r.est_custkeys - r.n_exact) / r.n_exact < 0.38


def test_percentile_approx_sample_tracks_exact(spark, sf_dir):
    """Portable bottom-k-by-hash quantile sample (registered
    agg_percentile_approx): the sampled median stays within the
    group's central value band, degrading to EXACT when the group fits
    in the k=256 sample; the native percentile_approx exhibit agrees
    with the exact median within its declared accuracy."""
    from terasort_spark.catalog import table
    from terasort_spark.operators.aggregates import (
        _APA_K,
        agg_percentile_approx_native,
    )

    rows = _Q["agg_percentile_approx"](spark, sf_dir).collect()
    assert rows and all(r.n_sample <= _APA_K for r in rows)
    c = table(spark, sf_dir, "customer")
    spread = {
        r.c_mktsegment: (r.lo, r.hi)
        for r in c.groupBy("c_mktsegment")
        .agg(
            F.expr(
                "percentile_cont(0.25) WITHIN GROUP (ORDER BY c_acctbal)"
            ).alias("lo"),
            F.expr(
                "percentile_cont(0.75) WITHIN GROUP (ORDER BY c_acctbal)"
            ).alias("hi"),
        )
        .collect()
    }
    for r in rows:
        if r.n_sample < _APA_K:
            assert r.p50_approx == r.p50_exact
        else:
            lo, hi = spread[r.c_mktsegment]
            assert lo <= r.p50_approx <= hi
    native = {
        r.c_mktsegment: r.p50_approx
        for r in agg_percentile_approx_native(spark, sf_dir).collect()
    }
    exact = {r.c_mktsegment: r.p50_exact for r in rows}
    for seg, v in native.items():
        lo, hi = spread[seg]
        band = max(1.0, hi - lo)
        assert abs(v - exact[seg]) <= band
