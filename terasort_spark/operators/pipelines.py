"""Event-pipeline operators: URL structure extraction, SCD2 interval
building, and ordered funnel analysis — the ETL shapes a training-data
or product-analytics pipeline runs over an events stream at 100 TB.

All three are single-shuffle designs: URL parsing is scan-side scalar
work; SCD2 and funnel both shuffle once on user_id and do the rest with
windows / conditional aggregates.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter

from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import DEC, o_rnd, rnd, scratch_dir
from terasort_spark.operators.curation import (
    _TERMS_SQL,
    _tok_cte,
    _tokens,
    BM25_B,
    BM25_K1,
    BM25_TERMS,
)
from terasort_spark.operators.rag import _dim_sql, DIMS
from terasort_spark.registry import register


@register(
    "fn_url",
    oracle="""
SELECT doc_id,
       regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
       regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, 'k=([0-9]+)', 1) AS k_param
FROM (
  SELECT doc_id,
         'https://' || source || '.example.com/docs/' || lang || '/' ||
         CAST(doc_id AS VARCHAR) || '?k=' || CAST(n_chars AS VARCHAR) AS url
  FROM documents
)
WHERE doc_id < 200
""",
)
def fn_url(spark, sf_dir):
    """URL structure extraction with Spark's native parse_url (HOST /
    PATH / QUERY / query-param), oracle-checked against pure-regex
    decompositions of the same synthesized URLs. Scan-side scalar work —
    no shuffle at any scale."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?k="),
        F.col("n_chars").cast("string"),
    )
    u = d.withColumn("url", url)
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("k")).alias("k_param"),
    )


@register(
    "etl_scd2",
    oracle="""
SELECT user_id, event_type, valid_from, valid_to, is_current
FROM (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS BOOLEAN) AS is_current,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE user_id < 25
)
WHERE prev_type IS NULL OR prev_type <> event_type
""",
)
def etl_scd2(spark, sf_dir):
    """Slowly-changing-dimension (type 2) interval build: each user's
    event_type history becomes [valid_from, valid_to) rows with an
    is_current flag — change rows are kept only when the attribute
    actually changed (lag comparison). One shuffle on user_id; both
    windows share it. NOTE valid_to of a change row is the NEXT event's
    ts (open interval), the standard SCD2 merge output."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 25)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rows = ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return rows.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", "event_type", "valid_from", "valid_to", "is_current")


@register(
    "events_funnel",
    oracle="""
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  count(*) AS n_users,
  count(t_signup) AS n_signup,
  count(CASE WHEN t_click > t_signup THEN 1 END) AS n_click_after,
  count(CASE WHEN t_purchase > t_click AND t_click > t_signup THEN 1 END) AS n_full_funnel
FROM stages
""",
)
def events_funnel(spark, sf_dir):
    """Ordered funnel (signup → click → purchase): first-touch times per
    stage via conditional min aggregates, then ordering predicates count
    stage completion. ONE scan + one shuffle on user_id — never a
    per-stage self-join (the naive N-way join is the classic funnel
    anti-pattern at scale). NULL stage times drop out of the counts via
    SQL 3VL, same on both engines."""
    ev = table(spark, sf_dir, "events")
    stage = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    stages = ev.groupBy("user_id").agg(
        stage("signup").alias("t_signup"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias(
            "n_click_after"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "text_tfidf",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents WHERE length(text) > 0
), tf AS (
  SELECT doc_id, term FROM toks WHERE length(term) > 0
), df AS (
  SELECT term, count(*) AS dfreq FROM tf GROUP BY term
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
SELECT doc_id, term,
       floor(ln(n_docs * 1.0 / dfreq) * 10000 + 0.5) / 10000 AS idf,
       rn
FROM (
  SELECT tf.doc_id, tf.term, df.dfreq, n.n_docs,
         CAST(row_number() OVER (
            PARTITION BY tf.doc_id
            ORDER BY ln(n.n_docs * 1.0 / df.dfreq) DESC, tf.term) AS INTEGER) AS rn
  FROM tf JOIN df USING (term) CROSS JOIN n
)
WHERE rn <= 3 AND doc_id < 100
""",
)
def text_tfidf(spark, sf_dir):
    """TF-IDF keyword extraction: distinct doc-term pairs → document
    frequency → idf = ln(N/df) → top-3 most distinctive terms per doc
    (rank materialized, term tie-break). The df table is vocabulary-
    sized → broadcast back to the term stream; N rides along as a
    1-row broadcast. Binary tf (distinct terms) keeps the pair set
    bounded by doc length."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tf = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 0)
        .distinct()
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    idf = F.log(F.col("n_docs") * 1.0 / F.col("dfreq"))
    w = Window.partitionBy("doc_id").orderBy(F.desc(idf), F.asc("term"))
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w).cast("integer"))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "term", rnd(idf, "idf"), "rn")
    )


@register(
    "fn_math2",
    oracle="""
SELECT p_partkey,
       floor(sin(radians(p_size)) * 10000 + 0.5) / 10000 AS sin_r,
       floor(cos(radians(p_size)) * 10000 + 0.5) / 10000 AS cos_r,
       floor(atan2(p_size, p_retailprice) * 10000 + 0.5) / 10000 AS at2,
       floor(degrees(atan(p_size / 100.0)) * 10000 + 0.5) / 10000 AS deg,
       floor(cbrt(p_retailprice) * 10000 + 0.5) / 10000 AS cb,
       CAST(factorial(p_size % 10) AS BIGINT) AS fact
FROM part
WHERE p_partkey <= 500
""",
)
def fn_math2(spark, sf_dir):
    """Math family #2: trig (sin/cos/atan2), angle conversion
    (radians/degrees), cube root, factorial. IEEE libm functions agree
    bit-for-bit across engines for these inputs; outputs floor-rounded
    to 4dp per D1 anyway."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        rnd(F.sin(F.radians("p_size")), "sin_r"),
        rnd(F.cos(F.radians("p_size")), "cos_r"),
        rnd(F.atan2(F.col("p_size").cast("double"), F.col("p_retailprice")), "at2"),
        rnd(F.degrees(F.atan(F.col("p_size") / 100.0)), "deg"),
        rnd(F.cbrt("p_retailprice"), "cb"),
        F.factorial(F.col("p_size") % 10).cast("bigint").alias("fact"),
    )


@register(
    "win_runddistinct",
    oracle="""
SELECT event_id, user_id,
       CAST(sum(first_seen) OVER (
         PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS n_types_so_far
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN row_number() OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
WHERE user_id < 15
""",
)
def win_runddistinct(spark, sf_dir):
    """Running COUNT(DISTINCT) per user — how many distinct event types
    seen so far. Neither engine supports DISTINCT aggregates over
    ordered windows, so it's restated as the first-occurrence-flag +
    running-sum identity (two windows sharing one user_id shuffle) —
    the streaming-state-friendly form: state per (user, type), not a
    growing distinct set per row."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 15)
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn(
            "first_seen",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
        )
        .select(
            "event_id",
            "user_id",
            F.sum("first_seen").over(w_run).cast("bigint").alias("n_types_so_far"),
        )
    )


@register(
    "join_asof_fwd",
    oracle="""
SELECT o_orderkey, o_orderdate, l_shipdate AS first_ship
FROM (
  SELECT o_orderkey, o_orderdate, l_shipdate,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY l_shipdate, l_linenumber) AS rn
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE l_shipdate >= o_orderdate
) WHERE rn = 1
""",
)
def join_asof_fwd(spark, sf_dir):
    """FORWARD as-of join: for each order, the first shipment at or
    after the order date (the mirror of join_asof's backward lookup).
    Expressed as join + per-key min(struct) — a HASH aggregation with
    map-side combine, not a sort-based window: each pre-shuffle
    partition collapses to one candidate row per order key before the
    exchange, and no per-key sort ever materializes. min over a struct
    compares lexicographically, so (l_shipdate, l_linenumber) ordering
    reproduces the min-rank row exactly."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    j = o.join(li, o.o_orderkey == li.l_orderkey).filter(
        F.col("l_shipdate") >= F.col("o_orderdate")
    )
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(F.min(F.struct("l_shipdate", "l_linenumber")).alias("first"))
        .select("o_orderkey", "o_orderdate", F.col("first.l_shipdate").alias("first_ship"))
    )


@register(
    "agg_skew_kurt",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         avg(l_quantity) AS mu,
         sum(l_quantity * l_quantity) / count(*) AS m2r,
         sum(l_quantity * l_quantity * l_quantity) / count(*) AS m3r,
         sum(l_quantity * l_quantity * l_quantity * l_quantity) / count(*) AS m4r
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       floor((m3 / pow(m2, 1.5)) * 10000 + 0.5) / 10000 AS skew,
       floor((m4 / (m2 * m2) - 3.0) * 10000 + 0.5) / 10000 AS kurt
FROM (
  SELECT l_returnflag, n,
         m2r - mu * mu AS m2,
         m3r - 3 * mu * m2r + 2 * mu * mu * mu AS m3,
         m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * mu * mu * mu * mu AS m4
  FROM m
)
""",
)
def agg_skew_kurt(spark, sf_dir):
    """Skewness and excess kurtosis per group. The oracle derives both
    from raw power sums (the one-pass moment identities), which is
    EXACTLY what Spark's skewness()/kurtosis() compute (population
    form) — a cross-engine check that the statistical definitions, not
    just the arithmetic, agree. l_quantity is integer-valued so the
    power sums are exact in doubles; the final expressions are fixed
    IEEE arithmetic on identical inputs."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.skewness("l_quantity"), "skew"),
        rnd(F.kurtosis("l_quantity"), "kurt"),
    )


@register(
    "agg_stringagg",
    oracle="""
SELECT c_mktsegment,
       string_agg(c_name, '|' ORDER BY c_name) AS names,
       count(*) AS n
FROM customer
WHERE c_custkey <= 200
GROUP BY c_mktsegment
""",
)
def agg_stringagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg): collected names
    sort inside the aggregate (D5) then concatenate — deterministic at
    any partitioning. Bounded by the filter; unbounded string_agg at
    100 TB is an anti-pattern (use collect + explode instead)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    return c.groupBy("c_mktsegment").agg(
        F.array_join(F.sort_array(F.collect_list("c_name")), "|").alias("names"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "events_sequence_match",
    oracle="""
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
             AS journey,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, substr(journey, 1, 20) AS journey20,
       CASE WHEN regexp_matches(journey, 's.*c.*p') THEN 1 ELSE 0 END
           AS has_funnel,
       CAST(strpos(journey, 'p') AS BIGINT) AS first_purchase_pos
FROM j
""",
)
def events_sequence_match(spark, sf_dir):
    """Sequence-pattern matching over per-user event journeys (the
    MATCH_RECOGNIZE / CEP shape): encode each user's time-ordered
    events as a one-char-per-event string, then run ordinary regexes
    against it — funnel detection becomes 's.*c.*p', position queries
    become strpos. ONE shuffle on user_id; the journey is built by
    sorting INSIDE the aggregate (sort_array over (ts, event_id)
    structs — deterministic at any partitioning, same D5 rule as
    agg_stringagg), and the regex is codegen over a per-user string
    whose length is the user's event count — state bounded per key,
    which is also exactly the applyInPandasWithState layout the
    streaming variant would use."""
    ev = table(spark, sf_dir, "events")
    j = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("journey"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    return j.select(
        "user_id",
        "n_events",
        F.substring("journey", 1, 20).alias("journey20"),
        F.col("journey").rlike("s.*c.*p").cast("int").alias("has_funnel"),
        F.instr("journey", "p").cast("bigint").alias("first_purchase_pos"),
    )


# --------------------------------------------------------------------------
# pipeline_preference_pairs — DPO/RLHF pair assembly.


@register(
    "pipeline_preference_pairs",
    oracle="""
WITH s AS (
    SELECT lang, source, doc_id,
           CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
               AS score
    FROM documents WHERE text IS NOT NULL
),
ch AS (
    SELECT lang, source, doc_id AS chosen_id, score AS chosen_score,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY score DESC, doc_id) AS rn
    FROM s
),
rj AS (
    SELECT lang, source, doc_id AS rejected_id, score AS rejected_score,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY score ASC, doc_id DESC) AS rn
    FROM s
)
SELECT c.lang, c.source, c.chosen_id, r.rejected_id,
       c.chosen_score - r.rejected_score AS margin
FROM (SELECT * FROM ch WHERE rn = 1) c
JOIN (SELECT * FROM rj WHERE rn = 1) r USING (lang, source)
WHERE c.chosen_id != r.rejected_id
""",
)
def pipeline_preference_pairs(spark, sf_dir):
    """Preference-pair assembly (DPO/RLHF dataset construction): within
    each prompt group — (lang, source) stands in for the prompt key —
    pick the highest-scoring document as `chosen` and the lowest as
    `rejected`, with the margin as the pair's training weight. The
    score is distinct-token count (a stand-in for a reward model; the
    plan is score-function-agnostic). Ties break on doc_id from
    opposite ends so a constant-score group still yields a
    deterministic (min-id, max-id) pair; single-doc groups emit
    nothing.

    Scale: two rank-1 windows over the same (lang, source) exchange.
    Both carry constant rn <= 1 filters, so WindowGroupLimit keeps
    per-group state at ONE row map-side — the low-cardinality group
    key never concentrates a partition's rows into memory. Output is
    one row per group."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    score = F.size(F.array_distinct(F.split(F.lower("text"), " "))).cast("bigint")
    s = d.select("lang", "source", "doc_id", score.alias("score"))
    w_ch = Window.partitionBy("lang", "source").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w_rj = Window.partitionBy("lang", "source").orderBy(
        F.asc("score"), F.desc("doc_id")
    )
    ch = (
        s.withColumn("rn", F.row_number().over(w_ch))
        .filter(F.col("rn") <= 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("chosen_id"),
            F.col("score").alias("chosen_score"),
        )
    )
    rj = (
        s.withColumn("rn", F.row_number().over(w_rj))
        .filter(F.col("rn") <= 1)
        .select(
            "lang",
            "source",
            F.col("doc_id").alias("rejected_id"),
            F.col("score").alias("rejected_score"),
        )
    )
    return (
        ch.join(rj, ["lang", "source"])
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "lang",
            "source",
            "chosen_id",
            "rejected_id",
            (F.col("chosen_score") - F.col("rejected_score")).alias("margin"),
        )
    )


# ---------------------------------------------------------------------------
# pipeline_ivm_rewrite — the composed materialized-view lifecycle.


@register(
    "pipeline_ivm_rewrite",
    # the oracle recomputes the v1 monthly answer FROM SCRATCH; the
    # operator must reach the same numbers having only (a) aggregated
    # the v0 base once, (b) applied the change feed as signed deltas,
    # (c) answered the month query from the refreshed view
    oracle=f"""
WITH v1 AS (
  SELECT o_orderdate, o_orderpriority,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS price
  FROM orders
  WHERE (o_orderkey % 4 <> 3 OR o_orderkey % 10 = 0)
    AND NOT (o_orderkey % 17 = 0 AND o_orderkey % 10 <> 0)
)
SELECT date_trunc('month', o_orderdate) AS order_month,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {o_rnd("CAST(sum(CAST(price AS DECIMAL(25,6))) AS DOUBLE)", "revenue")}
FROM v1
GROUP BY 1, 2
""",
)
def pipeline_ivm_rewrite(spark, sf_dir):
    """End-to-end materialized-view lifecycle, composed from the two
    halves that until now were only proven separately: stage the
    versioned table (cdc.stage_orders_cdc — the SAME recipe/oracle
    scan_changefeed and ivm_incremental_agg grade against), materialize
    the daily-grain MV from v0, apply the v1 change feed to the MV as
    signed DECIMAL deltas (ivm_incremental_agg's algebra at the view's
    grain — insert (+1,+new), update (0,new−old), delete (−1,−old)),
    persist the refreshed view, then answer the MONTHLY query from it
    through mv_rewrite.answer_from_mv's derivability-checked rewrite.
    The oracle recomputes v1 monthly from scratch, so a hash match
    proves maintenance ∘ rewrite == truth — the invariant a warehouse's
    continuous aggregates live or die by.

    100 TB: the fact table is scanned once (v0 refresh); every later
    step costs O(changes) + O(view): the feed join's left side is the
    delta segment (partition-pruned), the merge unions view-sized
    inputs, and the month answer scans |days|x|priorities| rows. The
    from-scratch recompute exists only oracle-side."""
    from terasort_spark.operators.cdc import stage_orders_cdc
    from terasort_spark.plans.mv_rewrite import answer_from_mv
    from terasort_spark.sources.snapshots import read_snapshot

    dims = ("o_orderdate", "o_orderpriority")
    root = stage_orders_cdc(spark, sf_dir, "ivm_mv", extra_cols=dims)

    # (a) the stored daily view, refreshed from v0 (the one fact scan)
    mv0 = scratch_dir(spark, "ivm_mv_v0")
    shutil.rmtree(mv0, ignore_errors=True)
    (
        spark.read.parquet(os.path.join(root, "_v=0"))
        .groupBy(*dims)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("revenue_dec"),
        )
        .write.mode("overwrite")
        .parquet(mv0)
    )

    # (b) the signed delta stream at the view's grain
    seg1 = spark.read.parquet(os.path.join(root, "_v=1"))
    prev = read_snapshot(spark, root, ["o_orderkey"], version=0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("old_price"),
        *[F.col(c).alias(f"prev_{c}") for c in dims],
    )
    feed = seg1.join(prev, "o_orderkey", "left").filter(
        ~(F.col("_deleted") & F.col("old_price").isNull())
    )
    dn = (
        F.when(F.col("_deleted"), -1)
        .when(F.col("old_price").isNull(), 1)
        .otherwise(0)
        .cast("long")
    )
    ds = (
        F.when(F.col("_deleted"), -F.col("old_price").cast(DEC))
        .when(F.col("old_price").isNull(), F.col("o_totalprice").cast(DEC))
        .otherwise(
            F.col("o_totalprice").cast(DEC) - F.col("old_price").cast(DEC)
        )
    )
    # dimensions are immutable, so either side of the join carries them
    deltas = (
        feed.select(
            *[F.coalesce(F.col(c), F.col(f"prev_{c}")).alias(c) for c in dims],
            dn.alias("n_orders"),
            ds.alias("revenue_dec"),
        )
        .groupBy(*dims)
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_dec").alias("revenue_dec"),
        )
    )

    # (c) merge view + deltas, persist the refreshed view
    mv1 = scratch_dir(spark, "ivm_mv_v1")
    shutil.rmtree(mv1, ignore_errors=True)
    (
        spark.read.parquet(mv0)
        .unionByName(deltas)
        .groupBy(*dims)
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_dec").alias("revenue_dec"),
        )
        .filter(F.col("n_orders") > 0)
        .write.mode("overwrite")
        .parquet(mv1)
    )

    # (d) the monthly question answered FROM the refreshed view
    ans = answer_from_mv(
        spark, mv1, ("order_month", "o_orderpriority"), ("n_orders", "revenue_dec")
    )
    return ans.select(
        "order_month",
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        rnd(F.col("revenue_dec").cast("double"), "revenue"),
    )


# ---------------------------------------------------------------------------
# pipeline_hybrid_rrf — hybrid retrieval: BM25 lexical ranking + feature-
# hash cosine ranking, fused with Reciprocal Rank Fusion.

_RRF_K = 60
_RRF_DEPTH = 20
_RRF_TOPK = 10

# The query vector is a pure integer function of the fixed BM25 term
# set, precomputed once and inlined as literals in BOTH engines.
_QDIMS = Counter(
    (ord(t[0]) * 31 + len(t)) % DIMS for t in BM25_TERMS
)
_QQ = sum(w * w for w in _QDIMS.values())
_QV_SQL = ", ".join(f"({d}, {w})" for d, w in sorted(_QDIMS.items()))


@register(
    "pipeline_hybrid_rrf",
    oracle=f"""
WITH {_tok_cte()},
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN {_TERMS_SQL} GROUP BY doc_id, term
),
df AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM tok
       WHERE term IN {_TERMS_SQL} GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1 + (stats.n_docs - df.dfreq + 0.5) / (df.dfreq + 0.5))
           * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))
           * 1000000 + 0.5) AS BIGINT) AS c_q6
  FROM tf
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  JOIN df ON tf.term = df.term
),
lexr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY sum(c_q6) DESC, doc_id)
              AS BIGINT) AS lex_rank
  FROM contrib GROUP BY doc_id
),
dv AS (
  SELECT doc_id, {_dim_sql("term")} AS dim, count(*) AS w
  FROM tok GROUP BY 1, 2
),
cc AS (SELECT doc_id, sum(w * w) AS cc FROM dv GROUP BY doc_id),
qv AS (SELECT * FROM (VALUES {_QV_SQL}) AS t(dim, qw)),
dots AS (
  SELECT doc_id, sum(w * qw) AS dot
  FROM dv JOIN qv USING (dim) GROUP BY doc_id
),
vecr AS (
  SELECT doc_id,
         CAST(row_number() OVER (
           ORDER BY CAST(floor(dot / (sqrt({_QQ}) * sqrt(cc)) * 1000000 + 0.5)
                    AS BIGINT) DESC, doc_id) AS BIGINT) AS vec_rank
  FROM dots JOIN cc USING (doc_id)
),
fused AS (
  SELECT doc_id, lex_rank, vec_rank,
         coalesce(1.0 / ({_RRF_K} + lex_rank), 0.0)
           + coalesce(1.0 / ({_RRF_K} + vec_rank), 0.0) AS rrf
  FROM (SELECT doc_id, lex_rank FROM lexr WHERE lex_rank <= {_RRF_DEPTH}) l
  FULL OUTER JOIN
       (SELECT doc_id, vec_rank FROM vecr WHERE vec_rank <= {_RRF_DEPTH}) v
  USING (doc_id)
)
SELECT doc_id, lex_rank, vec_rank,
       {o_rnd("rrf", "rrf", nd=6)}
FROM fused
QUALIFY row_number() OVER (
    ORDER BY CAST(floor(rrf * 1000000000 + 0.5) AS BIGINT) DESC, doc_id)
  <= {_RRF_TOPK}
""",
)
def pipeline_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.):
    rank documents by BM25 over the fixed query-term set AND by cosine
    of a {DIMS}-dim feature-hash embedding against the query vector,
    keep each system's top {_RRF_DEPTH}, fuse with
    rrf = Σ 1/({_RRF_K} + rank), return the top {_RRF_TOPK}.

    This is the serving plan of a production RAG stack (sparse BM25
    index + dense ANN index + fusion); the two rankings here are the
    repo's text_bm25 and pipeline_rag_retrieval building blocks. Scale:
    one token-stream scan feeds BOTH systems — dl/tf and the
    (doc_id, dim) vector are groupBys of the same explode; each
    system's rank list is depth-bounded ({_RRF_DEPTH} rows) before the
    fusion full-outer join, so the fuse stage is O(depth), not
    O(corpus), exactly like merging posting lists from two index
    tiers. Rank keys are exact integers (6dp-quantized scores, doc_id
    ties), so both lists — and therefore the fused order — are
    partition-count- and engine-invariant."""
    tok = _tokens(spark, sf_dir)

    # --- lexical: BM25 ranking (text_bm25's exact scoring, rank form)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tok.filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    )
    tfn = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(df), "term")
        .select(
            "doc_id",
            F.floor(idf * tfn * 1000000 + 0.5).cast("bigint").alias("c_q6"),
        )
    )
    # top-DEPTH via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, never a one-task global sort); the rank window then runs
    # over DEPTH rows only
    w_lex = Window.orderBy(F.desc("s_q6"), F.asc("doc_id"))
    lexr = (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_q6").alias("s_q6"))
        .orderBy(F.desc("s_q6"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .withColumn("lex_rank", F.row_number().over(w_lex).cast("bigint"))
        .select("doc_id", "lex_rank")
    )

    # --- vector: feature-hash cosine ranking (rag's embedding, doc level)
    dim = F.expr(_dim_sql("term"))
    dv = (
        tok.select("doc_id", dim.alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    cc = dv.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("cc"))
    qv = spark.createDataFrame(
        sorted(_QDIMS.items()), "dim int, qw int"
    )
    dots = (
        dv.join(F.broadcast(qv), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    c6 = F.floor(
        F.col("dot") / (F.sqrt(F.lit(_QQ)) * F.sqrt(F.col("cc"))) * 1000000
        + 0.5
    ).cast("bigint")
    w_vec = Window.orderBy(F.desc("c6"), F.asc("doc_id"))
    vecr = (
        dots.join(cc, "doc_id")
        .withColumn("c6", c6)
        .orderBy(F.desc("c6"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .withColumn("vec_rank", F.row_number().over(w_vec).cast("bigint"))
        .select("doc_id", "vec_rank")
    )

    # --- fuse: depth-bounded lists, RRF, top-k
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0)
    )
    r9 = F.floor(F.col("rrf") * 1000000000 + 0.5).cast("bigint")
    w_f = Window.orderBy(F.desc("r9"), F.asc("doc_id"))
    return (
        lexr.join(vecr, "doc_id", "full_outer")
        .withColumn("rrf", rrf)
        .withColumn("r9", r9)
        .withColumn("fr", F.row_number().over(w_f))
        .filter(F.col("fr") <= _RRF_TOPK)
        .select("doc_id", "lex_rank", "vec_rank", rnd(F.col("rrf"), "rrf", nd=6))
    )


# ---------------------------------------------------------------------------
# pipeline_tokenize_pack — the single-pass "tokenize and pack" pretrain
# preprocessing job: BPE-encode every document (tokenizer.py's trained
# merges) and assign it a slot in the stream of fixed-size context
# windows (pretrain.py's packing), in BPE-token units instead of
# whitespace units.


def _tokenize_pack_oracle() -> str:
    from terasort_spark.operators.pretrain import CONTEXT
    from terasort_spark.operators.tokenizer import (
        N_MERGES,
        _bpe_base_sql,
        _bpe_round_sql,
    )

    parts = [_bpe_base_sql()] + [
        _bpe_round_sql(k) for k in range(1, N_MERGES + 1)
    ]
    return (
        "WITH "
        + ",".join(parts)
        + f""",
vn AS MATERIALIZED (
  SELECT w, CAST(count(*) AS INT) AS n_sub FROM r{N_MERGES} GROUP BY w
),
dw AS MATERIALIZED (
  SELECT doc_id, source, w FROM (
    SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
  ) WHERE length(w) > 0
),
dt AS (
  SELECT doc_id, source,
         CAST(SUM(coalesce(vn.n_sub, length(dw.w) + 1)) AS BIGINT) AS n_bpe
  FROM dw LEFT JOIN vn ON dw.w = vn.w
  GROUP BY doc_id, source
)
SELECT doc_id, source, n_bpe,
       CAST(floor((run - n_bpe) / {CONTEXT}) AS BIGINT) AS bin_id,
       CAST(run - n_bpe - floor((run - n_bpe) / {CONTEXT}) * {CONTEXT}
            AS BIGINT) AS bin_offset
FROM (
  SELECT doc_id, source, n_bpe,
         sum(n_bpe) OVER (PARTITION BY source ORDER BY doc_id) AS run
  FROM dt
)"""
    )


@register("pipeline_tokenize_pack", oracle=_tokenize_pack_oracle())
def pipeline_tokenize_pack(spark, sf_dir):
    """Tokenize-and-pack in one pass: BPE-encode the corpus with the
    trained merge table (text_bpe_train's model), then pack documents
    into fixed-CONTEXT training windows by BPE-TOKEN length — the job
    every pretrain data pipeline runs between curation and batching
    (pack_sequences is its whitespace-unit twin). Emits each doc's
    (source, bin_id, bin_offset) slot plus its BPE token count; a doc
    may straddle two bins, bin_id is where it starts.

    Scale: the ONLY corpus-sized steps are the word histogram (one
    map-side-combined shuffle), the broadcast encode join (vocab-sized
    word→n_sub table onto the exploded token stream — never a per-token
    Python loop), and ONE cumsum per source for the packing. The merge
    loop itself is O(vocab) driver model state, like emb_kmeans
    centroids. Assignment depends only on (source, doc_id order), so
    the physical layout decision is cluster-size-invariant. Oracle:
    the BPE rounds unrolled as in text_bpe_encode, then the packing
    window replayed over BPE counts."""
    from terasort_spark.operators.pretrain import CONTEXT
    from terasort_spark.operators.tokenizer import (
        _word_counts,
        encode_word,
        train_bpe,
    )

    wc = [(r["w"], r["n"]) for r in _word_counts(spark, sf_dir).collect()]
    merges = train_bpe(wc)
    enc_df = spark.createDataFrame(
        [(w, len(encode_word(w, merges))) for w, _n in wc],
        "w string, n_sub int",
    )
    d = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    words = d.select(
        "doc_id", "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") > 0)
    dt = (
        words.join(F.broadcast(enc_df), "w", "left")
        .withColumn("n_sub", F.coalesce(F.col("n_sub"), F.length("w") + 1))
        .groupBy("doc_id", "source")
        .agg(F.sum("n_sub").cast("bigint").alias("n_bpe"))
    )
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("n_bpe").over(win)
    start = run - F.col("n_bpe")
    return dt.select(
        "doc_id",
        "source",
        "n_bpe",
        F.floor(start / CONTEXT).alias("bin_id"),
        (start - F.floor(start / CONTEXT) * CONTEXT)
        .cast("bigint")
        .alias("bin_offset"),
    )


# ---------------------------------------------------------------------------
# pipeline_crawl_frontier — politeness-quota frontier scheduling

FRONTIER_PER_HOST = 4  # URLs per host per crawl round
FRONTIER_ROUNDS = 3  # rounds scheduled ahead


@register(
    "pipeline_crawl_frontier",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rank_in_host
  FROM documents
),
sched AS (
  SELECT CAST((rank_in_host - 1) // {FRONTIER_PER_HOST} + 1 AS INT) AS round,
         source, doc_id, CAST(rank_in_host AS INT) AS rank_in_host
  FROM ranked
  WHERE rank_in_host <= {FRONTIER_PER_HOST * FRONTIER_ROUNDS}
)
SELECT round,
       CAST(row_number() OVER (PARTITION BY round
                               ORDER BY rank_in_host, source, doc_id) AS BIGINT)
         AS pos,
       source, doc_id, rank_in_host
FROM sched
""",
)
def pipeline_crawl_frontier(spark, sf_dir):
    """Crawl-frontier scheduling with per-host politeness quotas: rank
    each host's discovered URLs by priority (here the n_chars quality
    proxy, doc_id tie-break), admit at most FRONTIER_PER_HOST per host
    per round, and interleave each round host-rotating (order by
    rank-within-host first) so no host is hit twice before every host
    got its turn — the scheduler loop of a polite distributed crawler.

    Scale: the rank <= quota*rounds filter collapses to a
    WindowGroupLimit under the per-host window — each host's frontier
    beyond the scheduled horizon is pruned before the sort, so the
    schedule costs one host-keyed exchange over a bounded subset, not
    a global sort of the frontier. Exact oracle: same two windows in
    DuckDB."""
    d = table(spark, sf_dir, "documents")
    wh = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    ranked = d.select(
        "source",
        "doc_id",
        F.row_number().over(wh).alias("rank_in_host"),
    ).filter(
        F.col("rank_in_host") <= FRONTIER_PER_HOST * FRONTIER_ROUNDS
    )
    sched = ranked.withColumn(
        "round",
        (
            (F.col("rank_in_host") - 1) / FRONTIER_PER_HOST
        ).cast("int")
        + 1,
    )
    wr = Window.partitionBy("round").orderBy(
        "rank_in_host", "source", "doc_id"
    )
    return sched.select(
        F.col("round").cast("int").alias("round"),
        F.row_number().over(wr).cast("bigint").alias("pos"),
        "source",
        "doc_id",
        F.col("rank_in_host").cast("int").alias("rank_in_host"),
    )


@register(
    "etl_upsert",
    oracle="""
SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
       coalesce(u.o_custkey, b.o_custkey) AS o_custkey,
       CASE WHEN u.o_orderkey IS NOT NULL THEN 'X' ELSE b.o_orderstatus END
           AS o_orderstatus,
       coalesce(u.o_totalprice * 1.1, b.o_totalprice) AS raw_price
FROM orders b
FULL JOIN (SELECT * FROM orders WHERE o_orderkey % 10 = 0) u
  ON b.o_orderkey = u.o_orderkey
""",
)
def etl_upsert(spark, sf_dir):
    """MERGE/upsert emulation on plain parquet (no table format): base
    FULL OUTER JOIN updates, coalescing per column. Every 10th order is
    'updated' (status->X, price*1.1). At 100 TB this is the standard
    pre-Delta CDC apply: one shuffle on the merge key, or shuffle-free
    when base and updates share a bucketed layout
    (tests/test_scale_patterns.py). Note raw_price is intentionally
    unrounded: coalesce of identical doubles is exact cross-engine."""
    base = table(spark, sf_dir, "orders").alias("b")
    updates = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .alias("u")
    )
    j = base.join(updates, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full")
    return j.select(
        F.coalesce("u.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
        F.coalesce("u.o_custkey", "b.o_custkey").alias("o_custkey"),
        F.when(F.col("u.o_orderkey").isNotNull(), F.lit("X"))
        .otherwise(F.col("b.o_orderstatus"))
        .alias("o_orderstatus"),
        F.coalesce(F.col("u.o_totalprice") * 1.1, F.col("b.o_totalprice")).alias(
            "raw_price"
        ),
    )
