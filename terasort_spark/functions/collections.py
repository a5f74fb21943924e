"""Array / explode / map / JSON / hash function families (SURVEY.md §2b).

Array higher-order functions (transform/filter/aggregate) run JVM-side —
the idiomatic-Spark alternative to Python UDFs for nested data. DuckDB
twins: list_transform/list_filter/list_sum, with type casts where the
engines' integer widths differ.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import register


@register(
    "fn_array",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       list_contains(string_split(text, ' '), 'spark') AS has_spark,
       array_to_string(list_slice(string_split(text, ' '), 1, 3), '|') AS first3,
       array_to_string(
           list_sort(list_distinct(list_slice(string_split(text, ' '), 1, 10))),
           '|') AS distinct10,
       array_to_string(
           list_transform(list_slice(string_split(text, ' '), 1, 3),
                          x -> upper(x)),
           '|') AS first3_upper,
       array_to_string(
           list_filter(list_slice(string_split(text, ' '), 1, 10),
                       x -> length(x) > 4),
           '|') AS long_tokens,
       CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x)))
            AS BIGINT) AS total_chars
FROM documents
WHERE doc_id < 100
""",
)
def fn_array(spark, sf_dir):
    # Array HOFs exercised JVM-side; every array-typed intermediate is
    # array_join'd to a scalar string before leaving the query (declared
    # outputs never carry ArrayType — see registry D5).
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.slice(toks, 1, 3), "|").alias("first3"),
        F.array_join(
            F.sort_array(F.array_distinct(F.slice(toks, 1, 10))), "|"
        ).alias("distinct10"),
        F.array_join(
            F.transform(F.slice(toks, 1, 3), lambda x: F.upper(x)), "|"
        ).alias("first3_upper"),
        F.array_join(
            F.filter(F.slice(toks, 1, 10), lambda x: F.length(x) > 4), "|"
        ).alias("long_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
    )


@register(
    "fn_explode",
    oracle="""
SELECT doc_id, unnest(string_split(text, ' ')) AS word
FROM documents
WHERE doc_id < 50
""",
)
def fn_explode(spark, sf_dir):
    # UNNEST / lateral view: one output row per token. At scale this is
    # the fan-out step of the wordcount pipeline; Spark keeps it pipelined
    # inside codegen (no shuffle until the downstream groupBy).
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))


@register(
    "fn_map",
    oracle="""
SELECT doc_id,
       (struct_pack(lang := lang, nc := n_chars)).lang AS st_lang,
       (struct_pack(lang := lang, nc := n_chars)).nc AS st_nchars,
       CAST(cardinality(MAP {'lang': lang, 'source': source}) AS INTEGER)
           AS m_size,
       array_to_string(list_sort(map_keys(MAP {'lang': lang, 'source': source})),
                       '|') AS m_keys,
       (MAP {'lang': lang, 'source': source}['lang'])[1] AS m_lang
FROM documents
WHERE doc_id < 100
""",
)
def fn_map(spark, sf_dir):
    # Struct + map construction and access, flattened to scalar columns
    # (D5: no raw struct/map columns in hashed output).
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    st = F.struct(F.col("lang").alias("lang"), F.col("n_chars").alias("nc"))
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return d.select(
        "doc_id",
        st.getField("lang").alias("st_lang"),
        st.getField("nc").alias("st_nchars"),
        F.size(m).alias("m_size"),
        F.array_join(F.sort_array(F.map_keys(m)), "|").alias("m_keys"),
        F.element_at(m, "lang").alias("m_lang"),
    )


@register(
    "fn_json",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
       CAST(json_extract_string(props, '$.k') AS INTEGER) * 2 AS k_doubled
FROM events
WHERE event_id < 500
""",
)
def fn_json(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    k = F.get_json_object(F.col("props"), "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
        (k.cast("int") * 2).alias("k_doubled"),
    )


@register(
    "fn_hash",
    oracle="""
SELECT doc_id,
       md5(text) AS text_md5,
       sha256(text) AS text_sha256,
       md5(concat(lang, ':', text)) AS salted_md5
FROM documents
WHERE doc_id < 200
""",
)
def fn_hash(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("text"))).alias("salted_md5"),
    )


@register(
    "fn_sequence",
    # The oracle unrolls the three slots as start + k*INTERVAL rather
    # than using generate_series: DuckDB's generate_series accumulates
    # the step ITERATIVELY (Jan 29 -> Feb 28 -> Mar 28, the clamp
    # sticks), while Spark's sequence() computes start + k*month
    # (Jan 29 + 2 months = Mar 29). The two agree except for month-end
    # dates crossing February — absent at sf0.01, 5 rows at sf0.1.
    oracle="""
SELECT o_orderkey, CAST(unnest([
           o_orderdate,
           o_orderdate + INTERVAL 1 MONTH,
           o_orderdate + INTERVAL 2 MONTH
       ]) AS DATE) AS bill_month
FROM orders
WHERE o_orderkey % 1000 = 0
""",
)
def fn_sequence(spark, sf_dir):
    """Date-sequence generation (calendar spine): three monthly billing
    dates per order — sequence() + explode, the idiom behind date
    scaffolds, gap-filling, and schedule expansion. DuckDB twin is
    generate_series + unnest.

    Scale notes: explode multiplies rows by a bounded constant (3) in
    the scan stage — narrow transformation, no shuffle; the o_orderkey
    filter reaches the parquet scan first."""
    o = table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderkey") % 1000 == 0)
        .select(
            "o_orderkey",
            F.explode(
                F.sequence(
                    # o_orderdate is stored as TIMESTAMP (FIXTURES.md);
                    # spine slots are calendar DATEs on both engines.
                    F.col("o_orderdate").cast("date"),
                    F.add_months(F.col("o_orderdate").cast("date"), 2),
                    F.expr("INTERVAL 1 MONTH"),
                )
            ).alias("bill_month"),
        )
    )


@register(
    "fn_array2",
    oracle="""
SELECT doc_id,
       list_bool_or(list_transform(string_split(text, ' '), w -> length(w) > 8))
           AS any_long,
       list_bool_and(list_transform(string_split(text, ' '), w -> length(w) > 1))
           AS all_multichar,
       CAST(list_position(string_split(text, ' '), 'data') AS INTEGER) AS data_pos,
       array_to_string(list_slice(string_split(text, ' '), 1, 5), '_') AS joined5,
       array_to_string(
           list_sort(list_transform([1, 2, 3], i -> CAST(i * 10 AS BIGINT))),
           '|') AS tens
FROM documents
WHERE doc_id < 100
""",
)
def fn_array2(spark, sf_dir):
    # exists/forall/array_position/array_join + a constructed literal
    # array — the predicate HOFs that replace per-row Python loops.
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.exists(toks, lambda w: F.length(w) > 8).alias("any_long"),
        F.forall(toks, lambda w: F.length(w) > 1).alias("all_multichar"),
        F.array_position(toks, "data").cast("int").alias("data_pos"),
        F.array_join(F.slice(toks, 1, 5), "_").alias("joined5"),
        F.array_join(
            F.sort_array(
                F.transform(
                    F.array(F.lit(1), F.lit(2), F.lit(3)),
                    lambda i: (i * 10).cast("long"),
                )
            ).cast("array<string>"),
            "|",
        ).alias("tens"),
    )
