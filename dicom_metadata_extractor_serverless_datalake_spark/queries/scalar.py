"""Scalar-function corpus (SURVEY §2.B row: scalar functions) — string,
date, conditional, JSON, array, struct/map, binary families. These mirror
the reference's query-side needs: date handling like convert_DA
(src/utils/tags.py:18-35), arrays for VM>1 columns, maps for extra_tags,
JSON for event payloads, base64/binary like convert_OB
(src/utils/tags.py:38-48)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import query, sql_query, t

# --------------------------------------------------------------------------
# q40 — string functions (shared dialect subset runs verbatim on both).
# --------------------------------------------------------------------------

sql_query(
    "q40_string_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_type, 1, 6) AS type_pfx,
           concat(p_brand, '#', p_type) AS brand_type,
           length(p_name) AS name_len,
           replace(p_brand, 'Brand', 'B') AS brand_short
    FROM part
    WHERE p_type LIKE '%M%' AND p_partkey <= 1000
    ORDER BY p_partkey
    """,
    category="scalar",
)


@query(
    "q41_regexp",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
    FROM part WHERE p_partkey <= 500 ORDER BY p_partkey
    """,
    category="scalar",
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "part")
        .filter(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
            F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# q42 — date/time functions. DuckDB spells datediff/date_add differently,
# so the oracle diverges textually but matches semantically.
# --------------------------------------------------------------------------


@query(
    "q42_date_funcs",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           dayofmonth(o_orderdate) AS d,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_ts,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
    FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey
    """,
    category="scalar",
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).cast("timestamp").alias("due_ts"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q43 — conditional logic: CASE / coalesce / nullif (shared dialect).
# --------------------------------------------------------------------------

sql_query(
    "q43_conditional",
    """
    SELECT bal_bucket, COUNT(*) AS n
    FROM (
      SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                  WHEN c_acctbal < 1000 THEN 'low'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS bal_bucket
      FROM customer
    ) GROUP BY bal_bucket ORDER BY bal_bucket
    """,
    category="scalar",
)

sql_query(
    "q44_null_funcs",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
           CASE WHEN c_acctbal IS NULL THEN -1.0 ELSE c_acctbal END AS bal
    FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey
    """,
    category="scalar",
)


# --------------------------------------------------------------------------
# q45 — JSON extraction from the events payload column.
# --------------------------------------------------------------------------


@query(
    "q45_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    category="scalar",
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q46 — array functions over tokenized text (documents table).
# --------------------------------------------------------------------------


@query(
    "q46_array_funcs",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ' ')
             AS first5_sorted
    FROM documents WHERE doc_id < 100 ORDER BY doc_id
    """,
    category="scalar",
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_unique"),
            F.array_contains(toks, "spark").alias("has_spark"),
            F.array_join(F.slice(F.sort_array(F.array_distinct(toks)), 1, 5), " ").alias("first5_sorted"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q47 — struct/map construction + field access (the PN-struct /
# extra_tags-map query pattern from the lake schema, flattened for the
# cross-engine hash).
# --------------------------------------------------------------------------


@query(
    "q47_struct_map",
    oracle="""
    SELECT c_custkey,
           c_name AS struct_name,
           c_mktsegment AS map_seg
    FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey
    """,
    category="scalar",
    doc="builds named_struct + map in Spark, projects fields back out; the "
    "oracle states the expected round-tripped values.",
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "customer")
        .filter(F.col("c_custkey") <= 200)
        .withColumn("s", F.struct(F.col("c_name").alias("name"), F.col("c_acctbal").alias("bal")))
        .withColumn("m", F.create_map(F.lit("seg"), F.col("c_mktsegment")))
        .select(
            "c_custkey",
            F.col("s.name").alias("struct_name"),
            F.element_at("m", "seg").alias("map_seg"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# q48 — binary/multimodal plumbing: text -> bytes -> length/digest/base64.
# The generic opaque-binary column pattern proven by the DICOM path
# (content bytes + typed metadata), exercised on the documents table.
# --------------------------------------------------------------------------


@query(
    "q48_binary_funcs",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS digest,
           substring(base64(encode(text)), 1, 16) AS b64_prefix
    FROM documents WHERE doc_id < 50 ORDER BY doc_id
    """,
    category="multimodal",
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    bin_col = F.encode(F.col("text"), "UTF-8")
    return (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") < 50)
        .select(
            "doc_id",
            F.octet_length(bin_col).alias("n_bytes"),
            F.md5(bin_col).alias("digest"),
            F.substring(F.base64(bin_col), 1, 16).alias("b64_prefix"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q49 — distinct + math functions.
# --------------------------------------------------------------------------

sql_query(
    "q49_distinct_math",
    """
    SELECT DISTINCT
           c_nationkey,
           CAST(floor(c_acctbal / 1000) * 1000 AS DOUBLE) AS bal_floor
    FROM customer
    ORDER BY c_nationkey, bal_floor
    """,
    category="scalar",
)
