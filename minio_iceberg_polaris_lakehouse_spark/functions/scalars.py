"""Scalar-function surface: string, date/time, math, conditional, JSON and
array functions (SURVEY.md §2.8 — the reference only exercises CAST; the
rest is engine breadth, all JVM-side built-ins inside whole-stage codegen).

Cross-engine notes baked into each oracle:
- DuckDB year()/month()/day() return BIGINT, Spark's return INT → cast.
- Transcendental fns (ln, exp) can differ in the last ulp between libm
  implementations → results rounded to 6 dp on both sides.
- Spark `get_json_object` ≡ DuckDB `json_extract_string` for scalar paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


@register(
    "fn_string_suite",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           CAST(LENGTH(c_name) AS INT) AS name_len,
           CONCAT(c_name, ':', c_mktsegment) AS name_seg,
           REPLACE(c_name, '#', '-') AS name_dashed,
           TRIM(c_name) AS name_trim,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           (c_name LIKE '%1%') AS has_one
    FROM customer
    ORDER BY c_custkey
    """,
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function coverage: upper/lower/substring/length/concat/
    replace/trim/lpad/like."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("int").alias("name_len"),
        F.concat_ws(":", "c_name", "c_mktsegment").alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.trim("c_name").alias("name_trim"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.col("c_name").like("%1%").alias("has_one"),
    ).orderBy("c_custkey")


@register(
    "fn_date_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           CAST(DAYOFMONTH(o_orderdate) AS INT) AS order_day,
           CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE) + 30 AS due_date
    FROM orders
    ORDER BY o_orderkey
    """,
)
def fn_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time extraction + truncation + date arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
    ).orderBy("o_orderkey")


@register(
    "fn_math_suite",
    oracle="""
    SELECT p_partkey,
           ROUND(p_retailprice, 1) AS price_r1,
           CAST(ABS(p_retailprice - 1000.0) AS DOUBLE) AS dist_from_1k,
           CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
           ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
           ROUND(LN(p_retailprice + 1.0), 6) AS price_ln,
           p_retailprice * p_retailprice AS price_sq,
           CAST(p_size % 5 AS INT) AS size_mod5
    FROM part
    ORDER BY p_partkey
    """,
)
def fn_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function coverage; ln/sqrt rounded to 6 dp (libm ulp drift)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_r1"),
        F.abs(F.col("p_retailprice") - 1000.0).cast("double").alias("dist_from_1k"),
        F.ceil("p_retailprice").cast("long").alias("price_ceil"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1.0), 6).alias("price_ln"),
        (F.col("p_retailprice") * F.col("p_retailprice")).alias("price_sq"),
        (F.col("p_size") % 5).cast("int").alias("size_mod5"),
    ).orderBy("p_partkey")


@register(
    "fn_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                ELSE 'low' END AS urgency,
           CASE WHEN o_totalprice >= 200000.0 THEN 'big' ELSE 'small' END AS size_class
    FROM orders
    ORDER BY o_orderkey
    """,
)
def fn_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN conditional logic."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("low")
        .alias("urgency"),
        F.when(F.col("o_totalprice") >= 200000.0, "big").otherwise("small").alias("size_class"),
    ).orderBy("o_orderkey")


@register(
    "fn_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1
    ORDER BY k_bucket
    """,
)
def fn_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events `props` column (JSON-ish
    string per FIXTURES.md), bucketed to keep output stable."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select((F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"))
        .transform(sort_result, "k_bucket")
    )


@register(
    "fn_array_suite",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_component,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_component
    FROM embeddings
    ORDER BY vec_id
    """,
)
def fn_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function coverage over the embedding column: size, element
    access, min/max. (DuckDB arrays are 1-based, Spark 0-based — handled.)"""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("int").alias("dim"),
        F.round(F.col("embedding").getItem(0).cast("double"), 6).alias("first_component"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_component"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_component"),
    ).orderBy("vec_id")


@register(
    "fn_coalesce_nullif",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           (c_acctbal IS NULL) AS bal_is_null,
           IFNULL(NULL, c_custkey) AS key_filled
    FROM customer
    ORDER BY c_custkey
    """,
)
def fn_coalesce_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar functions: coalesce/nullif/isnull/ifnull."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.isnull("c_acctbal").alias("bal_is_null"),
        F.ifnull(F.lit(None).cast("long"), F.col("c_custkey")).alias("key_filled"),
    ).orderBy("c_custkey")


@register(
    "fn_variant_suite",
    oracle="""
    WITH j AS (
        SELECT doc_id,
               '{"chars":' || n_chars || ',"lang":"' || lang ||
               '","tags":["' || source || '"]}' AS js
        FROM documents)
    SELECT doc_id,
           CAST(json_extract(js, '$.chars') AS INT) AS v_chars,
           json_extract_string(js, '$.lang') AS v_lang,
           json_extract_string(js, '$.tags[0]') AS first_tag,
           CAST(NULL AS INT) AS missing_field,
           js AS roundtrip
    FROM j
    ORDER BY doc_id
    """,
)
def fn_variant_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type (Spark 4's native variant, the type
    Iceberg v3 standardizes): parse_json into a variant column, typed
    path extraction with variant_get, missing-path NULL semantics via
    try_variant_get, and to_json round-trip. The JSON is constructed with
    alphabetical keys so Spark's canonical (sorted-key) to_json output
    is byte-identical to the oracle's source string. Variant's binary
    encoding is columnar-friendly: at 100 TB, shredded access like
    `$.chars` reads the encoded value without a string re-parse per row
    — exactly why it replaces JSON-string columns in modern pipelines."""
    d = load_table(spark, sf_dir, "documents")
    js = F.concat(
        F.lit('{"chars":'),
        F.col("n_chars").cast("string"),
        F.lit(',"lang":"'),
        F.col("lang"),
        F.lit('","tags":["'),
        F.col("source"),
        F.lit('"]}'),
    )
    v = d.select("doc_id", F.parse_json(js).alias("v"))
    return v.selectExpr(
        "doc_id",
        "variant_get(v, '$.chars', 'int') AS v_chars",
        "variant_get(v, '$.lang', 'string') AS v_lang",
        "variant_get(v, '$.tags[0]', 'string') AS first_tag",
        "try_variant_get(v, '$.missing', 'int') AS missing_field",
        "to_json(v) AS roundtrip",
    ).orderBy("doc_id")
