"""Set operations (SURVEY.md §2.7 — absent in the reference; standard SQL
semantics: UNION/INTERSECT/EXCEPT are distinct-ing, ALL variants keep
duplicates)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


def _cust_nations(spark, sf_dir) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").cast("int").alias("nationkey"))
    )


def _supp_nations(spark, sf_dir) -> DataFrame:
    return (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").cast("int").alias("nationkey"))
    )


@register(
    "set_union_distinct",
    oracle="""
    SELECT nationkey FROM (
        SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        UNION
        SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
    ORDER BY nationkey
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): nations that have customers or suppliers."""
    u = _cust_nations(spark, sf_dir).union(_supp_nations(spark, sf_dir))
    return sort_result(u.distinct(), "nationkey")


@register(
    "set_union_all_counts",
    oracle="""
    SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        UNION ALL
        SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
    GROUP BY nationkey
    ORDER BY nationkey
    """,
)
def set_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL preserves duplicates (counted per key to keep output small)."""
    u = _cust_nations(spark, sf_dir).unionAll(_supp_nations(spark, sf_dir))
    return sort_result(u.groupBy("nationkey").agg(F.count("*").alias("n")), "nationkey")


def _urgent_custkeys(spark, sf_dir) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").cast("bigint").alias("custkey"))
    )


def _low_custkeys(spark, sf_dir) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "5-LOW")
        .select(F.col("o_custkey").cast("bigint").alias("custkey"))
    )


@register(
    "set_intersect",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
    ORDER BY custkey
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers who placed both an urgent AND a low-priority
    order — a selective result (neither side's superset), so the driver
    hash actually exercises the distinct-ing intersection, unlike the
    original nations variant whose result equaled the full key domain."""
    return _urgent_custkeys(spark, sf_dir).intersect(_low_custkeys(spark, sf_dir)).orderBy("custkey")


@register(
    "set_except",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
    ORDER BY custkey
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers who placed an urgent order but never a
    low-priority one — non-empty AND a strict subset of the left side at
    every test SF, so the driver hash can't pass vacuously (the original
    nations variant returned 0 rows: every nation has both customers and
    suppliers). `subtract` is Spark's EXCEPT DISTINCT (exceptAll would
    only cancel per-occurrence)."""
    return _urgent_custkeys(spark, sf_dir).subtract(_low_custkeys(spark, sf_dir)).orderBy("custkey")
