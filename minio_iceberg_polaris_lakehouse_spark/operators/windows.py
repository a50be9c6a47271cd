"""Window-function surface (SURVEY.md §2.5 — absent in the reference,
exposed as engine breadth: row_number/rank/dense_rank/lag/lead/ntile and
framed running aggregates).

Scale notes: every window here partitions by a real entity key (segment,
customer) — never an empty OVER () on a fact table, which would serialize
100 TB through one task. Running sums use the decimal-exact idiom so frame
accumulation order cannot produce cross-engine ulp drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


@register(
    "win_top3_per_segment",
    oracle="""
    SELECT segment, c_custkey, c_acctbal, CAST(rn AS INT) AS rn FROM (
        SELECT c_mktsegment AS segment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer) t
    WHERE rn <= 3
    ORDER BY segment, rn
    """,
)
def win_top3_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per market segment via ROW_NUMBER (the
    grouped top-k idiom; Spark runs it as a single shuffle on the partition
    key with rank pushdown via WindowGroupLimit)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.select(
            F.col("c_mktsegment").alias("segment"),
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("int").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .transform(sort_result, "segment", "rn")
    )


@register(
    "win_rank_dense_rank",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS INT) AS size_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS INT) AS size_dense_rank
    FROM part
    ORDER BY p_brand, size_rank, p_partkey
    """,
)
def win_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK vs DENSE_RANK with real ties (p_size is low-cardinality)."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
    return p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).cast("int").alias("size_rank"),
        F.dense_rank().over(w).cast("int").alias("size_dense_rank"),
    ).orderBy("p_brand", "size_rank", "p_partkey")


@register(
    "win_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD across each customer's order history."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend (cumulative frame), decimal-exact."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(26,8)")).over(w).cast("double").alias("running_spend"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "win_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-order moving average per customer (bounded ROWS frame)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(F.col("o_totalprice").cast("decimal(26,8)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("moving_avg_3"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "win_ntile",
    oracle="""
    SELECT c_custkey, CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT) AS balance_quartile
    FROM customer
    ORDER BY c_custkey
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles by account balance. (Global window — acceptable on
    dimension-sized inputs; a fact-scale bucketing would use percent_rank
    over pre-aggregated keys instead.)"""
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey", F.ntile(4).over(w).cast("int").alias("balance_quartile")
    ).orderBy("c_custkey")


@register(
    "win_first_last",
    oracle="""
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE with an explicit full frame for LAST."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            F.first("o_orderkey").over(w).alias("first_orderkey"),
            F.last("o_orderkey").over(wfull).alias("last_orderkey"),
        )
        .distinct()
        .orderBy("o_custkey")
    )
