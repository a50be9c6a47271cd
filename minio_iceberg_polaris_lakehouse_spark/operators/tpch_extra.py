"""Additional TPC-H-shaped analytics (distribution, big-order, supplier
chain) — join+aggregation diversity on the fact tables.

All follow the engine determinism rules (decimal sums, aliased columns,
tiebreakered ORDER BY)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.operators.relational import dsum
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


@register(
    "rel_q13_order_distribution",
    oracle="""
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey) t
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
)
def rel_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer (double
    aggregation over an outer join, zero-order customers included)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .transform(sort_result, F.desc("n_customers"), F.desc("n_orders"))
    )


@register(
    "rel_q18_large_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(26,8))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(26,8))) > 150)
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 25
    """,
)
def rel_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-quantity orders
    (IN-subquery over a grouped HAVING → semi join of an aggregate)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(26,8)")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .groupBy(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
        )
        .agg(dsum("l_quantity", "total_qty"))
        .select("c_name", "o_orderkey", "orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


@register(
    "rel_q20_supplier_chain",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(26,8))) >
               (SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(26,8))) AS DOUBLE) * 0.012
                FROM lineitem l2
                WHERE l2.l_shipdate >= TIMESTAMP '1997-01-01' AND l2.l_shipdate < TIMESTAMP '1998-01-01'))
    ORDER BY s.s_suppkey
    """,
)
def rel_q20_supplier_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped >1.2% of a year's total volume
    (nested aggregate subqueries → scalar + semi join)."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    # the year total stays a 1-row broadcast joined into the plan — no
    # driver-side collect, the whole query remains one lazy plan
    total = l.agg(F.sum(F.col("l_quantity").cast("decimal(26,8)")).cast("double").alias("t"))
    heavy = (
        l.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(26,8)")).alias("q"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("q") > F.col("t") * 0.012)
        .select("l_suppkey")
    )
    return (
        s.join(heavy.withColumnRenamed("l_suppkey", "s_suppkey"), "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
