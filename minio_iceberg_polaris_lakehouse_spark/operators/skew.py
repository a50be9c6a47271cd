"""Skew-handling operators (100 TB design point): salting for hot keys in
aggregations and joins. AQE's skew-join splitting (on in session.py)
handles sort-merge skew at runtime; salting is the explicit fallback for
aggregation hot keys and for broadcast-ineligible skewed joins.

The salted aggregation is oracle-checked: two-phase (salted partial →
final) must produce byte-identical results to the direct aggregation —
decimal accumulation makes that exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result

SALT_BUCKETS = 16


def _content_salt(df: DataFrame, buckets: int) -> Column:
    """Deterministic row-content salt: xxhash64 over every column, with
    map-typed columns routed through to_json (Spark's hash functions
    reject MapType — a raw xxhash64(*all_cols) would fail analysis on
    any frame carrying a map). Stable across task retries and stage
    re-computation, unlike a monotonically_increasing_id salt."""
    cols = [
        # 'map<' ANYWHERE in the type: xxhash64 also rejects MapType
        # nested inside arrays/structs, not just top-level maps
        F.to_json(F.col(c)) if "map<" in t else F.col(c)
        for c, t in df.dtypes
    ]
    return F.pmod(F.xxhash64(*cols), F.lit(buckets))


def salted_sum(df: DataFrame, key: str, value: Column, alias: str, buckets: int = SALT_BUCKETS) -> DataFrame:
    """Two-phase skew-proof SUM: phase 1 aggregates on (key, salt) —
    spreading a hot key over `buckets` reducers — phase 2 merges the
    per-salt partials. Exact because the accumulator is DECIMAL.

    The salt is CONTENT-DERIVED (_content_salt), so it is stable across
    task retries and stage re-computation — a
    monotonically_increasing_id-based salt would re-deal rows to
    different buckets on retry, which is only safe for commutative
    aggregates and a foot-gun in a public helper. Identical rows land
    in the same bucket, which still spreads a hot KEY whose rows differ
    in their other columns; a hot key of FULLY identical rows (pure
    duplicate counting) keeps one bucket — pre-aggregate duplicates
    first for that shape."""
    salted = df.withColumn("_salt", _content_salt(df, buckets))
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(value.cast("decimal(26,8)")).alias("_partial"), F.count("*").alias("_n")
    )
    return partial.groupBy(key).agg(
        F.sum("_partial").cast("double").alias(alias),
        F.sum("_n").cast("long").alias("n_rows"),
    )


@register(
    "skew_salted_groupby",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(26,8))) AS DOUBLE) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def skew_salted_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted aggregation over a 3-value key (maximal skew: every key is
    hot). Result must equal the direct GROUP BY — the oracle IS the direct
    form, so this checks the rewrite's exactness."""
    l = load_table(spark, sf_dir, "lineitem")
    return salted_sum(l, "l_returnflag", F.col("l_extendedprice"), "total_price").transform(
        sort_result, "l_returnflag"
    )


def salted_join(
    facts: DataFrame, dim: DataFrame, key: str, buckets: int = SALT_BUCKETS
) -> DataFrame:
    """Skewed fact⋈dim join when dim is too big to broadcast: salt the fact
    side, replicate the dim side across all salts — hot fact keys spread
    over `buckets` tasks at the cost of buckets× dim shuffle volume."""
    salted_facts = facts.withColumn("_salt", _content_salt(facts, buckets))
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return salted_facts.join(replicated_dim, [key, "_salt"]).drop("_salt")


@register(
    "skew_salted_join",
    oracle="""
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicate-join (dim treated as broadcast-ineligible for the
    demo); result must equal the plain join."""
    c = load_table(spark, sf_dir, "customer").withColumnRenamed("c_nationkey", "nationkey")
    n = load_table(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "nationkey")
    joined = salted_join(c, n, "nationkey")
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
        .transform(sort_result, "nation")
    )
