"""UDF surface (SURVEY.md §2.13 — absent in the reference, EXT scope):
Arrow-batched scalar pandas UDFs, grouped applyInPandas, and a
row-at-a-time Python UDF kept deliberately trivial (the slow path exists
for API completeness; every hot-path kernel in this engine is either a
JVM built-in or a vectorized pandas UDF — SNIPPETS.md patterns are the
public idiom this follows).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


def make_vector_norm():
    """Arrow-vectorized L2 norm of an array<float> column: each batch
    arrives as a pandas Series of numpy arrays; math in float64. Built
    lazily — pandas_udf needs an active session to parse the return type."""

    @pandas_udf("double")
    def vector_norm(emb: pd.Series) -> pd.Series:
        import numpy as np

        return emb.map(lambda v: float(np.sqrt(np.sum(np.asarray(v, dtype="float64") ** 2))))

    return vector_norm


@register(
    "udf_vector_norm",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
               AS norm
    FROM embeddings
    ORDER BY vec_id
    """,
)
def udf_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow batches) computing embedding norms —
    oracle-checked against the equivalent SQL expression."""
    e = load_table(spark, sf_dir, "embeddings")
    vector_norm = make_vector_norm()
    return e.select("vec_id", F.round(vector_norm("embedding"), 6).alias("norm")).orderBy(
        "vec_id"
    )


@register(
    "udf_grouped_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) - MIN(n_chars) AS BIGINT) AS char_range
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def udf_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map UDF: per-language stats computed in pandas
    (integer arithmetic → exact parity with the SQL oracle). The group key
    is the shuffle key; each group materializes as one pandas frame, so at
    scale the key must be bounded-cardinality-per-group — `lang` is."""

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [len(pdf)],
                "total_chars": [int(pdf["n_chars"].sum())],
                "char_range": [int(pdf["n_chars"].max() - pdf["n_chars"].min())],
            }
        )

    d = load_table(spark, sf_dir, "documents")
    out = d.groupBy("lang").applyInPandas(
        stats, "lang string, n_docs bigint, total_chars bigint, char_range bigint"
    )
    return out.transform(sort_result, "lang")


@register(
    "udf_row_python",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
                ELSE 'standard' END AS handling
    FROM orders
    ORDER BY o_orderkey
    LIMIT 200
    """,
)
def udf_row_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path — ~10-100× behind pandas
    UDFs; capped with LIMIT and never used in hot paths)."""

    @F.udf("string")
    def handling(priority: str) -> str:
        return "expedite" if priority in ("1-URGENT", "2-HIGH") else "standard"

    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", handling("o_orderpriority").alias("handling"))
        .orderBy("o_orderkey")
        .limit(200)
    )


def make_median_agg():
    """Grouped-aggregate pandas UDFs: the whole group's column arrives as
    one Series, returns one scalar. Built lazily (needs a session). Spark
    cannot mix grouped-agg pandas UDFs with JVM aggregates in one agg()
    (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a pandas agg too."""

    @pandas_udf("double")
    def median_price(v: pd.Series) -> float:
        import numpy as np

        return float(np.median(v.to_numpy(dtype="float64")))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    return median_price, n_rows


@register(
    "agg_median_approx",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           quantile_disc(o_totalprice, 0.5) AS median_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RECOMMENDED scale path for grouped medians: JVM-side
    `percentile_approx` — a mergeable Greenwald-Khanna sketch with map-side
    partial aggregation, so no group is ever buffered whole (unlike the
    grouped-agg pandas UDF twin `udf_grouped_agg_median`, which is the API
    demo). With accuracy >= group size the sketch degenerates to exact and
    returns the lower-middle element — precisely DuckDB's
    `quantile_disc(x, 0.5)`, making this oracle-exact at test SFs while at
    100 TB the same plan keeps the sketch bounded at ~1e6 entries/group."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.percentile_approx("o_totalprice", 0.5, 1000000).alias("median_price"),
        )
        .transform(sort_result, "o_orderstatus")
    )


@register(
    "udf_grouped_agg_median",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(median(o_totalprice), 6) AS median_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def udf_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-AGG pandas UDF — the API DEMO of the third pandas-UDF flavor
    (next to scalar and grouped-map), NOT the recommended path: a
    grouped-agg UDF buffers one whole group per call, which is a
    scale-killer for large groups. The production twin is
    `agg_median_approx` (JVM percentile_approx sketch, map-side partials,
    bounded memory) — use that at 100 TB. numpy's interpolated median
    matches SQL median() on doubles."""
    median_price, n_rows = make_median_agg()
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            n_rows("o_totalprice").alias("n_orders"),
            F.round(median_price("o_totalprice"), 6).alias("median_price"),
        )
        .transform(sort_result, "o_orderstatus")
    )


@register(
    "udf_python_udtf",
    oracle="""
    WITH cents AS (
        SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE o_orderkey <= 300)
    SELECT o_orderkey,
           CAST(g.i AS INT) AS installment,
           CAST(CASE WHEN g.i < 3 THEN c // 3
                     ELSE c - 2 * (c // 3)
                END AS BIGINT) AS amount_cents
    FROM cents CROSS JOIN generate_series(1, 3) AS g(i)
    ORDER BY o_orderkey, installment
    """,
)
def udf_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF (table function) — the row-expanding member of
    the §2.13 UDF surface: each order fans out to a 3-installment payment
    schedule via a LATERAL table-function call in SQL. INTEGER-ONLY
    end-to-end (r8 postmortem — the golden hash-failed twice in the
    driver with ROUND-derived DECIMAL output while passing every local
    replica): cents derive from FLOOR(o_totalprice * 100), which is
    binary-exact on the identical IEEE double both engines read from the
    same parquet — immune to half-up-on-repr vs half-away-on-binary
    ROUND divergence and to oracle-side version drift — and the output
    column is BIGINT cents, so no DECIMAL rendering is hashed at all.
    Row-at-a-time Python, so — like `udf_row_python` — it is the API
    demo, capped by a selective predicate, never a hot path (the
    set-based twin is the oracle's own CROSS JOIN generate_series form,
    which Spark would run JVM-side)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="installment int, amount_cents bigint")
    class Installments:
        def eval(self, cents):
            # purely INTEGER arithmetic in AND out: the double→cents
            # FLOOR runs IN-PLAN, never in Python
            if cents is None:
                return
            base_cents = cents // 3
            yield 1, base_cents
            yield 2, base_cents
            yield 3, cents - 2 * base_cents

    spark.udtf.register("installments", Installments)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("udtf_orders")
    out = spark.sql(
        """
        SELECT o.o_orderkey, i.installment, i.amount_cents
        FROM udtf_orders o,
             LATERAL installments(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) i
        WHERE o.o_orderkey <= 300
        ORDER BY o.o_orderkey, i.installment
        """
    )
    return out
