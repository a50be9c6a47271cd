"""Third breadth batch: multiset set-ops, conditional aggregation,
RANGE window frames, date arithmetic, extended array functions, BPE-ish
tokenization, and the approximate-sketch variants of the exact operators
(SURVEY.md §2.4-2.8 remaining rows).

Approx sketches (HLL distinct, t-digest percentiles) are rows-only: their
values are engine-specific by construction; the exact counterparts
(`rel_count_distinct`, `rel_percentiles`) carry the oracle check, and the
sketch versions are the documented 100 TB path (one pass, tiny state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


@register(
    "set_except_all",
    oracle="""
    SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        EXCEPT ALL
        SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
    GROUP BY nationkey ORDER BY nationkey
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference — per-occurrence cancellation)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return sort_result(
        c.exceptAll(s).groupBy("nationkey").agg(F.count("*").alias("n")), "nationkey"
    )


@register(
    "set_intersect_all",
    oracle="""
    SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        INTERSECT ALL
        SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
    GROUP BY nationkey ORDER BY nationkey
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset intersection)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return sort_result(
        c.intersectAll(s).groupBy("nationkey").agg(F.count("*").alias("n")), "nationkey"
    )


@register(
    "rel_conditional_agg",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) FILTER (WHERE c_acctbal > 0) AS BIGINT) AS n_positive,
           CAST(COUNT(*) FILTER (WHERE c_acctbal <= 0) AS BIGINT) AS n_nonpositive,
           CAST(SUM(CAST(CASE WHEN c_acctbal > 5000 THEN c_acctbal ELSE 0 END AS DECIMAL(26,8))) AS DOUBLE)
               AS high_bal_total
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def rel_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: FILTER-style counts + conditional sums."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count_if(F.col("c_acctbal") > 0).alias("n_positive"),
            F.count_if(F.col("c_acctbal") <= 0).alias("n_nonpositive"),
            F.sum(
                F.when(F.col("c_acctbal") > 5000, F.col("c_acctbal"))
                .otherwise(0)
                .cast("decimal(26,8)")
            )
            .cast("double")
            .alias("high_bal_total"),
        )
        .transform(sort_result, "segment")
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS events_last_hour
    FROM events
    ORDER BY event_id
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time: per user, how many of their
    events fell in the trailing hour — the value-based frame (vs ROWS),
    ordered on epoch microseconds so both engines share frame bounds."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", F.count("*").over(w).alias("events_last_hour")
    ).orderBy("event_id")


@register(
    "fn_datediff",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS INT)
               AS ship_delay_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 100 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def fn_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day difference between order and ship dates (Spark datediff(end,
    start) ≡ DuckDB date_diff('day', start, end))."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("int")
            .alias("ship_delay_days"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "fn_array_suite2",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding[1:8]) AS INT) AS slice_len,
           ROUND(CAST(list_sort(embedding)[1] AS DOUBLE), 6) AS sorted_first,
           CAST(list_position(embedding, list_max(embedding)) AS INT) AS argmax_pos,
           list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_exact_zero
    FROM embeddings
    ORDER BY vec_id
    """,
)
def fn_array_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended array ops: slice, sort, position-of-max, membership."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size(F.slice("embedding", 1, 8)).cast("int").alias("slice_len"),
        F.round(F.sort_array("embedding").getItem(0).cast("double"), 6).alias("sorted_first"),
        F.array_position(F.col("embedding"), F.array_max("embedding"))
        .cast("int")
        .alias("argmax_pos"),
        F.array_contains("embedding", F.lit(0.0).cast("float")).alias("has_exact_zero"),
    ).orderBy("vec_id")


@register(
    "text_bpe_tokens",
    oracle="""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
               AS n_bpe_tokens,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_ws_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letter runs / digit runs /
    single punctuation) vs whitespace tokens, per language — the
    pretraining-pipeline token budget estimate."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.groupBy("lang")
        .agg(
            F.sum(bpe).cast("long").alias("n_bpe_tokens"),
            F.sum(ws).cast("long").alias("n_ws_tokens"),
        )
        .transform(sort_result, "lang")
    )


@register(
    "rel_approx_sketches",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS hll_within_3rsd,
           TRUE AS median_within_rank_band,
           TRUE AS p99_within_rank_band
    FROM orders
    """,
)
def rel_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-pass sketch variants for 100 TB: HLL++ distinct counts and
    approximate percentiles. Sketch VALUES are engine-specific, so the
    value-checked output is the error-bound contract computed IN-PLAN:
    the HLL estimate within 3×rsd of the exact distinct count, and each
    approx percentile inside the ±1%-rank band of the exact distribution
    (percentile_approx(accuracy=10000) guarantees rank error ≤ n/10000,
    far inside the band at every test SF). The oracle is the exact count
    plus literal TRUE bounds — a sketch regression flips a boolean and
    fails the hash. At 100 TB only the sketches run; the exact twins here
    are what makes the sketch error observable at test scale."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count_distinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("ac"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("am"),
        F.percentile_approx("o_totalprice", 0.99, 10000).alias("a99"),
        F.expr("percentile(o_totalprice, array(0.49D, 0.51D, 0.985D, 0.995D))").alias("pb"),
    )
    return agg.select(
        F.col("exact_customers").cast("long").alias("exact_customers"),
        (
            F.abs(F.col("ac") - F.col("exact_customers")) / F.col("exact_customers") <= 0.06
        ).alias("hll_within_3rsd"),
        ((F.col("am") >= F.col("pb")[0]) & (F.col("am") <= F.col("pb")[1])).alias(
            "median_within_rank_band"
        ),
        ((F.col("a99") >= F.col("pb")[2]) & (F.col("a99") <= F.col("pb")[3])).alias(
            "p99_within_rank_band"
        ),
    )


@register(
    "rel_latest_per_key",
    oracle="""
    SELECT user_id, event_id AS latest_event_id, event_type AS latest_type
    FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) t
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def rel_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-user (argmax): the dedup/CDC 'keep newest' idiom —
    one shuffle on the key, WindowGroupLimit prunes to 1 row per key
    before the final sort."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id")
    )
