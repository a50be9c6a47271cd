"""Event-time windowed aggregation over the `events` stream table
(SURVEY.md §2.12 — streaming is an unexplored "next step" in the reference,
SETUP_GUIDE_WIN.md:473; the driver ships an events table as the EXT
surface).

The same `F.window`/`F.session_window` expressions run identically in batch
and in Structured Streaming (`readStream` + `withWatermark`); batch mode is
what the DuckDB oracle can verify, the streaming wiring lives in
streaming/engine.py. Window starts are epoch-aligned in both engines
(Spark F.window ≡ DuckDB time_bucket for tumbling windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type. In streaming mode
    the identical expression runs under
    `readStream.withWatermark("ts", "10 minutes")`."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(26,8)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "total_value")
        .transform(sort_result, "win_start", "event_type")
    )


@register(
    "stream_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) - (o.off * INTERVAL '30 minutes') AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(26,8))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
    GROUP BY 1
    ORDER BY win_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide — each event lands in
    exactly 2 windows (the oracle replays that expansion with an explicit
    offset cross join)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(26,8)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "total_value")
        .transform(sort_result, "win_start")
    )


@register(
    "stream_session_window",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events)
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM gaps
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap, per user — Spark's
    native `session_window`; the oracle derives identical sessionization
    from a LAG-gap cumulative count."""
    e = load_table(spark, sf_dir, "events")
    sessions = e.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n_in_session")
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_in_session").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_event_type_rates",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, day
    """,
)
def stream_event_type_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event/user rates per event type (the monitoring-rollup shape)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"), F.count_distinct("user_id").alias("n_users"))
        .transform(sort_result, "event_type", "day")
    )
