"""Training-data mixture sampling (EXT scope, SURVEY.md §2.14): given
target mixture weights per source and a corpus-wide budget, compute each
source's deterministic sampling rate and cut a reproducible subset — the
"data mixing" stage every large-scale LM pipeline runs between curation
and tokenization (the Pile/Dolma-style source reweighting; public
recipes).

Everything is INTEGER arithmetic on stable keys, so the cut is
bit-reproducible on any cluster size and the DuckDB oracle can replay it
exactly:

- weight_s    = ascii(source[0]) % 3 + 1     (a stand-in for the config
                                              table a real run broadcasts)
- budget      = (3 * total_chars) div 10     (30% of the corpus)
- permille_s  = min(1000, (weight_s * budget * 1000)
                          div (sum_weights * chars_s))
- keep doc    ⇔ ((doc_id % 131071) * 2654435761) % 1000 < permille_s
                (Knuth multiplicative hash over a Mersenne-bounded id —
                 decorrelates the cut from doc_id order, and the product
                 stays < 2^49, so it can never overflow bigint even for
                 astronomically large doc ids: identical arithmetic on
                 every engine, no wrap-vs-error divergence)

Scale design: pass 1 is a map-side partial aggregate to per-source
totals (rows = #sources, metadata-sized); the rate table is broadcast
back; pass 2 is a scan-filter-aggregate with the hash predicate — no
shuffle wider than #sources ever happens, and the two passes each read
only (doc_id, source, n_chars) columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result

_HASH = 2654435761  # Knuth multiplicative constant


def source_rates(docs: DataFrame, budget_num: int = 3, budget_den: int = 10) -> DataFrame:
    """Per-source sampling rates (permille) for a budget of
    ``budget_num/budget_den`` of total corpus chars, honoring the
    per-source mixture weights. Returns (source, weight, chars, permille)
    — #sources rows, broadcastable."""
    totals = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars"),
        (F.ascii(F.substring(F.first("source"), 1, 1)) % 3 + 1)
        .cast("long")
        .alias("weight"),
    )
    grand = totals.agg(
        F.sum("chars").cast("long").alias("total_chars"),
        F.sum("weight").cast("long").alias("sum_weights"),
    )
    return (
        totals.crossJoin(F.broadcast(grand))
        .withColumn(
            "budget", F.expr(f"({budget_num} * total_chars) div {budget_den}")
        )
        .withColumn(
            "permille",
            # GREATEST(chars, 1): a source whose documents are all empty
            # must get rate 1000 (keep everything — its budget share is
            # free), not a divide-by-zero that Spark nulls and other
            # engines reject
            F.least(
                F.lit(1000).cast("long"),
                F.expr("(weight * budget * 1000) div (sum_weights * greatest(chars, 1))"),
            ),
        )
        .select("source", "weight", "chars", "permille")
    )


def mixture_sample(docs: DataFrame) -> DataFrame:
    """The reproducible cut: keep a document iff its hashed id falls
    under its source's permille threshold."""
    rates = source_rates(docs)
    return docs.join(F.broadcast(rates), "source").filter(
        ((F.col("doc_id") % 131071) * _HASH) % 1000 < F.col("permille")
    )


@register(
    "text_mixture_sample",
    oracle=f"""
    WITH totals AS (
        SELECT source,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(ascii(substr(source, 1, 1)) % 3 + 1 AS BIGINT) AS weight
        FROM documents GROUP BY source),
    grand AS (
        SELECT CAST(SUM(chars) AS BIGINT) AS total_chars,
               CAST(SUM(weight) AS BIGINT) AS sum_weights
        FROM totals),
    rates AS (
        SELECT source, weight, chars,
               LEAST(1000, (weight * ((3 * total_chars) // 10) * 1000)
                           // (sum_weights * GREATEST(chars, 1))) AS permille
        FROM totals CROSS JOIN grand),
    kept AS (
        SELECT d.source, d.doc_id, d.n_chars, r.permille
        FROM documents d JOIN rates r USING (source)
        WHERE ((d.doc_id % 131071) * {_HASH}) % 1000 < r.permille)
    SELECT source,
           CAST(ANY_VALUE(permille) AS BIGINT) AS permille,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM kept
    GROUP BY source
    ORDER BY source
    """,
)
def text_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted reproducible sampling, reported per source: the
    achieved document/char counts under each source's computed permille
    rate. The oracle replays the full two-pass rate computation and the
    multiplicative-hash cut, so a drift anywhere (weight derivation,
    integer division, hash predicate) breaks the hash match."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    kept = mixture_sample(d)
    return (
        kept.groupBy("source")
        .agg(
            F.first("permille").cast("long").alias("permille"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .transform(sort_result, "source")
    )
