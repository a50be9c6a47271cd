"""Lexical retrieval + boilerplate detection over the `documents` table
(EXT scope, SURVEY.md §2.14 X5).

`text_bm25_topk` is the inverted-index scoring half of a hybrid-search
stack (the ANN operators in operators/similarity*.py are the dense half):
classic Okapi BM25 over a fixed query-term set, expressed entirely in
JVM-side built-ins.

`text_boilerplate_ngrams` is the cross-document counterpart of
`text_repetition_signals`: instead of repetition *within* a document, it
measures how much of each document is made of word trigrams that recur
across many *other* documents — the standard boilerplate/template signal
(nav bars, license headers, scraped footers) used to drop machine-
generated chrome from a pretraining corpus.

Scale design (100 TB): both operators are one scan + linear shuffles.
BM25's corpus statistics (N, avgdl, per-term df) are metadata-sized and
broadcast; the per-(doc, term) frequency rows are produced by a narrow
explode of the |QUERY_TERMS| array — no shuffle is wider than
|docs| x |terms|, and the final top-k is TakeOrderedAndProject, not a
global sort. The boilerplate join streams the trigram instances against
the (much smaller, repeated-across->=MIN_DOCS) frequent-gram set on a
hash join; nothing is quadratic.

Cross-engine determinism follows the registry rules: every transcendental
(LN) contribution is rounded to 6 decimals and summed as DECIMAL(18,6)
(IEEE addition order would otherwise differ between Spark and DuckDB),
ratios are rounded, and every ORDER BY ends in a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.operators.dedup import tokens_expr
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result

# Fixed query for the BM25 demo entry (a real API takes these as
# parameters; the driver contract needs a deterministic instance).
QUERY_TERMS = ["spark", "join", "vector"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20

# A trigram is "boilerplate" when it appears in at least this many
# distinct documents.
BOILER_MIN_DOCS = 3


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    docs AS (
        SELECT doc_id, t, CAST(len(t) AS INT) AS dl FROM toks),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(dl AS DECIMAL(26,8))) AS DOUBLE) / COUNT(*) AS avgdl
        FROM docs),
    pairs AS (
        SELECT doc_id, dl, term, tf FROM (
            SELECT doc_id, dl, q.term AS term,
                   CAST(len(list_filter(t, w -> w = q.term)) AS INT) AS tf
            FROM docs, (SELECT unnest({QUERY_TERMS!r}) AS term) q) z
        WHERE tf > 0),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY term),
    contrib AS (
        SELECT p.doc_id,
               ROUND(LN(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                     * p.tf * ({BM25_K1} + 1)
                     / (p.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * p.dl / s.avgdl)),
                     6) AS c
        FROM pairs p JOIN df d USING (term) CROSS JOIN stats s),
    scored AS (
        SELECT doc_id, SUM(CAST(c AS DECIMAL(18,6))) AS sd
        FROM contrib GROUP BY doc_id),
    ranked AS (
        SELECT doc_id, CAST(sd AS DOUBLE) AS bm25,
               ROW_NUMBER() OVER (ORDER BY sd DESC, doc_id) AS rn
        FROM scored)
    SELECT doc_id, bm25, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= {BM25_TOP_K}
    ORDER BY rn
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the fixed query ``spark join vector``.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Robertson-Sparck Jones
    form with the +1 floor, as in Lucene), tf saturation k1=1.2, length
    normalization b=0.75. Only documents containing at least one query
    term survive past the explode — the inverted-index access pattern —
    and every corpus statistic the scorer needs (N, avgdl, df) is a
    broadcast. Per-term contributions are rounded to 6 decimals and
    decimal-summed so the score is identical across engines and
    partitionings."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("doc_id", tokens_expr().alias("t")).select(
        "doc_id", "t", F.size("t").cast("int").alias("dl")
    )
    # One row of corpus statistics, broadcast below every per-doc row.
    stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum(F.col("dl").cast("decimal(26,8)")).cast("double") / F.count("*")).alias("avgdl"),
    )
    term_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.size(F.filter(F.col("t"), lambda w: w == F.lit(t))).cast("int").alias("tf"),
            )
            for t in QUERY_TERMS
        ]
    )
    pairs = (
        docs.select("doc_id", "dl", F.explode(term_structs).alias("p"))
        .select("doc_id", "dl", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    df_counts = pairs.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    contrib = (
        pairs.join(F.broadcast(df_counts), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(F.lit(1) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * F.col("tf")
                * (k1 + 1)
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
                6,
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.sum(F.col("c").cast("decimal(18,6)")).alias("sd"))
    top = scored.orderBy(F.desc("sd"), "doc_id").limit(BM25_TOP_K)
    w = Window.orderBy(F.desc("sd"), "doc_id")
    return top.select(
        "doc_id",
        F.col("sd").cast("double").alias("bm25"),
        F.row_number().over(w).cast("int").alias("rn"),
    ).orderBy("rn")


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    grams AS (
        SELECT doc_id, source,
               unnest(list_transform(generate_series(1, len(t) - 2),
                                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS gram
        FROM toks WHERE len(t) >= 3),
    freq AS (
        SELECT gram FROM (
            SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gram) z
        WHERE nd >= {BOILER_MIN_DOCS}),
    per_doc AS (
        SELECT g.doc_id, g.source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(f.gram) AS BIGINT) AS n_boiler
        FROM grams g LEFT JOIN freq f ON g.gram = f.gram
        GROUP BY g.doc_id, g.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_boiler) AS BIGINT) AS boiler_grams,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           ROUND(CAST(SUM(CAST(ROUND(n_boiler * 1.0 / n_grams, 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / COUNT(*), 6) AS avg_boiler_frac,
           CAST(SUM(CASE WHEN n_boiler * 1.0 / n_grams > 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_mostly_boiler
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate profile: per source, how much of each
    document consists of word trigrams that recur in >= 3 distinct
    documents (template/chrome text a curation pipeline strips or
    downweights).

    Shape: one explode produces the trigram instances; the frequent-gram
    set is a distinct-(gram, doc) count filtered to >= MIN_DOCS — by
    construction far smaller than the instance stream — and instances
    re-join it on a hash equi-join (AQE broadcasts it when it fits).
    Per-doc fractions are rounded before the decimal-summed per-source
    average so the result is partitioning- and engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", tokens_expr().alias("t")).filter(F.size("t") >= 3)
    idx = F.sequence(F.lit(1), F.size("t") - 2)
    gram_arr = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("t"), i),
            F.element_at(F.col("t"), i + 1),
            F.element_at(F.col("t"), i + 2),
        ),
    )
    grams = t.select("doc_id", "source", F.explode(gram_arr).alias("gram"))
    freq = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
        .select("gram")
    )
    flagged = grams.join(freq.withColumn("is_boiler", F.lit(1)), "gram", "left")
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.count("is_boiler").cast("long").alias("n_boiler"),
    )
    frac = F.round(F.col("n_boiler") / F.col("n_grams"), 6)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_boiler").cast("long").alias("boiler_grams"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.round(
                F.sum(frac.cast("decimal(18,6)")).cast("double") / F.count("*"), 6
            ).alias("avg_boiler_frac"),
            F.sum((F.col("n_boiler") / F.col("n_grams") > 0.5).cast("int"))
            .cast("long")
            .alias("docs_mostly_boiler"),
        )
        .transform(sort_result, "source")
    )
