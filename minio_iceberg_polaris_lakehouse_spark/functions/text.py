"""Text-analysis operators over the `documents` table (EXT scope,
SURVEY.md §2.14 X5): language profiling, quality scoring, token counting,
document fingerprinting, and a stopword-profile language-ID heuristic.

Everything here is built from JVM-side string/array built-ins (split,
regexp_replace, higher-order array functions) — no Python in the hot path,
so a 100 TB documents table runs these inside whole-stage codegen with a
single scan and one small aggregation shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.operators.dedup import tokens_expr
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result

# Tiny English stopword profile used by quality scoring + lang-ID heuristic.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization of trimmed text (BPE-ish regex split)."""
    return F.split(F.trim(F.col(col)), r"\s+")


@register(
    "text_lang_profile",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(n_chars AS DECIMAL(26,8))) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile by language: doc counts and length stats."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (F.sum(F.col("n_chars").cast("decimal(26,8)")).cast("double") / F.count("n_chars")).alias(
                "avg_chars"
            ),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .transform(sort_result, "lang")
    )


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
           CAST(LENGTH(text) AS INT) AS n_chars_measured,
           CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS INT) AS n_unique_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: total, chars, unique tokens."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens()).cast("int").alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars_measured"),
        F.size(F.array_distinct(tokens())).cast("int").alias("n_unique_tokens"),
    ).orderBy("doc_id")


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           ROUND(stop_hits * 1.0 / n_tokens, 6) AS stopword_ratio,
           ROUND(punct_chars * 1.0 / LENGTH(text), 6) AS punct_ratio,
           ROUND(unique_tokens * 1.0 / n_tokens, 6) AS lexical_diversity,
           (n_tokens >= 20 AND unique_tokens * 1.0 / n_tokens > 0.3) AS passes_quality
    FROM (
        SELECT doc_id, text,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
               CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS INT) AS unique_tokens,
               CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                        w -> list_contains({STOPWORDS!r}, w))) AS INT) AS stop_hits,
               CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT) AS punct_chars
        FROM documents) t
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring: stopword ratio, punctuation
    density, lexical diversity, and a pass/fail flag — the standard cheap
    filters of an LLM-pretraining data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    lower_toks = tokens_expr()
    stop_hits = F.size(
        F.filter(lower_toks, lambda w: F.array_contains(F.lit(STOPWORDS), w))
    ).cast("int")
    punct_chars = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    ).cast("int")
    n_tokens = F.size(toks).cast("int")
    uniq = F.size(F.array_distinct(toks)).cast("int")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_hits * 1.0 / n_tokens, 6).alias("stopword_ratio"),
        F.round(punct_chars * 1.0 / F.length("text"), 6).alias("punct_ratio"),
        F.round(uniq * 1.0 / n_tokens, 6).alias("lexical_diversity"),
        ((n_tokens >= 20) & (uniq * 1.0 / n_tokens > 0.3)).alias("passes_quality"),
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sha256(array_to_string(
               list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))), ' '))) AS BIGINT)
               AS n_distinct_fingerprints
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: sha256 over the sorted distinct
    token set (order/duplication-invariant) — detects near-dups that differ
    only by word order or repetition; counted per source."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.sha2(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(tokens_expr()))
        ),
        256,
    )
    return (
        d.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_distinct_fingerprints"),
        )
        .transform(sort_result, "source")
    )


@register(
    "text_langid_heuristic",
    oracle=f"""
    SELECT lang AS labeled_lang, predicted_en, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT lang,
               (len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                    w -> list_contains({STOPWORDS!r}, w)))
                * 1.0 / len(regexp_split_to_array(trim(text), '\\s+'))) >= 0.05 AS predicted_en
        FROM documents) t
    GROUP BY lang, predicted_en
    ORDER BY labeled_lang, predicted_en
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic: classify a doc as English when
    ≥5% of its tokens are English stopwords; confusion counts against the
    labeled `lang` column."""
    d = load_table(spark, sf_dir, "documents")
    lower_toks = tokens_expr()
    stop_ratio = F.size(
        F.filter(lower_toks, lambda w: F.array_contains(F.lit(STOPWORDS), w))
    ) * 1.0 / F.size(tokens())
    return (
        d.select(F.col("lang").alias("labeled_lang"), (stop_ratio >= 0.05).alias("predicted_en"))
        .groupBy("labeled_lang", "predicted_en")
        .agg(F.count("*").alias("n"))
        .transform(sort_result, "labeled_lang", "predicted_en")
    )


@register(
    "text_curation_pipeline",
    oracle="""
    WITH keep AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY sha256(trim(lower(text)))),
    survivors AS (
        SELECT d.doc_id, d.source,
               CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS INT) AS n_tokens,
               CAST(len(list_distinct(regexp_split_to_array(trim(d.text), '\\s+'))) AS INT) AS uniq
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM keep)),
    quality AS (
        SELECT * FROM survivors
        WHERE n_tokens >= 20 AND uniq * 1.0 / n_tokens > 0.3)
    SELECT t.source,
           CAST(t.n_total AS BIGINT) AS n_total,
           CAST(COALESCE(s.n_dedup, 0) AS BIGINT) AS n_after_dedup,
           CAST(COALESCE(q.n_quality, 0) AS BIGINT) AS n_after_quality,
           ROUND(COALESCE(q.n_quality, 0) * 1.0 / t.n_total, 6) AS retention
    FROM (SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source) t
    LEFT JOIN (SELECT source, COUNT(*) AS n_dedup FROM survivors GROUP BY source) s
      ON t.source = s.source
    LEFT JOIN (SELECT source, COUNT(*) AS n_quality FROM quality GROUP BY source) q
      ON t.source = q.source
    ORDER BY t.source
    """,
)
def text_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel a pretraining pipeline runs, as one
    declarative plan: exact dedup (keep lowest doc_id per content hash) →
    quality gate (length + lexical diversity) → per-source retention
    report. Composition of X1 + X5 operators; every stage is a built-in
    (sha2 groupBy with map-side partial, semi join on the keep-set,
    conditional aggregation) — at 100 TB the keep-set semi join shuffles
    one row per DISTINCT hash, and the three per-source counts are
    broadcast-joined aggregates."""
    d = load_table(spark, sf_dir, "documents")
    keep = (
        d.select(F.sha2(F.trim(F.lower(F.col("text"))), 256).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = tokens()
    survivors = d.join(keep, "doc_id", "left_semi").select(
        "doc_id",
        "source",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("uniq"),
    )
    quality = survivors.filter(
        (F.col("n_tokens") >= 20) & (F.col("uniq") * 1.0 / F.col("n_tokens") > 0.3)
    )
    totals = d.groupBy("source").agg(F.count("*").alias("n_total"))
    n_dedup = survivors.groupBy("source").agg(F.count("*").alias("n_dedup"))
    n_quality = quality.groupBy("source").agg(F.count("*").alias("n_quality"))
    return (
        totals.join(n_dedup, "source", "left")
        .join(n_quality, "source", "left")
        .select(
            "source",
            F.col("n_total").cast("long").alias("n_total"),
            F.coalesce("n_dedup", F.lit(0)).cast("long").alias("n_after_dedup"),
            F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_after_quality"),
            F.round(
                F.coalesce("n_quality", F.lit(0)) * 1.0 / F.col("n_total"), 6
            ).alias("retention"),
        )
        .orderBy("source")
    )


@register(
    "text_stratified_sample",
    oracle="""
    WITH sampled AS (
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE doc_id % 10 < 2)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM sampled
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC sampling for training-data subsets: keep 20% of
    documents by a pure function of the stable key (doc_id % 10 < 2 —
    in production xxhash64(doc_id) for uniformity; the modulus keeps the
    oracle engine-portable), reported per language stratum. Unlike
    df.sample(), re-running selects the SAME rows on any cluster size —
    reproducible dataset cuts are a hard requirement for training-data
    lineage. No shuffle before the final per-stratum aggregate; the
    predicate pushes to the scan."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") % 10 < 2)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .transform(sort_result, "lang")
    )


@register(
    "text_top_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    bigrams AS (
        SELECT lang,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS bigram
        FROM toks
        WHERE len(t) >= 2),
    counted AS (
        SELECT lang, bigram, COUNT(*) AS n
        FROM bigrams GROUP BY lang, bigram),
    ranked AS (
        SELECT lang, bigram, CAST(n AS BIGINT) AS n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
        FROM counted)
    SELECT lang, bigram, n, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 5
    ORDER BY lang, rn
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: top-5 word bigrams per language —
    the language-model-ish frequency profile used for corpus QA and
    contamination spot-checks. One explode + one partial-aggregated
    count; WindowGroupLimit prunes to 5 rows per language before the
    final sort, so the shuffle after counting carries one row per
    distinct (lang, bigram) and the rank stage is top-k, not full-sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_expr()
    t = d.select("lang", toks.alias("t")).filter(F.size("t") >= 2)
    # guard: Spark's sequence(1, 0) DESCENDS instead of returning empty,
    # so single-token docs are filtered out before index generation
    idx = F.sequence(F.lit(1), F.size("t") - 1)
    bigram_arr = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)),
    )
    bigrams = t.select("lang", F.explode(bigram_arr).alias("bigram"))
    counted = bigrams.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "bigram")
    return (
        counted.select("lang", "bigram", "n", F.row_number().over(w).cast("int").alias("rn"))
        .filter(F.col("rn") <= 5)
        .transform(sort_result, "lang", "rn")
    )


@register(
    "text_contamination",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2, 1)),
                   i -> concat_ws(' ',
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i],
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i+1],
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i+2]))) AS shingles
        FROM documents),
    tr AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 10 <> 0),
    ev AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 10 = 0),
    hit AS (
        SELECT ev.doc_id,
               COUNT(*) AS n_shingles,
               SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
        FROM ev LEFT JOIN tr ON ev.s = tr.s
        GROUP BY ev.doc_id)
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           ROUND(n_overlap * 1.0 / n_shingles, 6) AS contamination,
           ROUND(n_overlap * 1.0 / n_shingles, 6) >= 0.8 AS flagged
    FROM hit
    ORDER BY doc_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval CONTAMINATION detection — the leakage audit every
    LLM-data pipeline runs before training: hold out an eval slice (here
    doc_id % 10 == 0, standing in for a benchmark set), and for each eval
    document measure what fraction of its word-3-gram shingles appear
    ANYWHERE in the training slice. A document whose shingles are >= 80%
    covered is flagged (it — or a near-duplicate — leaked into train).

    Scale design: train shingles are exploded + distinct'd (one shuffle
    keyed by shingle hash — map-side partials collapse repeats), the eval
    side joins on the int64 shingle hash, and the verdict is one grouped
    count per eval doc. No pairwise doc×doc comparison ever happens, so
    cost is O(corpus shingles), not O(train × eval). The same plan shape
    runs the real thing at 100 TB with the benchmark suite broadcast."""
    from minio_iceberg_polaris_lakehouse_spark.operators.dedup import hashed_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", tokens_expr().alias("toks")).select(
        "doc_id", hashed_shingles("toks").alias("shingles")
    )
    tr = (
        sh.filter(F.col("doc_id") % 10 != 0)
        .select(F.explode("shingles").alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = sh.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    agg = ev.join(tr, "s", "left").groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"),
    )
    contamination = F.round(F.col("n_overlap") * 1.0 / F.col("n_shingles"), 6)
    return agg.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        contamination.alias("contamination"),
        (contamination >= 0.8).alias("flagged"),
    ).orderBy("doc_id")


@register(
    "text_repetition_signals",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
        WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 3),
    big AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> concat_ws(' ', t[i], t[i+1]))) AS g
        FROM toks),
    bigagg AS (
        SELECT doc_id, MAX(n) AS mx, SUM(n) AS tot
        FROM (SELECT doc_id, g, COUNT(*) AS n FROM big GROUP BY doc_id, g)
        GROUP BY doc_id),
    tri AS (
        SELECT doc_id,
               len(list_transform(generate_series(1, len(t) - 2),
                                  i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS total3,
               len(list_distinct(list_transform(generate_series(1, len(t) - 2),
                                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS d3
        FROM toks)
    SELECT b.doc_id,
           ROUND(b.mx * 1.0 / b.tot, 6) AS top_bigram_frac,
           ROUND((t.total3 - t.d3) * 1.0 / t.total3, 6) AS rep_trigram_frac,
           ROUND(b.mx * 1.0 / b.tot, 6) >= 0.06 AS repetitive
    FROM bigagg b JOIN tri t ON b.doc_id = t.doc_id
    ORDER BY b.doc_id
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style REPETITION quality signals per document: the fraction
    of bigram occurrences taken by the single most frequent bigram, and
    the fraction of trigram occurrences that are repeats — the two
    cheapest detectors of degenerate/boilerplate text (Rae et al. 2021's
    'repetition' filters). `repetitive` applies a demo threshold on the
    top-bigram share (real pipelines tune per corpus).

    Scale: the trigram signal is pure array arithmetic inside the scan
    (size vs array_distinct size — zero shuffle); the bigram signal is
    one explode + two partially-aggregated groupBys keyed by doc, so the
    exchange carries one row per distinct (doc, bigram)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_expr()
    t = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 3)
    bigram_arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.concat_ws(" ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)),
    )
    tri_arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("t"), i),
            F.element_at(F.col("t"), i + 1),
            F.element_at(F.col("t"), i + 2),
        ),
    )
    bigagg = (
        t.select("doc_id", F.explode(bigram_arr).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
    )
    tri = t.select(
        "doc_id",
        F.size(tri_arr).alias("total3"),
        F.size(F.array_distinct(tri_arr)).alias("d3"),
    )
    top_frac = F.round(F.col("mx") * 1.0 / F.col("tot"), 6)
    return (
        bigagg.join(tri, "doc_id")
        .select(
            "doc_id",
            top_frac.alias("top_bigram_frac"),
            F.round((F.col("total3") - F.col("d3")) * 1.0 / F.col("total3"), 6).alias(
                "rep_trigram_frac"
            ),
            (top_frac >= 0.06).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_sequence_packing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               doc_id % 8 AS shard,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents),
    packed AS (
        SELECT lang, shard, n_tokens,
               CAST(FLOOR(
                   (SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                   / 512) AS INT) AS pack_id
        FROM toks)
    SELECT lang, CAST(shard AS BIGINT) AS shard, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed
    GROUP BY lang, shard, pack_id
    ORDER BY lang, shard, pack_id
    """,
)
def text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LM training: assign documents to fixed
    token-budget packs (budget 512) by cumulative token count, sharded.

    A pack is a training sequence built by concatenating documents until
    the budget fills; the assignment here is the streaming-fill rule
    (pack_id = tokens_before // budget), the same policy T5-style
    pipelines use before boundary-aware trimming. Packing needs no
    GLOBAL order — only a deterministic order within a shard — so the
    window partitions by (lang, doc_id % 8): at 100 TB that is 8×|lang|
    independent cumulative sums, each a single sorted partition stream,
    instead of one driver-choking global window (the WindowExec
    all-to-one-partition trap). More shards = more parallelism, zero
    semantic change."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.pmod(F.col("doc_id"), F.lit(8)).alias("shard"),
        F.size(tokens()).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.select(
        "lang",
        "shard",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512)
        .cast("int")
        .alias("pack_id"),
    )
    return (
        packed.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pack_tokens"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


@register(
    "text_vocab_build",
    oracle="""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents),
    counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM words GROUP BY tok)
    SELECT tok, freq FROM counts
    ORDER BY freq DESC, tok
    LIMIT 50
    """,
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide vocabulary (top-50 tokens by frequency) — the first
    pass of tokenizer training. explode → groupBy count is the canonical
    wordcount: partial aggregation combines map-side, so the shuffle
    carries one row per DISTINCT token per partition (vocab-sized, not
    corpus-sized); the top-k is a TakeOrderedAndProject, never a global
    sort of the vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens()).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(50)
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents),
    counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
    stats AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_total, CAST(COUNT(*) AS BIGINT) AS vocab
        FROM counts),
    scored AS (
        SELECT t.doc_id,
               ROUND(LN((c.c + 1.0) / (s.n_total + s.vocab)), 6) AS lp
        FROM toks t JOIN counts c ON t.tok = c.tok CROSS JOIN stats s)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(-lp AS DECIMAL(26,8))) AS DOUBLE) / COUNT(*), 6)
               AS avg_neg_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality signal: per-document average
    negative log-probability under an add-one-smoothed UNIGRAM model of
    the corpus itself (high = rare/garbled tokens, the filter axis CCNet
    thresholds per language; the production variant scores against a
    reference-corpus model — same plan, different count table).

    Scale: one explode + one groupBy(tok) builds the count table; the
    token stream re-joins it on tok (AQE picks broadcast while the vocab
    fits, shuffle-hash beyond — vocabulary grows sub-linearly in corpus
    size), then one groupBy(doc_id). No driver-side state. Determinism:
    per-token log rounded to 6 decimals (the fn_math_suite-proven
    cross-engine contract), then decimal-exact summation."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens_expr()).alias("tok"))
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    stats = counts.agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("vocab"),
    )
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("n_total") + F.col("vocab"))), 6
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.sum((-F.col("lp")).cast("decimal(26,8)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bigram_logprob",
    oracle="""
    WITH docs AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM documents),
    toks AS (
        SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
        FROM docs),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
    pairs AS (
        SELECT a.doc_id, a.tok AS w1, b.tok AS w2
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM pairs GROUP BY w1, w2),
    hist AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
    scored AS (
        SELECT p.doc_id,
               ROUND(LN((b.c12 + 1.0) / (h.c1 + v.v)), 6) AS lp
        FROM pairs p
        JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        JOIN hist h ON p.w1 = h.w1
        CROSS JOIN vocab v)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CAST(-lp AS DECIMAL(26,8))) AS DOUBLE) / COUNT(*), 6)
               AS avg_neg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality signal (one step closer to CCNet's KenLM
    filter than the unigram variant): per-document average negative
    log-probability of each token given its predecessor, add-one
    smoothed — P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V).

    Scale: consecutive pairs come from arrays_zip over two slices of
    the token array — pure JVM per-row work, NO positional self-join
    (the oracle's pos+1 join shape would shuffle the whole token stream
    twice); then one groupBy for bigram counts (history counts fold
    from them) and one re-join of the pair stream. Documents under two
    tokens drop out (no bigrams), matching the oracle. Determinism:
    6-decimal per-pair log rounding + decimal summation, as in
    text_unigram_logprob."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens_expr().alias("toks"))
        .withColumn("w1s", F.expr("slice(toks, 1, size(toks)-1)"))
        .withColumn("w2s", F.expr("slice(toks, 2, size(toks)-1)"))
    )
    pairs = docs.select(
        "doc_id", F.explode(F.arrays_zip("w1s", "w2s")).alias("pr")
    ).select(
        "doc_id", F.col("pr.w1s").alias("w1"), F.col("pr.w2s").alias("w2")
    )
    vocab = (
        docs.select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").cast("long").alias("v"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    hist = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(hist, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v"))), 6
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.sum((-F.col("lp")).cast("decimal(26,8)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_neg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------- PII scrubbing (curation-stage redaction) ----------------
# Patterns shared verbatim by the Spark (Java regex) and DuckDB (RE2)
# sides — restricted to the dialect intersection (no backreferences, no
# lookaround), which is also what keeps them linear-time at 100 TB.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(col: Column) -> Column:
    """Chained redaction: emails → phones → IPv4 literals. Order matters
    only in that the email replacement removes its digits before the
    numeric patterns run; each stage is a single JVM-side regexp_replace
    (codegen'd, no Python)."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, PII_IP, "<IP>")


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        -- the synthetic corpus carries no PII, so the fixture injects it
        -- DETERMINISTICALLY (same expression on both engines); the
        -- operator under test is the scrubber below
        SELECT source,
               text || CASE WHEN doc_id % 2 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                   ELSE '' END
                    || CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567' ELSE '' END
                    || CASE WHEN doc_id % 5 = 0 THEN ' host 10.0.0.1' ELSE '' END
                 AS seeded
        FROM documents),
    scrubbed AS (
        SELECT source,
               CAST(len(regexp_extract_all(seeded, '{PII_EMAIL}')) AS BIGINT) AS emails,
               CAST(len(regexp_extract_all(seeded, '{PII_PHONE}')) AS BIGINT) AS phones,
               regexp_replace(regexp_replace(regexp_replace(seeded,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g'),
                   '{PII_IP}', '<IP>', 'g') AS clean,
               seeded
        FROM seeded),
    final AS (
        SELECT source, emails, phones,
               CAST(len(regexp_extract_all(clean, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS BIGINT) AS residual_ips_after,
               length(seeded) - length(clean) AS removed
        FROM scrubbed)
    SELECT source,
           CAST(SUM(emails) AS BIGINT) AS emails_redacted,
           CAST(SUM(phones) AS BIGINT) AS phones_redacted,
           CAST(SUM(removed) AS BIGINT) AS chars_removed,
           CAST(SUM(residual_ips_after) AS BIGINT) AS residual_pii
    FROM final
    GROUP BY source
    ORDER BY source
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-stage PII redaction: emails/phones/IPv4 replaced with
    typed placeholder tokens, reported per source with a residual-PII
    audit column (re-scanning the scrubbed text must find nothing). The
    oracle replays injection + redaction + audit; length deltas make any
    regex-dialect drift between engines break the hash."""
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(""),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" call 555-123-4567")).otherwise(""),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" host 10.0.0.1")).otherwise(""),
        ).alias("seeded"),
    )
    scrubbed = seeded.select(
        "source",
        F.size(F.regexp_extract_all("seeded", F.lit(PII_EMAIL), F.lit(0))).cast("long").alias("emails"),
        F.size(F.regexp_extract_all("seeded", F.lit(PII_PHONE), F.lit(0))).cast("long").alias("phones"),
        pii_scrub(F.col("seeded")).alias("clean"),
        "seeded",
    )
    final = scrubbed.select(
        "source",
        "emails",
        "phones",
        F.size(F.regexp_extract_all("clean", F.lit(PII_IP), F.lit(0))).cast("long").alias("residual"),
        (F.length("seeded") - F.length("clean")).cast("long").alias("removed"),
    )
    return (
        final.groupBy("source")
        .agg(
            F.sum("emails").cast("long").alias("emails_redacted"),
            F.sum("phones").cast("long").alias("phones_redacted"),
            F.sum("removed").cast("long").alias("chars_removed"),
            F.sum("residual").cast("long").alias("residual_pii"),
        )
        .transform(sort_result, "source")
    )


@register(
    "dedup_cross_corpus",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, n_chars,
               sha256(array_to_string(
                   list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))),
                   ' ')) AS fp
        FROM documents),
    held AS (SELECT DISTINCT fp FROM fp WHERE source <> 'src0'),
    audited AS (
        SELECT f.source, f.n_chars,
               f.fp IN (SELECT fp FROM held) AS hit
        FROM fp f WHERE f.source = 'src0')
    SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN NOT hit THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM audited
    """,
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination by canonical fingerprint: drop every
    'src0' (train-candidate) document whose order/repetition-invariant
    token-set fingerprint also appears in ANY other source (the held-out
    pool) — the dedup-against-eval step a training pipeline runs after
    within-corpus dedup. Implementation is a LEFT SEMI join on the
    64-hex fingerprint: the held-out side reduces to DISTINCT
    fingerprints first (map-side combine), so at 100 TB the join carries
    one row per distinct held-out doc, not per doc, and the train side
    streams through a hash join on a 64-byte key — no text crosses the
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.sha2(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_expr()))), 256)
    fps = d.select("doc_id", "source", "n_chars", fp.alias("fp"))
    train = fps.filter(F.col("source") == "src0")
    held = fps.filter(F.col("source") != "src0").select("fp").distinct()
    hits = train.join(held, "fp", "left_semi")
    kept = train.join(held, "fp", "left_anti")
    return (
        train.agg(F.count("*").alias("n_train"))
        .crossJoin(F.broadcast(hits.agg(F.count("*").alias("n_dropped"))))
        .crossJoin(
            F.broadcast(
                kept.agg(
                    F.count("*").alias("n_kept"),
                    F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("kept_chars"),
                )
            )
        )
    )


CHUNK_TOKENS = 64  # tokens per chunk window
CHUNK_STRIDE = 48  # window start stride (16-token overlap)


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    chunks AS (
        SELECT doc_id,
               CAST(u.i AS INT) AS start_tok,
               list_slice(t, u.i, u.i + {CHUNK_TOKENS} - 1) AS ct
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, greatest(len(t), 1),
                                                    {CHUNK_STRIDE})) AS i) u)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_tok) AS INT)
               AS chunk_idx,
           start_tok,
           CAST(len(ct) AS INT) AS n_chunk_tokens,
           array_to_string(ct, ' ') AS chunk_text
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG / context-window chunking: split every document into
    overlapping 64-token windows with a 48-token stride (16-token overlap
    so no boundary sentence is lost) and keep
    doc provenance + position — the retrieval-corpus preparation step
    between curation and embedding. Pure JVM array slicing below one
    explode: at 100 TB this is a narrow map over the scan, no shuffle
    until a downstream groupBy; short docs still emit one (possibly
    partial) chunk so every document stays retrievable."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens_expr().alias("t"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    chunk = lambda i: F.slice(F.col("t"), i, CHUNK_TOKENS)  # noqa: E731
    exploded = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.cast("int").alias("start_tok"),
                    F.size(chunk(i)).cast("int").alias("n_chunk_tokens"),
                    F.concat_ws(" ", chunk(i)).alias("chunk_text"),
                ),
            )
        ).alias("pos", "c"),
    )
    return exploded.select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")
