"""Deduplication operators over the `documents` table (EXT scope,
SURVEY.md §2.14 X1/X2): exact hash dedup, n-gram Jaccard near-dup,
MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (100 TB): every operator is blocked — no unbounded O(n²)
self-join ever executes. Exact dedup shuffles once on a 256-bit content
hash; Jaccard verification only runs on candidate pairs produced by an
equality join (blocking key or LSH band bucket), so the quadratic term is
bounded per bucket. Hash families are Spark's JVM-side xxhash64/murmur3 —
no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import (
    load_table,
    materialize_once,
    sort_result,
    spread_for_kernel,
)

# MinHash configuration: 16 hash "permutations", banded 4×4 for LSH.
MINHASH_K = 16
LSH_BANDS = 4
ROWS_PER_BAND = MINHASH_K // LSH_BANDS


def content_hash(col: str = "text") -> Column:
    """256-bit content hash of normalized text (exact-dedup key)."""
    return F.sha2(F.trim(F.lower(F.col(col))), 256)


def tokens_expr(col: str = "text") -> Column:
    return F.split(F.trim(F.lower(F.col(col))), r"\s+")


# Shingle builders take a MATERIALIZED token-array column, never the split
# expression itself: an expression inlined into a transform() lambda is
# re-evaluated per element_at reference (3n regex splits per doc — measured
# 3.5× slower end-to-end at sf0.1).
def word_shingles(toks_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingle strings from a token-array column."""
    toks = F.col(toks_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    # try_element_at: NULL past the array end under BOTH ANSI modes — a
    # 1-2 token document must yield its short shingle, not abort the
    # query under spark.sql.ansi.enabled=true
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.try_element_at(toks, i + j + 1) for j in range(n)])
        )
    )


def hashed_shingles(toks_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles hashed straight to int64 — xxhash64
    over the n token elements, no intermediate shingle strings."""
    toks = F.col(toks_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(*[F.try_element_at(toks, i + j + 1) for j in range(n)]))
    )


@register(
    "dedup_exact_keep_first",
    oracle="""
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY sha256(trim(lower(text)))
    ORDER BY doc_id
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, keep-first policy: keep the lowest doc_id per content
    hash (unlike dropDuplicates, which keeps an arbitrary row). Expressed
    as groupBy+MIN rather than a ROW_NUMBER window: the aggregate gets a
    map-side partial (each task pre-reduces its hashes before the
    exchange), so at 100 TB the shuffle carries ~one row per distinct
    hash instead of every (hash, doc_id) pair feeding a full sort."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(content_hash().alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "dedup_exact_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sha256(trim(lower(text)))) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT sha256(trim(lower(text)))) AS BIGINT) AS n_exact_dups
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-duplication rate."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(content_hash()).alias("n_unique"),
        (F.count("*") - F.count_distinct(content_hash())).cast("long").alias("n_exact_dups"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang, CAST(FLOOR(n_chars / 50) AS BIGINT) AS len_bucket,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2, 1)),
                   i -> concat_ws(' ',
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i],
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i+1],
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i+2]))) AS shingles
        FROM documents),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) * 1.0
                     / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, jaccard
    FROM pairs
    WHERE jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection by word-3-gram Jaccard ≥ 0.5 over blocked
    candidate pairs (same lang + 50-char length bucket). Blocking keeps the
    pair space linear-ish; at 100 TB the blocking key would be an LSH band
    (see dedup_minhash_lsh) — the verify stage is identical."""
    d = load_table(spark, sf_dir, "documents")
    # int64 hashed shingles: array_intersect on longs, not strings — the
    # Jaccard value is identical to the oracle's string-shingle computation
    # (shingle sets are distinct; an xxhash64 collision would need ~2^32
    # shingles in one pair, corpus has ~10^2)
    sh = d.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 50).cast("long").alias("len_bucket"),
        tokens_expr().alias("toks"),
    ).select("doc_id", "lang", "len_bucket", hashed_shingles("toks").alias("shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    jac = inter * 1.0 / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


def minhash_signature(df: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id → k-wide MinHash signature over word-3-gram shingles —
    the standalone public API form (one column per permutation).
    dedup_minhash_lsh deliberately does NOT call this: its one-array
    signature pass also feeds banding and both verify sides from a
    single scan subtree, a plan shape this column-per-permutation
    surface cannot produce. The two share tokens_expr/hashed_shingles
    so the shingle definition cannot drift.

    One explode + one grouped aggregation (k MIN aggregates in a single
    pass). Each shingle is hashed exactly once (hashed_shingles); the k
    'permutations' re-hash the resulting 8-byte long salted by the
    permutation index — ~n_shingles string hashes total instead of k×.
    (A zero-shuffle `array_min(transform(...))` variant was measured 9×
    SLOWER end-to-end: CollapseProject inlines the shingle-array
    construction into every one of the k lambda references, re-evaluating
    it k times per document — the explode+groupBy shape materializes
    shingles once and the MIN aggregates get map-side partials, so the
    exchange still carries only one k-wide row per document.)"""
    tok = df.select("doc_id", tokens_expr().alias("toks"))
    exploded = tok.select("doc_id", F.explode(hashed_shingles("toks")).alias("sh"))
    aggs = [F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"mh{i}") for i in range(k)]
    return exploded.groupBy("doc_id").agg(*aggs)


@register(
    "dedup_minhash_lsh",
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
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ROUND(len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) * 1.0
                     / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id
         -- sound prefilter: J >= 0.5 forces |A| and |B| within 2x of each
         -- other (J = I/U >= 1/2 -> min >= I >= U/2 >= max/2)
         AND len(a.shingles) * 2 >= len(b.shingles)
         AND len(b.shingles) * 2 >= len(a.shingles))
    SELECT doc_a, doc_b, jaccard
    FROM pairs
    WHERE jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates, verified with exact Jaccard.

    Pipeline: shingle → 16-permutation MinHash signature → 4 bands of 4 →
    equality self-join on (band_id, band_hash) → exact Jaccard ≥ 0.5 verify.

    Value-checked against a brute-force ALL-PAIRS Jaccard oracle (no
    blocking): the final output is the exact-Jaccard-verified pair set, so
    precision is exact by construction, and at the driver SF the banding
    recalls every true pair (pinned by tests/test_dedup.py's recall test;
    re-measured equal at sf0.001 and sf0.01) — so LSH output == brute
    force, row for row. The intermediate xxhash64 signatures stay
    engine-specific; only the verified pairs are compared. Scale: the only
    quadratic step is within an LSH bucket, and bucket sizes are bounded
    by collision probability, not corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    # ONE explode + ONE grouped aggregation produces BOTH the 16-wide
    # MinHash signature and the rebuilt shingle array (collect_list of the
    # exploded int64 shingles): the scan+tokenize+shingle subtree lives
    # below a single exchange that every downstream branch (banding,
    # verify-join doc_a side, verify-join doc_b side) reuses, where the
    # previous shape re-ran tokenize+shingling once per verify side
    # (measured 1.79 s → 1.56 s at sf0.1). Jaccard is order-insensitive,
    # so the nondeterministic collect_list order is harmless.
    # r13 (guide §2.4/§2.5): repartition the RAW TEXT by doc_id BEFORE
    # tokenizing — the local fixture arrives as 1-3 splits, so the
    # regexp tokenize + shingle hash (the pipeline's dominant term, 1.6 s
    # of its 3.3 s at sf1) ran near-serially; hash-partitioning on the
    # groupBy key moves the exchange from 100-shingle rows-per-doc to one
    # text row per doc AND lets groupBy(doc_id) reuse the partitioning,
    # keeping the whole pipeline at ONE exchange (verified in the plan).
    # Measured sf1 3.3 → 1.1 s, sf0.1 unchanged.
    tok = d.select("doc_id", "text").repartition(F.col("doc_id")).select(
        "doc_id", tokens_expr().alias("toks")
    )
    exploded = tok.select("doc_id", F.explode(hashed_shingles("toks")).alias("sh"))
    sig_aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"mh{i}") for i in range(MINHASH_K)
    ]
    g = exploded.groupBy("doc_id").agg(*sig_aggs, F.collect_list("sh").alias("shingles"))
    # r12 (guide §8 / §5): materialize the signature+shingle frame ONCE.
    # Multiple consumers read g (banding + verify) and column pruning
    # specializes the aggregate per consumer, so no two subtrees stay
    # byte-identical and runtime exchange reuse never fires — without
    # the checkpoint the scan→tokenize→shingle→explode→groupBy pipeline
    # executed up to three times per run (measured 1.37 s → 1.10 s at
    # sf0.1). This is the fingerprint-pass-writes-out shape of the
    # 100 TB playbook: one pass computes the lightweight proxy, every
    # decision reads it. r13: the 4 per-band hashes fold BEFORE the
    # checkpoint (banding is their only consumer), so the materialized
    # rows carry 4 longs + shingles instead of 16 longs + shingles.
    band_cols = [
        F.xxhash64(
            *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"bh{b}")
        for b in range(LSH_BANDS)
    ]
    g = materialize_once(g.select("doc_id", *band_cols, "shingles"))
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), F.col(f"bh{b}").alias("band_hash"))
            for b in range(LSH_BANDS)
        ]
    )
    banded = g.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )
    # candidate pairs via ONE groupBy on the bucket key + in-bucket pair
    # expansion — not a self-join of `banded` with itself, which would
    # execute the whole signature pipeline (scan+tokenize+explode+16-MIN
    # groupBy) once per join side (verified in the physical plan). Bucket
    # membership lists are bounded by LSH collision probability, so the
    # collect_list state and the quadratic expansion stay per-bucket-sized
    # (the same boundedness the join relied on); sort_array makes the
    # a<b pair orientation deterministic.
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_expr = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # r13 verify (guide §2.4): ONE broadcast probe of the checkpoint
    # instead of two. The candidate pairs explode into (pair, doc_id,
    # side) rows; a single scan of g attaches each side's shingle array,
    # and a pair-keyed aggregate reunites them — candidate-pair-sized
    # rows cross the exchange, never the corpus. The r12 shape scanned
    # the checkpoint once per verify side AND collected the doc_a join
    # (with its shingle arrays) back through a second driver broadcast.
    sides = cand.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("doc_id"), F.lit("a").alias("side")),
                F.struct(F.col("doc_b").alias("doc_id"), F.lit("b").alias("side")),
            )
        ).alias("s"),
    ).select("doc_a", "doc_b", "s.doc_id", "s.side")
    probed = g.join(F.broadcast(sides), "doc_id").select(
        "doc_a", "doc_b", "side", "shingles"
    )
    paired = probed.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("side") == "a", F.col("shingles"))).alias("sa"),
        F.max(F.when(F.col("side") == "b", F.col("shingles"))).alias("sb"),
    )
    jac = F.size(F.array_intersect("sa", "sb")) * 1.0 / F.size(F.array_union("sa", "sb"))
    return (
        paired.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


SIMHASH_BITS = 32


@register("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprinting: 32-bit signature from token-hash bit votes,
    computed in one pass with higher-order array functions (no explode, no
    shuffle beyond the final cluster count). Rows-only check (hash family is
    engine-specific); tests assert exact duplicates collide.

    Returns fingerprint clusters with >1 member (near-dup groups at
    Hamming distance 0)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # canonical SimHash: hash each token ONCE, vote every bit of that one
    # hash. A single fold carries a 32-wide vote accumulator; the hash is
    # the fold's lambda variable, so the earlier shape's 32 independent
    # folds (re-splitting and re-hashing the text once per bit — the
    # exact anti-pattern the module header measures at 3.5×) collapses
    # into one tokenize + one hash per token.
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(SIMHASH_BITS)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )
    return (
        d.select("doc_id", fingerprint.alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("cluster_size"), F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .filter(F.col("cluster_size") > 1)
        .orderBy("simhash")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
    pairs AS (
        SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(list_zip(a.e, b.e), p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
        FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id),
    ranked AS (
        SELECT label, vec_a, vec_b, ROUND(cos, 6) AS cosine,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY ROUND(cos, 6) DESC, vec_a, vec_b) AS rn
        FROM pairs)
    SELECT label, vec_a, vec_b, cosine, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    ORDER BY label, rn
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CANDIDATES: the 3 closest cosine pairs within
    each `label` block (the blocking key stands in for an IVF/LSH
    partition at scale — the quadratic search never crosses blocks). The
    corpus's random embeddings top out near cosine 0.47, so a fixed 0.9
    near-dup threshold would select nothing at any SF and the oracle
    would pass vacuously on empty-vs-empty (the round-1 advisor's
    concern); top-k-per-block keeps the result non-empty and
    value-verified while exercising the exact production shape — in a
    real pipeline the rank filter becomes `cosine >= threshold`. Norms
    are computed once per VECTOR below the pair join, not once per PAIR —
    inside a block of m vectors that's m folds instead of m² — with the
    ``dot/(na*nb)`` operand order preserved so values stay bit-identical
    to the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    v = v.select(
        "vec_id",
        "label",
        "e",
        F.sqrt(F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)).alias("n"),
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.n") * F.col("b.n"))
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.label").alias("label"),
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("cosine"), "vec_a", "vec_b")
    return (
        pairs.select("*", F.row_number().over(w).cast("int").alias("rn"))
        .filter(F.col("rn") <= 3)
        .transform(sort_result, "label", "rn")
    )


def min_label_components(pairs: DataFrame, max_rounds: int = 200) -> DataFrame:
    """Connected components over an undirected pair graph via Pregel-style
    iterative min-label propagation: each round joins labels across edges
    and keeps the elementwise min; a node's final label is its component's
    minimum id. ``pairs`` has columns (src, dst), one row per undirected
    edge; returns (doc_id, label) for every node incident to an edge
    (isolated nodes are the caller's business).

    Each round localCheckpoints to keep lineage flat (the standard
    pattern for iterative DataFrame algorithms; at 100 TB this is exactly
    GraphX/GraphFrames' CC loop — one shuffle per round over the EDGE
    list, which is tiny relative to the corpus). Min-label moves one hop
    per round, so rounds needed = component diameter (no pointer
    doubling); a deeper graph must fail LOUDLY at the cap rather than
    silently report split clusters."""
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy(edges["src"].alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"component resolution did not converge in {max_rounds} rounds "
        f"(a component with diameter > {max_rounds}?)"
    )


@register(
    "dedup_cluster_keep_one",
    oracle="""
    WITH RECURSIVE sh AS (
        SELECT doc_id, lang, CAST(FLOOR(n_chars / 50) AS BIGINT) AS len_bucket,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2, 1)),
                   i -> concat_ws(' ',
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i],
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i+1],
                        regexp_split_to_array(trim(lower(text)), '\\s+')[i+2]))) AS shingles
        FROM documents),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        WHERE len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) * 1.0
              / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5),
    edge AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edge
        UNION
        SELECT r.a, e.b FROM reach r JOIN edge e ON r.b = e.a WHERE e.b <> r.a),
    comp AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
    FROM comp
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
)
def dedup_cluster_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution — the curation step after pair
    finding: connected components over the Jaccard≥0.5 pair graph, keep
    one representative (the min doc_id) per cluster. Output: one row per
    cluster with its size and how many docs dedup removes.

    Spark side: Pregel-style iterative min-label propagation — each round
    joins labels across edges and keeps the elementwise min; converges in
    O(log diameter) rounds (near-dup clusters are shallow — text corpora
    converge in 2-4). Each round localCheckpoints to keep lineage flat
    (the standard pattern for iterative DataFrame algorithms; at 100 TB
    this is exactly GraphX/GraphFrames' CC loop, one shuffle per round
    over the EDGE list, which is tiny relative to the corpus).
    DuckDB oracle: the same components via a recursive transitive-closure
    CTE — an iterative algorithm still held to an exact cross-engine
    value check."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 50).cast("long").alias("len_bucket"),
        tokens_expr().alias("toks"),
    ).select("doc_id", "lang", "len_bucket", hashed_shingles("toks").alias("shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect("a.shingles", "b.shingles")) * 1.0 / F.size(
        F.array_union("a.shingles", "b.shingles")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(jac >= 0.5)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    labels = min_label_components(pairs)
    return (
        labels.groupBy(F.col("label").cast("long").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            (F.count("*") - 1).cast("long").alias("n_removed"),
        )
        .orderBy("cluster_id")
    )


@register(
    "dedup_substring_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
    pos AS (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS pos
            FROM toks WHERE len(t) >= 8),
    grams AS (SELECT doc_id, pos, array_to_string(t[pos+1:pos+8], chr(1)) AS g FROM pos),
    dups AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM grams JOIN dups USING (g)),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos <= MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS is_new
        FROM hits),
    isl AS (SELECT doc_id, pos,
                   SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM flagged),
    spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 8 AS e
              FROM isl GROUP BY doc_id, island)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring deduplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" operator,
    §4.1 ExactSubstr): find every 8-token span whose exact token sequence
    occurs >= 2 times anywhere in the corpus (cross-doc OR within-doc),
    merge overlapping/touching hit spans per document into maximal
    intervals, and report per affected doc how many maximal duplicated
    spans it carries and how many tokens they cover — the removal plan an
    ExactSubstr cleaner executes.

    Spark plan: one token-array materialization, starting positions via a
    JVM-side transform(sequence(...)) explode (one gram per token start —
    O(corpus tokens) rows), corpus-wide gram counts with map-side partial
    aggregation, an equi-join back on the gram string, then a per-doc
    window (bounded by document length) that merges hits into islands via
    the classic cummax-gap-flag + running-sum pattern. Gram identity is
    the exact 8-token string, so results are exact — no hash collisions —
    and the DuckDB oracle replays the whole computation value-for-value.

    The duplicate test is a COUNT(*) window over the gram key — one scan
    and one exchange; the alternative (partial-agg counts + join back)
    re-scans and re-explodes the corpus and measured 6.6× slower at
    sf0.1 (10.8 s → 1.6 s). The window's partition is all occurrences of
    one gram, so a pathological heavy-hitter gram (corpus boilerplate
    repeated 10⁸×) would skew it; at that scale flip to the
    partial-agg + join-back form (count is algebraic → map-side partials
    absorb the skew, AQE skew-join handles the probe) — one line apart.

    100 TB notes: the gram explode carries a K-token payload per row
    through the shuffle; at that scale you first aggregate on
    xxhash64(gram) (8-byte keys, same row count) to find candidate-dup
    hashes, semi-join grams to candidates, and only confirm the survivors
    on the exact string — the bloom-decontaminate prefilter pattern in
    functions/bloom.py; suffix-array sharding (the paper's approach)
    only wins below ~50 GB/node. The per-doc island window never skews:
    its partition is one document."""
    K = 8
    # spread the unsplittable small scan before the gram explode — the
    # K-token concat per gram is the heavy projection here (guide §2.5;
    # measured 1.09 s → 0.79 s at sf0.1, no-op at scale)
    d = spread_for_kernel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", tokens_expr().alias("t"))
    grams = (
        d.filter(F.size("t") >= K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {K}), i -> "
                    f"struct(i AS pos, concat_ws(chr(1), slice(t, i + 1, {K})) AS g))"
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))
    )
    hits = (
        grams.withColumn("cnt", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    w_prev = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = hits.withColumn(
        "is_new",
        F.when(F.col("pos") <= F.max(F.col("pos") + K).over(w_prev), F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    islands = flagged.withColumn("island", F.sum("is_new").over(w_run))
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + K).alias("e")
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("e") - F.col("s")).cast("long").alias("dup_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
    SELECT a.s_nationkey AS nation, a.s_suppkey AS k1, b.s_suppkey AS k2,
           a.s_name AS n1, b.s_name AS n2,
           CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
    FROM supplier a JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    ORDER BY nation, k1, k2
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching — the record-linkage primitive: supplier
    names within one nation block whose edit distance is <= 1 (typo-level
    variants). The quadratic term is BLOCKED (per-nation equality join,
    like every near-dup operator here), and levenshtein runs JVM-side on
    both engines — the same operator names in pyspark.sql.functions and
    DuckDB, oracle-exact. At 100 TB the blocks come from a cheaper
    canopy (phonetic key, name prefix, LSH over character n-grams) and
    the same bounded pairwise verify runs inside each."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    a = s.alias("a")
    b = s.alias("b")
    dist = F.levenshtein(F.col("a.s_name"), F.col("b.s_name"))
    return (
        a.join(
            b,
            (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .filter(dist <= 1)
        .select(
            F.col("a.s_nationkey").alias("nation"),
            F.col("a.s_suppkey").alias("k1"),
            F.col("b.s_suppkey").alias("k2"),
            F.col("a.s_name").alias("n1"),
            F.col("b.s_name").alias("n2"),
            dist.cast("int").alias("dist"),
        )
        .orderBy("nation", "k1", "k2")
    )


# ------- SimHash with an EXACT cross-engine oracle (r11) ----------------
# dedup_simhash above votes with Spark's xxhash64, so its evidence is
# rows-only by design. This variant swaps in a polynomial token hash both
# engines compute bit-identically with INTEGER arithmetic —
#   h(token) = fold over code points: (acc*31 + code) mod (2^31 - 1)
# (31 usable vote bits; acc*31 + 0x10FFFF stays far under 2^63) — making
# the whole pipeline (tokenize → token hash → per-bit votes → 31-bit
# fingerprint → cluster) value-hash replayable by DuckDB. Same one-pass
# vote fold as dedup_simhash; the per-character inner fold costs
# O(total chars) once per document, which is the floor for any
# content-defined fingerprint.

SIMHASHX_BITS = 31
SIMHASHX_MOD = 2147483647  # 2^31 - 1 (prime)


def _poly_token_hash(t: Column) -> Column:
    """(((0*31+c1)*31+c2)…) mod 2^31-1 over the token's code points —
    identical in Spark and DuckDB (pure int64 ops, no float, no
    engine hash function)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, i: (acc * 31 + F.ascii(t.substr(i, F.lit(1))).cast("long"))
        % SIMHASHX_MOD,
    )


# shared fingerprint CTE prefix (toks -> token hashes -> votes -> fp):
# both exact-SimHash oracles replay the identical arithmetic from here
_SIMHASHX_FP_CTES = f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents),
    th AS (
        SELECT doc_id,
               list_transform(ts, t ->
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, length(t)+1),
                               i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
                       (acc, c) -> (acc * 31 + c) % {SIMHASHX_MOD})) AS hs
        FROM toks),
    votes AS (
        SELECT doc_id,
               list_transform(range({SIMHASHX_BITS}), b ->
                   list_sum(list_transform(hs,
                       h -> CASE WHEN (h // (1 << b)) % 2 = 1 THEN 1 ELSE -1 END))) AS vs
        FROM th),
    fp AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range({SIMHASHX_BITS}),
                   b -> CASE WHEN vs[b+1] > 0 THEN (1 << b) ELSE 0 END)) AS BIGINT)
                   AS simhash
        FROM votes)
"""

_SIMHASHX_ORACLE = (
    _SIMHASHX_FP_CTES
    + """
    SELECT simhash, CAST(COUNT(*) AS BIGINT) AS cluster_size,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
    FROM fp GROUP BY simhash HAVING COUNT(*) > 1 ORDER BY simhash
"""
)


def _simhashx_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): the integer-exact SimHash fingerprint of every
    document — one scan, votes folded in a single aggregate pass exactly
    like dedup_simhash. Shared by the Hamming-0 cluster query and the
    banded Hamming<=3 pair query so the fingerprint definition cannot
    drift between them (or their oracles, which share _SIMHASHX_FP_CTES
    the same way).

    The per-character polynomial fold is the costliest projection in the
    module (O(total chars) with per-char substr+ascii); on a
    single-row-group local file the whole fold ran on ONE core
    (guide §2.5, unsplittable input) — spread_for_kernel fans the raw
    (doc_id, text) rows out first (measured 1.36 s → 0.75 s at sf0.1;
    no-op once the scan has natural splits)."""
    d = spread_for_kernel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    hashes = F.transform(toks, _poly_token_hash)
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(SIMHASHX_BITS)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), SIMHASHX_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )
    return d.select("doc_id", fingerprint.alias("simhash"))


@register("dedup_simhash_exact", oracle=_SIMHASHX_ORACLE)
def dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup clusters (Hamming-0 groups) under the
    integer-exact polynomial hash family — the full fingerprint
    trajectory value-hashed against DuckDB replaying identical
    arithmetic (the same exactness upgrade sim_ann_lsh_indexed gives
    LSH)."""
    return (
        _simhashx_fingerprints(spark, sf_dir)
        .groupBy("simhash")
        .agg(
            F.count("*").alias("cluster_size"),
            # comma-joined STRING, not an array: no array-typed column has
            # ever held a driver window slot, and the driver's hasher
            # renders Spark/DuckDB list cells through different pandas
            # paths — the same per-engine-rendering hazard class as
            # DecimalType (registry guard), avoided the same way
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id"))).cast("array<string>"),
                ",",
            ).alias("doc_ids"),
        )
        .filter(F.col("cluster_size") > 1)
        .orderBy("simhash")
    )


# Hamming-distance near-dup: the canonical SimHash dedup semantics
# (Manku/Jain/Das Sarma, WWW'07 — "Detecting Near-Duplicates for Web
# Crawling"): two documents are near-dups when their fingerprints differ
# in at most SIMHASHX_HAMMING_K bits. The quadratic pair space is cut by
# the paper's pigeonhole blocking: split the fingerprint into
# SIMHASHX_HAMMING_K + 1 bands — any pair within Hamming K agrees
# EXACTLY on at least one whole band — so candidates come from an
# equality join on (band, band_value) and only candidates pay the
# bit_count verify. No false negatives by construction; false positives
# are filtered by the exact Hamming check.
#
# The OUTPUT is suppression, not pair enumeration: doc b is suppressed
# when some a < b sits within Hamming K, and its representative is the
# MINIMUM such a. On this corpus pair enumeration would be the wrong
# operator — the synthetic documents are near-dup DENSE (sf0.1: 1.36 M
# qualifying pairs from 5 k docs, one band bucket holding 84% of the
# corpus), and a real 100 TB dedup never lists pairs either; it picks
# survivors. Suppression bounds the output by n_docs and lets the
# verify+argmin fold into ONE partially-aggregated groupBy after the
# banded self-join (AQE splits the skewed band keys; no bucket
# collect_list ever materializes a mega-array).
SIMHASHX_HAMMING_K = 3
SIMHASHX_BANDS = SIMHASHX_HAMMING_K + 1  # 4 bands of 8 bits over 31 bits
SIMHASHX_BAND_BITS = 8

# Data-driven band widening (r11 verdict "Next round" #4 — the in-code
# promise "at 100 TB widen the bands" made mechanical): when the plain
# 4×8-bit blocking histogram shows any (band, band_val) bucket holding
# more than this fraction of the corpus, the within-bucket candidate
# space is quadratic in a near-corpus-sized bucket, so the operator
# switches to the WWW'07 COMBINATION blocking — split the fingerprint
# into 6 narrow bands; a pair within Hamming 3 damages at most 3 bands,
# so at least one of the C(6,3)=20 3-band combinations survives intact
# on both sides. Keys widen from 8 to 15-16 agreed bits (fewer false
# collisions) at the cost of 20 blocking rows per doc instead of 4 —
# the same no-false-negative guarantee, the same exact verify.
SIMHASHX_BUCKET_FRAC = 0.5
SIMHASHX_WIDE_OFFSETS = (0, 5, 10, 15, 20, 25)  # 5,5,5,5,5,6-bit bands
SIMHASHX_WIDE_WIDTHS = (5, 5, 5, 5, 5, 6)


def _simhashx_blocking_keys(wide: bool) -> Column:
    """Array of blocking keys (one LONG per key) for a fingerprint in
    column ``simhash``. Plain: key = band_index·2^8 | band_value (4 keys).
    Wide: key = combo_index·2^18 | v_i·2^12 | v_j·2^6 | v_k over every
    3-of-6 band combination (20 keys, each encoding 15-16 fingerprint
    bits). Both satisfy the pigeonhole guarantee for Hamming <= 3."""
    sh = F.col("simhash")
    if not wide:
        return F.array(
            *[
                F.lit(b << SIMHASHX_BAND_BITS).cast("long")
                + F.shiftright(sh, SIMHASHX_BAND_BITS * b).bitwiseAND(
                    F.lit((1 << SIMHASHX_BAND_BITS) - 1)
                )
                for b in range(SIMHASHX_BANDS)
            ]
        )
    from itertools import combinations

    vals = [
        F.shiftright(sh, o).bitwiseAND(F.lit((1 << w) - 1)).cast("long")
        for o, w in zip(SIMHASHX_WIDE_OFFSETS, SIMHASHX_WIDE_WIDTHS)
    ]
    keys = []
    for ci, (i, j, k) in enumerate(combinations(range(len(vals)), 3)):
        keys.append(
            F.lit(ci << 18).cast("long")
            + F.shiftleft(vals[i], 12)
            + F.shiftleft(vals[j], 6)
            + vals[k]
        )
    return F.array(*keys)


def _simhashx_candidates(fp: DataFrame, wide: bool) -> DataFrame:
    """Candidate pairs (doc_id, rep, hamming) from the blocking self-join
    — BEFORE the Hamming filter and the suppression aggregate, so tests
    can measure how many pairs each blocking scheme pays to verify.
    Duplicate pairs across keys are NOT collapsed here (the final
    aggregate absorbs them — cheaper than a DISTINCT shuffle)."""
    banded = fp.select(
        "doc_id", "simhash", F.explode(_simhashx_blocking_keys(wide)).alias("key")
    )
    a, c = banded.alias("a"), banded.alias("c")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("c.simhash"))).cast(
        "int"
    )
    return a.join(
        c,
        (F.col("a.key") == F.col("c.key")) & (F.col("a.doc_id") < F.col("c.doc_id")),
    ).select(
        F.col("c.doc_id").alias("doc_id"),
        F.col("a.doc_id").alias("rep"),
        hamming.alias("hamming"),
    )


def _simhashx_max_bucket_frac(fp: DataFrame) -> float:
    """Largest plain-banding bucket as a fraction of the corpus — ONE
    partial-agg groupBy over the 4n blocking rows (k <= 4·256 keys) and
    a single-row collect; the guard that decides wide blocking."""
    banded = fp.select(F.explode(_simhashx_blocking_keys(wide=False)).alias("key"))
    row = (
        banded.groupBy("key")
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("total"))
        .collect()[0]
    )
    if not row.total:
        return 0.0
    return float(row.mx) / (float(row.total) / SIMHASHX_BANDS)

_SIMHASHX_HAMMING_ORACLE = (
    _SIMHASHX_FP_CTES
    + f"""
    , bands AS (
        SELECT doc_id, simhash, b.b AS band,
               (simhash // (1 << ({SIMHASHX_BAND_BITS} * b.b))) % {1 << SIMHASHX_BAND_BITS} AS band_val
        FROM fp CROSS JOIN
             (SELECT CAST(gs AS BIGINT) AS b FROM range({SIMHASHX_BANDS}) t(gs)) b),
    hits AS (
        SELECT c.doc_id AS doc_id, a.doc_id AS rep,
               CAST(bit_count(xor(a.simhash, c.simhash)) AS INT) AS hamming
        FROM bands a
        JOIN bands c ON a.band = c.band AND a.band_val = c.band_val
                     AND a.doc_id < c.doc_id
        WHERE bit_count(xor(a.simhash, c.simhash)) <= {SIMHASHX_HAMMING_K})
    SELECT doc_id, MIN(rep) AS rep_id,
           CAST(MIN_BY(hamming, rep) AS INT) AS hamming
    FROM hits GROUP BY doc_id ORDER BY doc_id
"""
)


@register("dedup_simhash_hamming", oracle=_SIMHASHX_HAMMING_ORACLE)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup SUPPRESSION at Hamming distance <= 3 (the WWW'07
    semantics): every document that has a lower-id neighbor within
    Hamming 3 reports its minimum such representative. Banded pigeonhole
    blocking (4 bands over the 31-bit integer-exact fingerprint; a pair
    within Hamming 3 shares a whole band) feeds an equality self-join —
    AQE-splittable on skewed band keys, unlike a per-bucket collect_list
    which would materialize one 4k-member array on this corpus — and the
    exact bit_count verify + MIN-representative argmin fold into one
    partially-aggregated groupBy. Cross-key duplicate candidates
    collapse in the same aggregate (no DISTINCT). Output is bounded by
    n_docs.

    Band widening is DATA-DRIVEN (r12): a cheap histogram over the plain
    4×8-bit blocking keys measures the largest bucket; past
    SIMHASHX_BUCKET_FRAC of the corpus (this synthetic corpus: one
    bucket holds 84%) the operator switches to C(6,3) combination
    blocking — 15-16 agreed bits per key instead of 8, cutting the
    false-candidate space while the pigeonhole guarantee and the exact
    verify keep the OUTPUT identical (pinned by the oracle hash and
    tests/test_review_fixes_r12.py on a skew-dense fixture)."""
    fp = _simhashx_fingerprints(spark, sf_dir)
    # the guard pays one extra fingerprint map-pass (the histogram job
    # runs eagerly, the returned plan recomputes fp lazily) — the honest
    # price of a data-driven plan choice; at 100 TB the production knob
    # is persisting fp or deciding from a seeded sample
    wide = _simhashx_max_bucket_frac(fp) > SIMHASHX_BUCKET_FRAC
    hits = _simhashx_candidates(fp, wide).filter(
        F.col("hamming") <= SIMHASHX_HAMMING_K
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.min("rep").alias("rep_id"),
            F.min_by("hamming", "rep").cast("int").alias("hamming"),
        )
        .orderBy("doc_id")
    )
