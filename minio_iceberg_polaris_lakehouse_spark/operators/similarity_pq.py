"""Product-quantization ANN (EXT scope, SURVEY.md §2.14 X3): the
memory-compression scale path of the ANN portfolio (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public paper).

The 64-dim float corpus is compressed to M_SUB=8 one-byte codes per
vector (64× smaller than float64 arrays): each 8-dim subvector is
replaced by the id of its nearest centroid in a per-subspace codebook of
K_CODES=16 entries. Queries score candidates by Asymmetric Distance
Computation (ADC): a per-(query, subspace) table of 16 exact
query-to-centroid distances is precomputed once, and a corpus vector's
approximate distance is just M_SUB table lookups — no float vector math
per candidate. The top PQ_CAND_FACTOR*k candidates are exact-rescored
(cosine over the original floats), repairing quantization ranking error
at O(candidates) cost.

Scale design (100 TB): codebook training runs on a bounded deterministic
SAMPLE collected to the driver (1024 vectors — the standard faiss
recipe; cost independent of corpus size), and the codebook itself is
~4 KB closure state shipped to executors. Encoding is one Arrow-batched
numpy pass over the corpus scan — map-only, no shuffle. Scoring fans the
8-byte code rows (not the float vectors) across queries, so the bytes
crossing the exchange per corpus row are codes + ids, 64× less than
brute force; the float embeddings are touched again only for the
candidate rescore join. Where plain Spark SQL can't express
argmin-over-codebook efficiently, the kernels are vectorized pandas
UDFs (Arrow-batched), never row-at-a-time Python.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from minio_iceberg_polaris_lakehouse_spark.operators.similarity import (
    EMB_DIM,
    N_QUERIES,
    TOP_K,
    as_double,
    cosine,
    sim_topk_bruteforce,
)
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import (
    load_table,
    sort_result,
    spread_for_kernel,
)

M_SUB = 8  # subspaces (8 dims each over the 64-dim corpus)
K_CODES = 16  # codebook entries per subspace (4-bit codes)
N_TRAIN = 1024  # driver-side training sample cap (faiss-style)
KMEANS_ITERS = 8
PQ_CAND_FACTOR = 8  # exact-rescore depth: factor * k candidates
PQ_RECALL_BOUND = 0.50  # aggregate recall@10 floor (measured ~0.9 at sf0.01)


def _train_sample(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Deterministic bounded sample for codebook training: corpus vectors
    ranked by xxhash64(vec_id) (same device as the IVF quantizer seed),
    capped at N_TRAIN, collected ORDER-STABLE to the driver. At 100 TB
    this is the only driver-side data movement and it is O(N_TRAIN)."""
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= N_QUERIES)  # don't train on the queries
        .select("vec_id", as_double("embedding").alias("e"))
        .withColumn("h", F.xxhash64("vec_id", F.lit(11)))
        .orderBy("h", "vec_id")
        .limit(N_TRAIN)
        .collect()
    )
    return np.array([r.e for r in rows], dtype=np.float64)


def train_codebook(train: np.ndarray) -> np.ndarray:
    """Per-subspace Lloyd k-means, deterministically seeded: returns a
    (M_SUB, K_CODES, sub_dim) codebook. Empty clusters are re-seeded to
    the point farthest from its centroid (standard repair), keeping the
    codebook full-rank even on degenerate samples."""
    n, dim = train.shape
    sub = dim // M_SUB
    rng = np.random.default_rng(0)
    books = np.empty((M_SUB, K_CODES, sub))
    for m in range(M_SUB):
        x = train[:, m * sub : (m + 1) * sub]
        cent = x[rng.choice(n, size=K_CODES, replace=False)].copy()
        for _ in range(KMEANS_ITERS):
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for k in range(K_CODES):
                mask = assign == k
                if mask.any():
                    cent[k] = x[mask].mean(axis=0)
                else:
                    cent[k] = x[d.min(axis=1).argmax()]
        books[m] = cent
    return books


def _encode_codes(books: np.ndarray):
    """Vectorized PQ encoder as an Arrow-batched pandas UDF: for a batch
    of vectors, the (batch, K_CODES) distance matrix per subspace is one
    numpy broadcast; output is the M_SUB int codes."""
    sub = books.shape[2]

    def enc(series: pd.Series) -> pd.Series:
        x = np.array(series.tolist(), dtype=np.float64)
        codes = np.empty((x.shape[0], M_SUB), dtype=np.int32)
        for m in range(M_SUB):
            xs = x[:, m * sub : (m + 1) * sub]
            d = ((xs[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d.argmin(axis=1)
        return pd.Series(codes.tolist())

    return F.pandas_udf(enc, ArrayType(IntegerType()))


def _adc_scorer_all(books: np.ndarray, queries: dict[int, np.ndarray]):
    """ADC as an Arrow-batched pandas UDF over codes, scoring EVERY query
    per code row (one array of N_QUERIES distances, qid-sorted): the
    per-(query, subspace, code) distance tables — N_QUERIES × M_SUB ×
    K_CODES floats, ~4 KB — are precomputed in the closure, so scoring a
    corpus code row is M_SUB numpy table takes per query, no vector math.
    r13 (guide §4): returning all queries at once keeps the N_QUERIES-way
    fan-out OUT of the Arrow boundary — each corpus code row crosses the
    JVM↔Python boundary once instead of once per query, and the
    crossJoin duplication happens after, as a cheap in-JVM posexplode."""
    sub = books.shape[2]
    qids = sorted(queries)
    tables = np.empty((len(qids), M_SUB, K_CODES))
    for j, qid in enumerate(qids):
        qv = queries[qid]
        for m in range(M_SUB):
            tables[j, m] = (
                ((qv[m * sub : (m + 1) * sub])[None, :] - books[m]) ** 2
            ).sum(axis=1)
    sub_idx = np.arange(M_SUB)

    def score(codes: pd.Series) -> pd.Series:
        c = np.array(codes.tolist(), dtype=np.int64)
        out = np.empty((len(c), len(qids)))
        for j in range(len(qids)):
            out[:, j] = tables[j][sub_idx, c].sum(axis=1)
        return pd.Series(out.tolist())

    return F.pandas_udf(score, ArrayType(DoubleType()))


def _adc_rank(codes: DataFrame, books: np.ndarray, queries: dict[int, np.ndarray]):
    """Shared ADC candidate ranking over a (vec_id, codes) frame: score
    all queries in one Arrow pass, posexplode to (q_id, neighbor_id,
    adist) rows in the JVM, and keep the PQ_CAND_FACTOR·k best per query
    (same window, same (adist, neighbor_id) tiebreak as the r12 shape —
    the distance values are numpy-identical, so the candidate set is
    bit-identical)."""
    qids = sorted(queries)
    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    scored = (
        codes.select("vec_id", _adc_scorer_all(books, queries)(F.col("codes")).alias("ads"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode("ads").alias("pos", "adist"),
        )
        .select(
            F.element_at(qid_arr, F.col("pos") + 1).alias("q_id"),
            "neighbor_id",
            "adist",
        )
        .filter(F.col("neighbor_id") != F.col("q_id"))
    )
    w_cand = Window.partitionBy("q_id").orderBy("adist", "neighbor_id")
    return (
        scored.select("*", F.row_number().over(w_cand).alias("cr"))
        .filter(F.col("cr") <= PQ_CAND_FACTOR * TOP_K)
        .select("q_id", "neighbor_id")
    )


def _rescore_topk(
    cand: DataFrame, v: DataFrame, queries: dict[int, np.ndarray]
) -> DataFrame:
    """Exact cosine rescore of the candidate pairs + final top-k. The
    query vectors are ALREADY collected in the model (driver-side), so
    the query side is a local relation instead of a third corpus scan
    (r13, guide §6/§1 — same floats, bit-identical cosine); the neighbor
    side joins the raw corpus frame (no kernel spread — this join has no
    Python kernel to parallelize)."""
    spark = v.sparkSession
    qv = spark.createDataFrame(
        [(int(qid), [float(x) for x in queries[qid]]) for qid in sorted(queries)],
        "q_id bigint, qe array<double>",
    )
    rescored = (
        cand.join(v.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("e")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        rescored.select("*", F.row_number().over(w).cast("int").alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .transform(sort_result, "q_id", "rn")
    )


# session-level memo for the trained model: the codebook and query
# vectors are deterministic pure functions of the corpus (seeded sampler
# + seeded k-means), so re-deriving them per run would only repeat two
# driver-side jobs — same precedent as the _IVF_INDEX_CACHE. At 100 TB
# the codebook is what you'd persist next to the index.
_PQ_MODEL_CACHE: dict[tuple[str, str], tuple[np.ndarray, dict[int, np.ndarray]]] = {}
_PQ_LOCK = threading.Lock()  # serialize check-then-build on both caches


def _pq_model(spark: SparkSession, sf_dir: str, v: DataFrame):
    key = (spark.sparkContext.applicationId, sf_dir)
    with _PQ_LOCK:
        if key not in _PQ_MODEL_CACHE:
            books = train_codebook(_train_sample(spark, sf_dir))
            q_rows = v.filter(F.col("vec_id") < N_QUERIES).collect()  # metadata-sized
            _PQ_MODEL_CACHE[key] = (
                books,
                {int(r.vec_id): np.array(r.e) for r in q_rows},
            )
        return _PQ_MODEL_CACHE[key]


def _pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN pipeline: sample → train → encode (map-only) → ADC
    candidate ranking over code rows → exact cosine rescore of
    PQ_CAND_FACTOR*k candidates → top-k."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    books, queries = _pq_model(spark, sf_dir, v)
    # spread the single local split so the encode kernel parallelizes
    # (shared helper — see its docstring); the rescore join below reads
    # the UNSPREAD frame (no kernel there, so no exchange needed)
    codes = spread_for_kernel(v).select(
        "vec_id", _encode_codes(books)(F.col("e")).alias("codes")
    )
    cand = _adc_rank(codes, books, queries)
    return _rescore_topk(cand, v, queries)


@register(
    "sim_ann_pq",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           {TOP_K} AS k,
           TRUE AS recall_ok
    """,
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under the portfolio's value-checked
    quality contract: recall@k against the in-plan exact brute-force twin
    must clear PQ_RECALL_BOUND. Code assignments are codebook-specific,
    but a broken trainer (collapsed clusters), encoder (wrong subspace
    slicing), or ADC table (transposed lookup) drops recall to ~0 and
    flips the boolean the driver hashes. The exact twin runs at test
    scale only — at 100 TB you run the index, not the verification."""
    ann = _pq_topk(spark, sf_dir).select("q_id", "neighbor_id")
    exact = sim_topk_bruteforce(spark, sf_dir).select("q_id", "neighbor_id")
    hits = ann.join(exact, ["q_id", "neighbor_id"], "inner")
    return hits.agg(
        F.lit(N_QUERIES).cast("long").alias("n_queries"),
        F.lit(TOP_K).alias("k"),
        (F.count("*") / (N_QUERIES * TOP_K) >= PQ_RECALL_BOUND).alias("recall_ok"),
    )


@register("sim_ann_pq_topk", oracle=None)
def sim_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw PQ top-k (rows-only: code layout is codebook-specific; quality
    gated by sim_ann_pq's recall bound and tests/test_similarity_pq.py)."""
    return _pq_topk(spark, sf_dir)


# ---------------- persisted PQ index (codes + codebook at rest) --------
_PQ_INDEX_CACHE: dict[tuple[str, str], str] = {}  # (appId, sf_dir) -> wh root


def build_pq_index(spark: SparkSession, sf_dir: str, wh_root: str):
    """Materialize the PQ index as warehouse tables — the deployment
    shape the in-plan variant's docstring promises: ``ann.pq_codes``
    holds the corpus as M_SUB ints per vector (the 64×-compressed
    representation candidate ranking scans at serve time; the float
    embeddings are only read back for the O(candidates) rescore) and
    ``ann.pq_codebook`` persists the trained model (one row per
    (subspace, code) center), so serving nodes rebuild the ~4 KB ADC
    tables from the catalog instead of retraining. Build cost is one
    encode pass; OVERWRITE commits keep a retry idempotent (same rule as
    build_ivf_index). Returns the Warehouse."""
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, wh_root)
    codes_t = wh.create_table(
        "ann", "pq_codes", "vec_id bigint, codes array<int>", if_not_exists=True
    )
    book_t = wh.create_table(
        "ann", "pq_codebook", "m int, code int, center array<double>", if_not_exists=True
    )
    if codes_t.current_snapshot_id() and book_t.current_snapshot_id():
        return wh
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    books, _queries = _pq_model(spark, sf_dir, v)
    book_rows = [
        (m, k, [float(x) for x in books[m][k]])
        for m in range(M_SUB)
        for k in range(K_CODES)
    ]
    book_t.overwrite(
        spark.createDataFrame(book_rows, "m int, code int, center array<double>")
    )
    codes = spread_for_kernel(v).select(
        "vec_id", _encode_codes(books)(F.col("e")).alias("codes")
    )
    codes_t.overwrite(codes)
    return wh


def _pq_index_wh(spark: SparkSession, sf_dir: str):
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    with _PQ_LOCK:
        if key not in _PQ_INDEX_CACHE:
            _PQ_INDEX_CACHE[key] = tempfile.mkdtemp(prefix="lh_pq_idx_")
        root = _PQ_INDEX_CACHE[key]
    return build_pq_index(spark, sf_dir, root)


def pq_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve PQ top-k from the PERSISTED index: the codebook table
    rebuilds the numpy model (metadata-sized collect — what a serving
    node loads from the catalog), ADC ranks the at-rest CODES table
    (64× fewer bytes scanned than the float corpus), and only the
    surviving PQ_CAND_FACTOR·k candidates join back to the embeddings
    for the exact rescore. Results are bit-identical to the in-plan
    variant (same codebook, same ADC order, same rescore)."""
    wh = _pq_index_wh(spark, sf_dir)
    book_rows = wh.table("ann", "pq_codebook").read().collect()
    books = np.empty((M_SUB, K_CODES, EMB_DIM // M_SUB))
    for r in book_rows:
        books[r.m][r.code] = r.center
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    q_rows = v.filter(F.col("vec_id") < N_QUERIES).collect()
    queries = {int(r.vec_id): np.array(r.e) for r in q_rows}
    codes = wh.table("ann", "pq_codes").read()
    cand = _adc_rank(codes, books, queries)
    return _rescore_topk(cand, v, queries)


@register(
    "sim_ann_pq_indexed",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           {TOP_K} AS k,
           TRUE AS recall_ok
    """,
)
def sim_ann_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index PQ variant under the same recall contract as
    sim_ann_pq: build→persist (codes + codebook tables)→serve must
    recall ≥ PQ_RECALL_BOUND of the exact twin's neighbors. The serve
    path scans the 64×-compressed codes table, never re-encoding the
    corpus; tests additionally pin bit-identity with the in-plan
    variant."""
    ann = pq_indexed_topk(spark, sf_dir).select("q_id", "neighbor_id")
    exact = sim_topk_bruteforce(spark, sf_dir).select("q_id", "neighbor_id")
    hits = ann.join(exact, ["q_id", "neighbor_id"], "inner")
    return hits.agg(
        F.lit(N_QUERIES).cast("long").alias("n_queries"),
        F.lit(TOP_K).alias("k"),
        (F.count("*") / (N_QUERIES * TOP_K) >= PQ_RECALL_BOUND).alias("recall_ok"),
    )
