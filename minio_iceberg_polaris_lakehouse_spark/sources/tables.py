"""Table sources for the engine's test corpus (TPC-H-ish star schema +
events stream table + LLM-pipeline tables).

Reference parity: the reference reads tables via ``spark.sql("SELECT * FROM
catalog.ns.t")`` / ``spark.table(...)`` (reference:
workspace/notebooks/getting_started.ipynb:102, iceberg_queries.ipynb:233);
here the equivalent source is a parquet scan with schema from the footer —
no inference pass, no driver-side materialization, so the same loader works
whether the path holds 6 MB or 100 TB.

The ``events`` table stores TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong`` the scan yields int64 nanoseconds
and we convert to ``timestamp_ntz`` in a projection (stays inside
whole-stage codegen; truncation to microseconds matches what SQL engines,
incl. the DuckDB oracle, do with nanosecond parquet).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Per-session relation cache: (applicationId, sf_dir, name) → DataFrame.
# Caches ONLY the analyzed relation (file listing + footer schema — pure
# metadata); every action on the returned frame still scans the parquet
# bytes, so no result is ever reused across runs. Rationale (guide §1/§6):
# `spark.read.parquet` costs a JVM round-trip + footer read (~70-90 ms
# measured) PER CALL, and a 6-table query paid it six times per run —
# ~45% of rel_q5's steady-state wall time was re-deriving an immutable
# schema. This is the moral equivalent of registering the corpus once in
# a catalog and calling `spark.table(name)` — which is exactly what the
# reference does against its Iceberg catalog. Keyed by applicationId so
# a restarted session can never see another session's JVM objects; the
# corpus directories are read-only fixtures, so the cached file listing
# cannot go stale.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_RELATION_LOCK = threading.Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame (relation cached per session)."""
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    with _RELATION_LOCK:
        cached = _RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integral `div`, not `/`: ns-since-epoch (~1.7e18) exceeds double's
        # 53-bit mantissa, so float division drifts by ±1µs per row
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    with _RELATION_LOCK:
        _RELATION_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (names match the DuckDB
    oracle's pre-registered views)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread_for_kernel(df: DataFrame, *key_cols: str) -> DataFrame:
    """Fan a narrow projection across the cluster before a Python
    (Arrow-batched) kernel or a heavy per-row fold: a small local
    parquet arrives as ONE split, which would run the work serially.
    The repartition moves only the projected columns — negligible next
    to kernel cost — and at 100 TB the scan already has natural splits,
    making this a cheap no-op-shaped rebalance rather than a
    correctness requirement. Shared by the audio codec pipeline, the PQ
    encoder, and the iterative-ML feature spreads.

    With ``key_cols`` (a unique row key) the spread hash-partitions on
    ``pmod(xxhash64(keys), 100·target)`` instead of round-robin: every
    keyless ``repartition(n)`` first pays a LOCAL SORT of its input
    (sortBeforeRepartition, guide §2.5) so retried tasks reproduce the
    same assignment — a deterministic synthetic key needs no sort and
    spreads just as evenly (measured 0.63 s → 0.35 s on the logistic
    feature checkpoint at sf0.1). Callers must only use it when
    downstream results are partitioning-independent (exact/decimal
    aggregates, per-row kernels)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(
            target, F.pmod(F.xxhash64(*key_cols), F.lit(100 * target))
        )
    return df.repartition(target)


def sort_result(df: DataFrame, *cols: Column | str) -> DataFrame:
    """The final ORDER BY of a grouped result the caller collects: gather
    the rows into ONE partition, then sort them locally.

    A global ``orderBy`` plans a range-partitioning exchange, whose
    bounds cost a sampling job over the input before the shuffle runs —
    a whole extra job to order the few rows a GROUP BY, DISTINCT or
    per-group top-k returns. ``repartition(1)`` is a single-partition
    gather with no bounds to compute, and the stages before it keep
    their full parallelism. Not ``coalesce(1)``: that folds the whole
    stage after the last shuffle (a window over every event, say) into
    one task.

    Use it only where the rows go to the driver anyway and their count is
    bounded by a small fixed domain: nation, region, segment, status,
    language, source, a calendar bucket, or top-k per query. A result
    with one row per document, customer or user grows with the data, and
    one task would sort all of it, so it keeps the parallel range sort of
    ``orderBy``; so do row-level sorts, and ``orderBy().limit()`` stays a
    TakeOrderedAndProject. Under ``count()`` the optimizer drops a final
    ``orderBy`` but keeps this gather, which then carries the result rows
    where ``count()`` would have gathered one partial count per
    partition — the same one exchange, cheap only because the result is
    small."""
    return df.repartition(1).sortWithinPartitions(*cols)


def materialize_once(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer proxy frame exactly once (guide §8/§5).

    Column pruning specializes an aggregate per consumer, so two reads of
    the same lightweight proxy (signatures, per-(doc, term) counts, edge
    lists) are never byte-identical subtrees and runtime exchange reuse
    never fires — without a cut, the scan→tokenize→aggregate pipeline
    executes once PER consumer. This is the fingerprint-pass-writes-out
    shape of the 100 TB playbook: one pass computes the proxy, every
    decision reads it.

    Mechanism: LAZY ``localCheckpoint(eager=False)``. Why not the
    alternatives:

    - ``persist``/``cache`` is DISQUALIFIED: it registers the frame in
      the session CacheManager, which substitutes the cached relation
      into any LATER query whose analyzed subplan matches — a second
      invocation of the same query would silently reuse the first
      invocation's materialized intermediate. That is result caching
      across runs, which the bench contract forbids. A localCheckpoint
      RDD is referenced only by the DataFrame object created in THIS
      invocation, so every invocation recomputes from parquet.
    - EAGER localCheckpoint (the r12 shape) runs a separate blocking
      materialization job before the query's own action; lazy checkpoint
      materializes during the first consumer's job (usually a broadcast
      subquery) and every later consumer reads the stored blocks; a
      separate materialization job costs more than it saves at bench
      scale (OPTIMIZATION_r12.md, "Tried, measured, and deliberately
      NOT shipped": an eager checkpoint took IVF cells 0.91 → 1.11 s).

    Trade-off, documented for the 100 TB story: checkpoint blocks are
    unreplicated and the lineage is CUT, so an executor loss fails the
    job instead of recomputing. Proxies passed here must be orders of
    magnitude smaller than their source (counts, signatures, edge
    lists), bounding the re-run cost."""
    return df.localCheckpoint(eager=False)
