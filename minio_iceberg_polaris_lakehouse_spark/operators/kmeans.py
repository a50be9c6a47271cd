"""Distributed k-means (Lloyd's algorithm) over the `embeddings` table —
the corpus-clustering pass a training-data pipeline runs for data maps,
mixture balancing, and semantic bucketing (the same primitive the IVF/PQ
coarse quantizers train on a driver-side sample; here the FULL corpus
iterates distributedly, MLlib-style).

Execution shape per iteration (r13, guide §2.4 — one job, ONE exchange):
  1. ASSIGN: the K×d centroid table is driver state between iterations,
     so it is injected as LITERALS and the argmin is a scan-local
     `array_min` over K `aggregate(zip_with(...))` distance structs —
     no broadcast, no crossJoin, no per-vector exchange (the r12 shape
     shuffled one row per vector per pass just to run MIN(struct)).
  2. UPDATE: per-dimension means via posexplode + decimal-exact SUM
     (map-side partials collapse to d×K groups); the ≤K×d mean rows
     return to the driver and are re-packed to arrays in Python.
     Only the K×d centroid table (8×64 doubles here) moves per
     iteration — the corpus never does, exactly how MLlib's KMeans
     iterates at any scale (at 100 TB you would also `persist()` the
     double-cast corpus across the iteration jobs).

Engine-independent determinism (so a DuckDB oracle can replay the WHOLE
iteration history and hash-match the result): distances are rounded to
6 dp before the argmin with cid tiebreak; centroid means are
decimal-exact then rounded to 6 dp; the distance fold is the sequential
array-order fold the similarity operators already pin
(`list_sum(list_transform(list_zip(...)))` ≡ `aggregate(zip_with(...))`).
Empty clusters die identically in both engines (no row from the mean).

Reference scope: the reference curates corpora with stock Spark SQL
(workspace/notebooks, warehouse_helpers.py); clustering is part of the
§2.14 training-data operator surface this engine adds as first-class.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.operators.similarity import as_double, norm
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table

K_CLUSTERS = 8
N_ITERS = 2  # centroid-update rounds before the final assignment


def _dist6(e, c):
    """Squared euclidean distance, sequential array-order fold, 6 dp."""
    return F.round(
        F.aggregate(
            F.zip_with(e, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _argmin_struct(cents: list[tuple[int, list[float]]]):
    """(dist, cid) argmin over LITERAL centroids as one projection
    expression — the broadcast-assign pass with the exchange removed
    (guide §2.4): the K×d centroid table is driver state between
    iterations anyway, so injecting it as literals replaces
    crossJoin(broadcast)+groupBy(vec_id) (one full corpus shuffle per
    pass) with a scan-local `array_min` over K distance structs.

    The whole expression is built as ONE SQL string and parsed once.
    The alternatives cost more per iteration (their A/B timings were
    never recorded): building the same tree with pyspark Column lambdas
    pays py4j/analysis time per iteration plan; spelling the distance as
    a flat 64-term arithmetic chain makes it whole-stage codegen
    material whose embedded literals CHANGE per iteration, so janino
    recompiles every pass. The SQL-parsed higher-order fold is parsed
    once and evaluated interpreted (HOFs have no codegen — and need
    none here). The fold itself is token-identical to `_dist6`
    (same aggregate/zip_with, acc from 0.0, left-to-right), `{x!r}D`
    literals round-trip doubles exactly, and struct comparison is
    lexicographic on (dist, cid) — exactly the `MIN(struct(dist, cid))`
    argmin the grouped form computed, so assignments are bit-identical.

    Every component must be finite: `repr` of NaN/inf is no SQL literal
    (`nanD`), so a non-finite centroid raises here, naming it."""
    structs = []
    for cid, c in cents:
        for d, x in enumerate(c):
            if not math.isfinite(x):
                raise ValueError(
                    f"k-means centroid {cid} has non-finite component {x!r} at dimension {d}; "
                    "the input embeddings must be finite"
                )
        arr = "array(" + ", ".join(f"{x!r}D" for x in c) + ")"
        dist = (
            f"round(aggregate(zip_with(e, {arr}, (x, y) -> (x - y) * (x - y)),"
            f" 0.0D, (acc, x) -> acc + x), 6)"
        )
        structs.append(f"named_struct('dist', {dist}, 'cid', {int(cid)})")
    return F.expr(f"array_min(array({', '.join(structs)}))")


def _update_rows(v: DataFrame, cents: list[tuple[int, list[float]]]) -> list:
    """One Lloyd's update job: assignment as a literal-argmin projection
    (no exchange) feeding the posexplode → groupBy(cid, d) decimal-exact
    per-dimension means — the ONLY exchange in the iteration, carrying
    map-side-combined (cid, d) partials. The K×d mean rows (≤512 here)
    come back to the driver and are re-packed to centroid arrays in
    plain Python (replacing a second, collect_list exchange). Means are
    rounded to 6 dp in Spark BEFORE collect, so repacking moves exact
    doubles only."""
    assigned = v.select(_argmin_struct(cents)["cid"].alias("cid"), "e")
    per_dim = (
        assigned.select("cid", F.posexplode("e").alias("d", "val"))
        .groupBy("cid", "d")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double") / F.count("*"), 6
            ).alias("m")
        )
    )
    return per_dim.collect()


def kmeans_fit(
    spark: SparkSession, sf_dir: str, k: int = K_CLUSTERS, iters: int = N_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Run `iters` Lloyd's rounds; returns (final_assignment, centroids).
    Initial centroids are the vectors with vec_id < k (deterministic)."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    # No spread / no checkpoint: at this corpus (2000 vectors) an extra
    # materialization job or repartition wave costs MORE than it saves
    # (OPTIMIZATION_r12.md, "Tried, measured, and deliberately NOT
    # shipped": a checkpoint job took IVF cells 0.91 → 1.11 s, a fan-out
    # shuffle took dedup_exact 0.118 → 0.372 s), and at
    # scale the scan has natural splits so the literal-argmin + per-dim
    # folds parallelize per split anyway (there you would persist() the
    # double-cast corpus across the iteration jobs, MLlib-style).
    cents = [
        (int(r["cid"]), list(r["cent"]))
        for r in v.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("cid"), F.col("e").alias("cent"))
        .collect()
    ]
    for _ in range(iters):
        rows = _update_rows(v, cents)
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cid"]), {})[int(r["d"])] = float(r["m"])
        # identical to array_sort(collect_list(struct(d, m))) → transform:
        # dimensions re-packed in d order per surviving cluster
        cents = [
            (cid, [dims[d] for d in sorted(dims)]) for cid, dims in sorted(by_cid.items())
        ]
    b = _argmin_struct(cents)
    assigned = v.select(
        "vec_id", "e", b["cid"].alias("cid"), b["dist"].alias("dist")
    )
    cdf = spark.createDataFrame(cents, "cid int, cent array<double>")
    return assigned, cdf


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled-CTE DuckDB replay of the exact same iteration history."""
    dist = (
        "ROUND(list_sum(list_transform(list_zip(v.e, c.cent), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )
    ctes = [
        "WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        " FROM embeddings)",
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cid, e AS cent FROM v WHERE vec_id < {k})",
    ]
    for i in range(iters + 1):
        ctes.append(
            f"a{i} AS (SELECT vec_id, cid, dist FROM ("
            f" SELECT v.vec_id, c.cid, {dist} AS dist,"
            f" ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn"
            f" FROM v CROSS JOIN c{i} c) WHERE rn = 1)"
        )
        if i < iters:
            ctes.append(
                f"c{i + 1} AS (SELECT cid, list(m ORDER BY d) AS cent FROM ("
                f" SELECT cid, d,"
                f" ROUND(CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS m"
                f" FROM (SELECT a.cid AS cid, generate_subscripts(v.e, 1) AS d,"
                f" unnest(v.e) AS val FROM a{i} a JOIN v USING (vec_id))"
                f" GROUP BY cid, d) GROUP BY cid)"
            )
    final = (
        f"SELECT s.cid AS cid, CAST(s.n_points AS BIGINT) AS n_points,"
        f" ROUND(sqrt(list_sum(list_transform(c.cent, x -> x * x))), 6) AS centroid_norm,"
        f" s.inertia AS inertia"
        f" FROM (SELECT cid, COUNT(*) AS n_points,"
        f" CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE) AS inertia"
        f" FROM a{iters} GROUP BY cid) s"
        f" JOIN c{iters} c ON s.cid = c.cid ORDER BY cid"
    )
    return ", ".join(ctes) + " " + final


@register("ml_kmeans_clusters", oracle=_kmeans_oracle(K_CLUSTERS, N_ITERS))
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster fit summary after N_ITERS distributed Lloyd's rounds:
    member count, final centroid norm, and decimal-exact inertia.  The
    DuckDB oracle replays every assignment and every centroid update of
    the iteration history — a hash match proves the distributed iterative
    fit is exactly reproducible on another engine."""
    assigned, cdf = kmeans_fit(spark, sf_dir)
    stats = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum(F.col("dist").cast("decimal(18,6)")).cast("double").alias("inertia"),
    )
    norms = cdf.select("cid", F.round(norm(F.col("cent")), 6).alias("centroid_norm"))
    return (
        stats.join(F.broadcast(norms), "cid")
        .select(F.col("cid").cast("int").alias("cid"), "n_points", "centroid_norm", "inertia")
        .orderBy("cid")
    )
