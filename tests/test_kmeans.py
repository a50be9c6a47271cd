"""Distributed Lloyd's k-means: numpy replay parity, monotone inertia,
plan shape (literal-centroid argmin — no join, one exchange per
iteration), and bit-equivalence of the SQL-string argmin against the
Column-built fold it replaced (r13)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.operators.kmeans import (
    K_CLUSTERS,
    N_ITERS,
    _argmin_struct,
    _dist6,
    kmeans_fit,
)


def _numpy_kmeans(sf_dir: str, k: int, iters: int):
    """Independent replay: same init, 6-dp-rounded distances with cid
    tiebreak, 6-dp-rounded means."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    ids = np.asarray(t["vec_id"])
    emb = np.asarray([np.asarray(e, dtype=np.float64) for e in t["embedding"]])
    order = np.argsort(ids)
    ids, emb = ids[order], emb[order]
    cents = {int(i): emb[ids == i][0].copy() for i in range(k)}

    def assign(cents):
        cids = sorted(cents)
        cmat = np.stack([cents[c] for c in cids])
        d = np.round(((emb[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2), 6)
        best = d.argmin(axis=1)  # argmin takes first (lowest cid) on ties
        return np.asarray([cids[b] for b in best]), d[np.arange(len(emb)), best]

    for _ in range(iters):
        lab, _ = assign(cents)
        cents = {
            int(c): np.round(emb[lab == c].mean(axis=0), 6)
            for c in np.unique(lab)
        }
    lab, dist = assign(cents)
    return lab, dist, cents


def test_kmeans_matches_numpy_replay(spark, sf_dir):
    assigned, cdf = kmeans_fit(spark, sf_dir)
    got = {r["vec_id"]: (r["cid"], r["dist"]) for r in assigned.collect()}
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    lab, dist, cents = _numpy_kmeans(sf_dir, K_CLUSTERS, N_ITERS)
    ids = sorted(t["vec_id"])
    for i, vid in enumerate(ids):
        assert got[vid][0] == lab[i], f"vec {vid}: {got[vid][0]} != {lab[i]}"
        assert abs(got[vid][1] - dist[i]) < 1e-6
    spark_cents = {r["cid"]: np.asarray(r["cent"]) for r in cdf.collect()}
    for c, v in cents.items():
        assert np.allclose(spark_cents[c], v, atol=2e-6)


def test_kmeans_inertia_monotone(spark, sf_dir):
    def total_inertia(iters):
        a, _ = kmeans_fit(spark, sf_dir, iters=iters)
        return a.agg(F.sum("dist").alias("s")).collect()[0]["s"]

    i0, i2 = total_inertia(0), total_inertia(N_ITERS)
    assert i2 <= i0 + 1e-6  # Lloyd's never increases the objective


def test_kmeans_iteration_plan_joinless_single_exchange(spark, sf_dir):
    """r13: the assignment is a literal-centroid argmin PROJECTION, so a
    Lloyd's update job contains no join of any kind and exactly one
    exchange — the map-side-combined (cid, d) groupBy."""
    from minio_iceberg_polaris_lakehouse_spark.operators.similarity import as_double
    from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    assigned = v.select(_argmin_struct(cents)["cid"].alias("cid"), "e")
    per_dim = (
        assigned.select("cid", F.posexplode("e").alias("d", "val"))
        .groupBy("cid", "d")
        .agg(F.sum(F.col("val").cast("decimal(28,12)")).alias("s"))
    )
    plan = per_dim._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1
    # per-dim sums fold map-side: partial aggregation before the exchange
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_argmin_struct_matches_column_fold(spark, sf_dir):
    """The SQL-string argmin (literal round-trip via {x!r}D) is
    bit-identical to the Column-built `_dist6` + MIN(struct) form it
    replaced, on real corpus floats."""
    from minio_iceberg_polaris_lakehouse_spark.operators.similarity import as_double
    from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    cents = [
        (int(r["vec_id"]), list(r["e"]))
        for r in v.filter(F.col("vec_id") < 3).collect()
    ]
    b = _argmin_struct(cents)
    got = {
        r["vec_id"]: (r["cid"], r["dist"])
        for r in v.select("vec_id", b["cid"].alias("cid"), b["dist"].alias("dist")).collect()
    }
    cdf = spark.createDataFrame(cents, "cid int, cent array<double>")
    scored = v.crossJoin(F.broadcast(cdf)).select(
        "vec_id", "cid", _dist6(F.col("e"), F.col("cent")).alias("dist")
    )
    ref_rows = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .select("vec_id", "b.cid", "b.dist")
        .collect()
    )
    ref = {r["vec_id"]: (r["cid"], r["dist"]) for r in ref_rows}
    assert got == ref


def test_argmin_struct_rejects_non_finite_centroids():
    """NaN/inf would render as the unparseable literal `nanD`/`infD`:
    the argmin builder names the bad centroid instead."""
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match=r"centroid 3 has non-finite component .* dimension 1"):
            _argmin_struct([(0, [0.0, 1.0]), (3, [0.5, bad])])
