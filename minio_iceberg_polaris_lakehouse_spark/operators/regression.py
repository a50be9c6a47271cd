"""Distributed linear / ridge regression via single-pass normal
equations — the pattern a training-data pipeline uses to fit quality
models (length predictors, heuristic-score calibrators) over corpus
features WITHOUT an ML-library dependency and without ever iterating
over the data.

The whole fit is ONE distributed aggregation: accumulate the moment
matrix X'X and vector X'y as map-side-combined SUMs (k features → a
(k+1)×(k+1) symmetric system including the intercept), then solve the
tiny system. At 100 TB the data pass stays a single whole-stage-codegen
scan with partial aggregation (one row per partition crosses the
exchange); only k² numbers ever reach the solve.

Two solve paths:
- `ml_linear_regression` (registered, oracle-checked): k=2, the
  3×3 system solved IN-PLAN by Cramer's rule — zero driver-side
  compute, and the DuckDB oracle replays the IDENTICAL moment sums and
  determinant arithmetic, so the coefficients hash-match exactly.
- `fit_linear_regression` (library API, any k): moments collect as ONE
  row (metadata-sized, k² doubles) and the driver solves with a plain
  Gaussian elimination; optional ridge λ adds to the normal-equation
  diagonal (never the intercept). Cross-checked against the in-plan
  Cramer path and against a NumPy lstsq in tests.

Determinism for the oracle: features and target are integer counts, so
the moment sums are EXACT (DECIMAL(38,0) accumulation — no float
accumulation-order sensitivity); both engines then run the same
double-precision determinant expressions and round to 6 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import (
    load_table,
    sort_result,
    spread_for_kernel,
)

_DEC = "decimal(19,0)"


def _moments(df: DataFrame, features: list[str], target: str) -> DataFrame:
    """One-row exact moment frame for the normal equations: n, Σxi, Σy,
    Σxi·xj (i≤j), Σxi·y — every sum a map-side-combined aggregate over
    DECIMAL-cast integer features (exact, order-insensitive)."""
    cols = {f"x{i}": F.col(c).cast(_DEC) for i, c in enumerate(features)}
    cols["y"] = F.col(target).cast(_DEC)
    base = df.select(*[v.alias(k) for k, v in cols.items()])
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    names = [f"x{i}" for i in range(len(features))] + ["y"]
    for i, a in enumerate(names):
        aggs.append(F.sum(F.col(a)).alias(f"s_{a}"))
        for b in names[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"s_{a}{b}"))
    return base.agg(*aggs)


def fit_linear_regression(
    df: DataFrame, features: list[str], target: str, ridge: float = 0.0
) -> list[float]:
    """Fit y ≈ β0 + Σ βi·xi over integer-valued columns; returns
    [β0, β1, …, βk]. The data pass is the single `_moments` aggregation;
    the driver solves the (k+1)×(k+1) system (k² numbers — metadata
    sized) by Gaussian elimination with partial pivoting. ``ridge`` adds
    λ to the non-intercept diagonal (standard ridge normalization-free
    form)."""
    k = len(features)
    row = _moments(df, features, target).collect()[0].asDict()
    names = [f"x{i}" for i in range(k)]
    n = float(row["n"])

    def s(a: str, b: str | None = None) -> float:
        if b is None:
            return float(row[f"s_{a}"])
        key = f"s_{a}{b}" if f"s_{a}{b}" in row else f"s_{b}{a}"
        return float(row[key])

    # augmented normal-equation system over [1, x0..xk-1]
    dim = k + 1
    A = [[0.0] * dim for _ in range(dim)]
    b = [0.0] * dim
    A[0][0] = n
    b[0] = s("y")
    for i, ni in enumerate(names):
        A[0][i + 1] = A[i + 1][0] = s(ni)
        b[i + 1] = s(ni, "y")
        for j, nj in enumerate(names):
            A[i + 1][j + 1] = s(ni, nj)
        A[i + 1][i + 1] += ridge
    # Gaussian elimination with partial pivoting (dim is tiny)
    for col in range(dim):
        piv = max(range(col, dim), key=lambda r: abs(A[r][col]))
        if abs(A[piv][col]) < 1e-12:
            raise ValueError("singular normal equations (collinear features)")
        A[col], A[piv] = A[piv], A[col]
        b[col], b[piv] = b[piv], b[col]
        for r in range(col + 1, dim):
            f = A[r][col] / A[col][col]
            for c in range(col, dim):
                A[r][c] -= f * A[col][c]
            b[r] -= f * b[col]
    beta = [0.0] * dim
    for r in range(dim - 1, -1, -1):
        beta[r] = (b[r] - sum(A[r][c] * beta[c] for c in range(r + 1, dim))) / A[r][r]
    return beta


# ------------------------- registered in-plan query (k=2, Cramer) ----

_FEAT_SQL = {
    # pure built-ins both engines evaluate identically on any string:
    # counts of spaces and of the letter 'e' (replace + length — no
    # regex-dialect divergence; both vary across the corpus, so the
    # normal equations stay non-singular)
    "x1": "LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))",
    "x2": "LENGTH(text) - LENGTH(REPLACE(text, 'e', ''))",
    "y": "n_chars",
}

# shared double-precision Cramer solve over the exact moments — the
# SAME expression text runs in Spark and DuckDB, so the IEEE operation
# sequence (and thus the rounded result) matches bit-for-bit
_SOLVE_SQL = """
SELECT n,
       ROUND(( sy*(sx1x1*sx2x2 - sx1x2*sx1x2)
             - sx1*(sx1y*sx2x2 - sx1x2*sx2y)
             + sx2*(sx1y*sx1x2 - sx1x1*sx2y)) / det, 6) AS b0,
       ROUND(( n*(sx1y*sx2x2 - sx1x2*sx2y)
             - sx1*(sy*sx2x2 - sx2*sx2y)
             + sx2*(sy*sx1x2 - sx2*sx1y)) / det, 6) AS b1,
       ROUND(( n*(sx1x1*sx2y - sx1y*sx1x2)
             - sx1*(sx1*sx2y - sx2*sx1y)
             + sy*(sx1*sx1x2 - sx2*sx1x1)) / det, 6) AS b2
FROM (
    SELECT CAST(n AS DOUBLE) AS n,
           CAST(s_x1 AS DOUBLE) AS sx1, CAST(s_x2 AS DOUBLE) AS sx2,
           CAST(s_y AS DOUBLE) AS sy,
           CAST(s_x1x1 AS DOUBLE) AS sx1x1, CAST(s_x1x2 AS DOUBLE) AS sx1x2,
           CAST(s_x2x2 AS DOUBLE) AS sx2x2,
           CAST(s_x1y AS DOUBLE) AS sx1y, CAST(s_x2y AS DOUBLE) AS sx2y,
           CAST(n AS DOUBLE) * (CAST(s_x1x1 AS DOUBLE) * CAST(s_x2x2 AS DOUBLE)
                                - CAST(s_x1x2 AS DOUBLE) * CAST(s_x1x2 AS DOUBLE))
           - CAST(s_x1 AS DOUBLE) * (CAST(s_x1 AS DOUBLE) * CAST(s_x2x2 AS DOUBLE)
                                     - CAST(s_x1x2 AS DOUBLE) * CAST(s_x2 AS DOUBLE))
           + CAST(s_x2 AS DOUBLE) * (CAST(s_x1 AS DOUBLE) * CAST(s_x1x2 AS DOUBLE)
                                     - CAST(s_x1x1 AS DOUBLE) * CAST(s_x2 AS DOUBLE))
               AS det
    FROM moments
) m
"""

_MOMENTS_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(x1) AS s_x1, SUM(x2) AS s_x2, SUM(y) AS s_y,
           SUM(x1*x1) AS s_x1x1, SUM(x1*x2) AS s_x1x2, SUM(x2*x2) AS s_x2x2,
           SUM(x1*y) AS s_x1y, SUM(x2*y) AS s_x2y
    FROM (
        SELECT CAST({_FEAT_SQL["x1"]} AS DECIMAL(19,0)) AS x1,
               CAST({_FEAT_SQL["x2"]} AS DECIMAL(19,0)) AS x2,
               CAST({_FEAT_SQL["y"]} AS DECIMAL(19,0)) AS y
        FROM documents
    ) f
"""


@register(
    "ml_linear_regression",
    oracle=f"WITH moments AS ({_MOMENTS_SQL}) {_SOLVE_SQL}",
    doc="distributed OLS via one-pass normal equations, in-plan Cramer solve",
)
def ml_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit n_chars ≈ b0 + b1·(spaces) + b2·(periods) over `documents` —
    a quality-model fit as ONE aggregation: exact DECIMAL moment sums
    (map-side partial agg; one row per partition crosses the exchange),
    then the 3×3 normal-equation solve as plain column arithmetic on the
    single moment row. No driver-side math, no iteration, no collect —
    the whole fit is a Catalyst plan, and the identical SQL runs in
    DuckDB for the hash check."""
    d = load_table(spark, sf_dir, "documents")
    feats = d.selectExpr(
        f"CAST({_FEAT_SQL['x1']} AS DECIMAL(19,0)) AS x1",
        f"CAST({_FEAT_SQL['x2']} AS DECIMAL(19,0)) AS x2",
        f"CAST({_FEAT_SQL['y']} AS DECIMAL(19,0)) AS y",
    )
    moments = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").alias("s_x1"),
        F.sum("x2").alias("s_x2"),
        F.sum("y").alias("s_y"),
        F.sum(F.col("x1") * F.col("x1")).alias("s_x1x1"),
        F.sum(F.col("x1") * F.col("x2")).alias("s_x1x2"),
        F.sum(F.col("x2") * F.col("x2")).alias("s_x2x2"),
        F.sum(F.col("x1") * F.col("y")).alias("s_x1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s_x2y"),
    )
    moments.createOrReplaceTempView("moments")
    return spark.sql(_SOLVE_SQL)


_LR_ITERS = 3
_LR = 0.5
_RS = 12  # per-term IEEE rounding before exact decimal summation


def _logreg_iter_sql(prev: str, cur: str, gtag: str) -> str:
    sig = f"(1.0 / (1.0 + EXP(-(w.a + w.b * x1 + w.c * x2))))"

    def grad(xj: str) -> str:
        return (
            f"CAST(SUM(CAST(ROUND(({sig} - y) * {xj}, {_RS}) AS DECIMAL(38,18)))"
            f" AS DOUBLE) / (SELECT n FROM nn)"
        )

    return f"""
    , {gtag} AS (
        SELECT {grad("1.0")} AS ga, {grad("x1")} AS gb, {grad("x2")} AS gc
        FROM pts, {prev} w)
    , {cur} AS (
        SELECT ROUND(w.a - {_LR} * g.ga, {_RS}) AS a,
               ROUND(w.b - {_LR} * g.gb, {_RS}) AS b,
               ROUND(w.c - {_LR} * g.gc, {_RS}) AS c
        FROM {prev} w, {gtag} g)
    """


_LOGREG_ORACLE = (
    """
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) / 50.0 AS x1,
               CAST(l_discount AS DOUBLE) AS x2,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
    w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c)
    """
    + "".join(_logreg_iter_sql(f"w{i}", f"w{i + 1}", f"g{i + 1}") for i in range(_LR_ITERS))
    + " SELECT * FROM ("
    + " UNION ALL ".join(
        f"SELECT {i} AS iter, a AS w_bias, b AS w_qty, c AS w_disc FROM w{i}"
        for i in range(1, _LR_ITERS + 1)
    )
    + ") t ORDER BY iter"
)


@register(
    "ml_logistic_regression",
    oracle=_LOGREG_ORACLE,
)
def ml_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LOGISTIC regression by full-batch gradient descent —
    the classification member of the ML suite (OLS/ridge, k-means, PCA,
    PageRank are the others): predict `l_returnflag = 'R'` from scaled
    quantity and discount; 3 iterations, learning rate 0.5, zero-init.

    Iteration protocol (r12, guide §2.4/§5): one gradient pass per
    iteration, with the CURRENT weights injected as literals and the
    UPDATED weights collected back — the k-means protocol (k-sized
    driver round-trips, here 3 doubles). Through r11 this was instead
    ONE fully lazy plan threading 1-row weight DataFrames through
    nested crossJoins; elegant, but each iterate's subtree re-contained
    every earlier iterate's, so the final plan held 112 Exchange nodes
    and re-executed the lineitem scan ~10× (measured 3.7 s; now 3
    gradient passes + 1 count ≈ 0.5 s, and the 100 TB shape is strictly
    better: 4 scans instead of ~10). All arithmetic — sigmoid, per-row
    ROUND(12), exact DECIMAL summation, the ROUND(12) weight update —
    stays in Spark expressions, so the trajectory is bit-identical to
    the r11 plan and the DuckDB oracle (hash re-verified). Per
    iteration exactly one map-side-combined aggregate crosses the
    exchange (one row per partition)."""
    l = load_table(spark, sf_dir, "lineitem")
    pts = l.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity").cast("double") / 50.0).alias("x1"),
        F.col("l_discount").cast("double").alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    )
    # Materialize the 3-double feature rows ONCE, spread across the
    # cluster, and run every gradient pass against the checkpoint — the
    # persist-before-iterating pattern (guide §5; same shape as the
    # quality filter's feature checkpoint). Without the spread, a small
    # single-row-group input leaves each pass's sigmoid + DECIMAL(38,18)
    # folds on ONE core (~1.5 s/pass measured); decimal sums are exact,
    # so the repartition cannot change any result. r13: the spread
    # hash-partitions on the (l_orderkey, l_linenumber) row key instead
    # of round-robin — same even fan-out without sortBeforeRepartition's
    # local sort (guide §2.5; checkpoint job 0.63 s → 0.35 s measured).
    # eager=False: the checkpoint materializes as a side effect of the
    # FIRST gradient job instead of its own stage wave (A/B'd ~0.1 s
    # faster at sf0.1); iterations 2..N read the cached partitions.
    pts = spread_for_kernel(pts, "l_orderkey", "l_linenumber").select(
        "x1", "x2", "y"
    ).localCheckpoint(eager=False)
    # r13 (guide §2.4, VERDICT item 4): the count job is gone — the
    # oracle's `nn` CTE is COUNT(*) over the same frame each gradient
    # pass aggregates, so the divisor rides the SAME aggregate as a
    # fourth (cheap) buffer instead of a separate job. COUNT(*) is a
    # long; long→double widening before the division is exact far
    # beyond any corpus size here, so each gradient is bit-identical
    # to the r12 `/ lit(float(n))` form. 3 jobs + the checkpoint, was 4.
    n_cnt = F.count("*")
    a, b, c = 0.0, 0.0, 0.0
    history: list[tuple[int, float, float, float]] = []
    for it in range(1, _LR_ITERS + 1):
        sig = 1.0 / (1.0 + F.exp(-(F.lit(a) + F.lit(b) * F.col("x1") + F.lit(c) * F.col("x2"))))

        def gterm(xj):
            return F.sum(
                F.round((sig - F.col("y")) * xj, _RS).cast("decimal(38,18)")
            ).cast("double") / n_cnt

        # the ROUND(12) update runs IN SPARK on the aggregated gradients
        # (Spark's HALF_UP differs from Python's round on ties), then the
        # three updated doubles come back exact (IEEE64 both sides)
        row = pts.agg(
            F.round(F.lit(a) - _LR * gterm(F.lit(1.0)), _RS).alias("a"),
            F.round(F.lit(b) - _LR * gterm(F.col("x1")), _RS).alias("b"),
            F.round(F.lit(c) - _LR * gterm(F.col("x2")), _RS).alias("c"),
        ).collect()[0]
        a, b, c = float(row["a"]), float(row["b"]), float(row["c"])
        history.append((it, a, b, c))
    return spark.createDataFrame(
        history, "iter int, w_bias double, w_qty double, w_disc double"
    ).orderBy("iter")


_QF_ITERS = 10
_QF_LR = 4.0


def _qf_iter_sql(prev: str, cur: str, gtag: str) -> str:
    """The shared GD-iteration SQL at the quality filter's learning rate."""
    return _logreg_iter_sql(prev, cur, gtag).replace(
        f"- {_LR} *", f"- {_QF_LR} *"
    )


@register(
    "text_model_quality_filter",
    oracle=None,  # assigned below — built from the shared iteration SQL
)
def text_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the FineWeb/DCLM pipeline stage:
    distill a cheap heuristic teacher (the text_quality_score pass rule)
    into a logistic scorer trained IN-PLAN on two document features
    (stopword ratio, lexical diversity), then keep documents the model
    scores positive and report per-source retention. The entire
    train-then-apply pipeline is one lazy plan (the trained weight row is
    a broadcast), and the DuckDB oracle replays ALL of it — features,
    the unrolled GD trajectory, scoring, and the per-source rollup — so
    the hash certifies the trained filter end-to-end.

    Determinism: features are exact IEEE divisions of identical integer
    inputs; the decision threshold `sigmoid(z) >= 0.5` is evaluated as
    `z >= 0` (algebraically equal, no transcendental at the boundary);
    gradient folds use the ROUND(12) + DECIMAL summation recipe.

    100 TB: one feature scan feeds training (3 map-side-combined
    aggregates) and scoring (a broadcast-weight projection) — the
    classifier never leaves the cluster, which is how model-based
    filtering actually runs over a full crawl."""
    from minio_iceberg_polaris_lakehouse_spark.functions.text import STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    lower_toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(lower_toks, lambda w: F.array_contains(F.lit(STOPWORDS), w)))
    uniq = F.size(F.array_distinct(toks))
    feats = d.select(
        "doc_id",
        "source",
        (stop_hits.cast("double") / n_tokens).alias("x1"),
        (uniq.cast("double") / n_tokens).alias("x2"),
        F.when(uniq.cast("double") / n_tokens > 0.46, 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    # one feature extraction feeds all iterations AND the final scoring —
    # localCheckpoint materializes it once (at cluster scale: persist the
    # feature frame, the standard ML-training pattern; at test SF the
    # wall clock is dominated by per-iteration scheduling either way)
    feats = feats.localCheckpoint()
    pts = feats.select("x1", "x2", "y")
    nn = pts.agg(F.count("*").cast("double").alias("n"))
    w = spark.createDataFrame([(0.0, 0.0, 0.0)], "a double, b double, c double")
    sig = 1.0 / (
        1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2")))
    )

    def gterm(xj):
        return F.sum(F.round((sig - F.col("y")) * xj, _RS).cast("decimal(38,18)")).cast(
            "double"
        ) / F.col("n")

    for _ in range(_QF_ITERS):
        g = (
            pts.crossJoin(F.broadcast(w))
            .crossJoin(F.broadcast(nn))
            .groupBy("n")
            .agg(
                gterm(F.lit(1.0)).alias("ga"),
                gterm(F.col("x1")).alias("gb"),
                gterm(F.col("x2")).alias("gc"),
            )
        )
        w = w.crossJoin(F.broadcast(g)).select(
            F.round(F.col("a") - _QF_LR * F.col("ga"), _RS).alias("a"),
            F.round(F.col("b") - _QF_LR * F.col("gb"), _RS).alias("b"),
            F.round(F.col("c") - _QF_LR * F.col("gc"), _RS).alias("c"),
        ).localCheckpoint()  # 1 row; truncates the 10-deep iteration lineage
    z = F.col("a") + F.col("b") * F.col("x1") + F.col("c") * F.col("x2")
    scored = feats.crossJoin(F.broadcast(w)).select(
        "source", F.when(z >= 0.0, 1).otherwise(0).alias("keep")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.round(F.sum("keep") * 1.0 / F.count("*"), 6).alias("keep_rate"),
        )
        .transform(sort_result, "source")
    )


def _quality_filter_oracle() -> str:
    from minio_iceberg_polaris_lakehouse_spark.functions.text import STOPWORDS

    toks = "regexp_split_to_array(trim(text), '\\s+')"
    ltoks = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    feats = f"""
    feats AS (
        SELECT source,
               CAST(len(list_filter({ltoks}, w -> list_contains({STOPWORDS!r}, w)))
                    AS DOUBLE) / len({toks}) AS x1,
               CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks}) AS x2,
               CASE WHEN CAST(len(list_distinct({toks})) AS DOUBLE) / len({toks}) > 0.46
                    THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
    pts AS (SELECT x1, x2, y FROM feats),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
    w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c)
    """
    iters = "".join(
        _qf_iter_sql(f"w{i}", f"w{i + 1}", f"qg{i + 1}") for i in range(_QF_ITERS)
    )
    return (
        "WITH "
        + feats
        + iters
        + f"""
    , scored AS (
        SELECT f.source,
               CASE WHEN (w.a + w.b * f.x1 + w.c * f.x2) >= 0.0 THEN 1 ELSE 0 END AS keep
        FROM feats f, w{_QF_ITERS} w)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           ROUND(SUM(keep) * 1.0 / COUNT(*), 6) AS keep_rate
    FROM scored GROUP BY source ORDER BY source
    """
    )


# the oracle needs STOPWORDS at import time; assign after definition to
# keep the registration decorator literal-free
from minio_iceberg_polaris_lakehouse_spark.registry import _REGISTRY  # noqa: E402

_REGISTRY["text_model_quality_filter"].oracle = _quality_filter_oracle()
