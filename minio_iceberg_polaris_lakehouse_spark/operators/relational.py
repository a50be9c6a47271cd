"""Relational operator surface: scans, filters, projections, joins,
aggregations, sorts, top-k, subqueries, grouping sets.

Reference parity: the reference's relational surface is star-select,
column projection, comparison filters, one inner equi-join, COUNT(*), and
ORDER BY (reference: workspace/notebooks/iceberg_queries.ipynb:151,171,
233-234,291-299; getting_started.ipynb:102,160). Everything beyond that is
the breadth the oracle corpus can check (SURVEY.md §2.3-2.8 ABSENT rows),
expressed with Spark built-ins so Catalyst handles pushdown/pruning/join
selection.

Scale notes: fact-fact joins (lineitem⋈orders) shuffle on the join key and
rely on AQE for skew; dimension joins (nation, region, supplier, part at
TPC-H proportions) are explicitly ``broadcast()`` so a 1000-executor plan
does zero shuffle for them. Aggregations are partial (map-side combine)
automatically since all are algebraic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


def dsum(col: Column | str, alias: str, scale: int = 8) -> Column:
    """Order-insensitive floating SUM: accumulate exactly in DECIMAL, then
    return DOUBLE. IEEE double addition is order-sensitive; under AQE the
    partition layout (hence add order) is not stable, so raw SUM(double) is
    not reproducible even Spark-vs-Spark. Scale 8 keeps the rounding
    boundary far from the data's 2-4 decimal money values, where Spark's
    HALF_UP and other engines' half-even casts would disagree. Oracle side
    mirrors: CAST(SUM(CAST(x AS DECIMAL(26,8))) AS DOUBLE)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(26,{scale})")).cast("double").alias(alias)


def davg(col: Column | str, alias: str, scale: int = 8) -> Column:
    """Deterministic AVG built from the exact decimal SUM divided by COUNT
    (single double division at the end)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(f"decimal(26,{scale})")).cast("double") / F.count(c)).alias(alias)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: revenue by nation — exercises scan, filter, projection, 3-way
# join (broadcast dim + shuffled facts), grouped agg, sort in one plan.
# ---------------------------------------------------------------------------
@register(
    "flagship_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by customer nation over a 2-year order window.

    Join strategy: lineitem⋈orders shuffles on orderkey (both fact-sized);
    orders⋈customer shuffles on custkey; nation (25 rows) broadcasts. At
    100 TB the two shuffles are unavoidable for this shape; everything else
    is map-side."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
        .transform(sort_result, F.desc("revenue"), "nation")
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary: wide grouped aggregation.
# ---------------------------------------------------------------------------
@register(
    "rel_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(26,8))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(26,8))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(26,8))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(26,8))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(26,8))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(26,8))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape): single scan, map-side
    partial aggregation into 6 grouped aggregates; the shipdate filter
    pushes to the parquet scan."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                "sum_charge",
            ),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .transform(sort_result, "l_returnflag", "l_linestatus")
    )


@register(
    "rel_filter_projection",
    oracle="""
    SELECT c_name AS name, c_acctbal AS acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
    ORDER BY c_custkey
    """,
)
def rel_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + column projection; both push into the parquet scan
    (PushedFilters + 3-column ReadSchema)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 1000.0))
        .orderBy("c_custkey")
        .select(F.col("c_name").alias("name"), F.col("c_acctbal").alias("acctbal"))
    )


@register(
    "rel_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def rel_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject (per-partition heap + driver
    merge of k rows) — no global sort at any scale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@register(
    "rel_distinct",
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def rel_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = shuffle on the full row; low-cardinality column keeps the
    exchange tiny after partial aggregation."""
    segments = _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return sort_result(segments, "c_mktsegment")


@register(
    "rel_groupby_having",
    oracle="""
    SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(26,8))) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 5
    ORDER BY segment
    """,
)
def rel_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal", "total_balance"))
        .filter(F.col("n_customers") > 5)
        .transform(sort_result, "segment")
    )


@register(
    "rel_count_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers_with_orders,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    """,
)
def rel_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT): Spark expands to a two-phase aggregate. (An
    approx_count_distinct variant is deliberately not oracle-checked — HLL
    sketches differ across engines.)"""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count_distinct("o_custkey").alias("n_customers_with_orders"),
        F.count("*").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Join family (SURVEY §2.3 — reference has J1 inner only; rest are breadth).
# ---------------------------------------------------------------------------
@register(
    "rel_join_left_outer",
    oracle="""
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def rel_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with zero orders (COUNT of the
    null-extended side is 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@register(
    "rel_join_right_outer",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name
    FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
    RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey <= 5000
    ORDER BY o.o_orderkey
    """,
)
def rel_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (SURVEY §2.3 J2-J9 checklist row): every order kept,
    customer name null unless the customer is in the BUILDING segment. The
    filtered build side stays broadcast-able; the probe (orders) side never
    shuffles under broadcast-hash."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "right")
        .select("o_orderkey", "o_totalprice", "c_name")
        .orderBy("o_orderkey")
    )


@register(
    "rel_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
    ORDER BY c_custkey
    """,
)
def rel_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): no row multiplication, probe side streamed."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "rel_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    ORDER BY c_custkey
    """,
)
def rel_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no order since
    2000-01-01. (Every customer in this corpus has SOME order, so the
    plain never-ordered form returns zero rows at every SF and its oracle
    check passes vacuously — the date-bounded form keeps a real
    anti-join result set.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "rel_join_full_outer",
    oracle="""
    SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
           CAST(COALESCE(cn.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(sn.n_supp, 0) AS BIGINT) AS n_supp
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) cn
    FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) sn
      ON cn.nationkey = sn.nationkey
    ORDER BY nationkey
    """,
)
def rel_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (nations having customers vs
    suppliers)."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).cast("long").alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "rel_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    ORDER BY r.r_name, n.n_name
    """,
)
def rel_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join — only ever between tiny dimensions (5×25 here); broadcast
    nested loop, never between facts."""
    r = _t(spark, sf_dir, "region").select("r_name")
    n = _t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n)).orderBy("r_name", "n_name")


@register(
    "rel_join_multiway",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(26,8))) AS DOUBLE) AS total_bal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY region, nation
    """,
)
def rel_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join up the region→nation dimension chain, all broadcast."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count_distinct("s_suppkey").alias("n_suppliers"),
            dsum("s_acctbal", "total_bal"),
        )
        .transform(sort_result, "region", "nation")
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------
@register(
    "rel_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) AS DOUBLE) / COUNT(*) * 1.8 FROM orders)
    ORDER BY o_orderkey
    """,
)
def rel_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above 1.8× the mean price (mean computed
    with the deterministic decimal-sum idiom; 2× selected nothing at
    sf0.01, making the oracle check vacuous)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_rel_orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM _rel_orders_sq
        WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) AS DOUBLE) / COUNT(*) * 1.8 FROM _rel_orders_sq)
        ORDER BY o_orderkey
        """
    )


@register(
    "rel_in_subquery",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
    ORDER BY s_suppkey
    """,
)
def rel_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery (planned as a semi join)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    s.createOrReplaceTempView("_rel_supp_in")
    n.createOrReplaceTempView("_rel_nation_in")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM _rel_supp_in
        WHERE s_nationkey IN (SELECT n_nationkey FROM _rel_nation_in WHERE n_regionkey = 0)
        ORDER BY s_suppkey
        """
    )


@register(
    "rel_correlated_subquery",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice > (
        SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(26,8))) AS DOUBLE) / COUNT(*)
        FROM part p2 WHERE p2.p_brand = p.p_brand)
    ORDER BY p.p_partkey
    """,
)
def rel_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (parts above their brand's mean price);
    Catalyst decorrelates it into an aggregate + join."""
    p = _t(spark, sf_dir, "part")
    p.createOrReplaceTempView("_rel_part_corr")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_retailprice
        FROM _rel_part_corr p
        WHERE p.p_retailprice > (
            SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(26,8))) AS DOUBLE) / COUNT(*)
            FROM _rel_part_corr p2 WHERE p2.p_brand = p.p_brand)
        ORDER BY p.p_partkey
        """
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------
@register(
    "rel_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rel_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers to disambiguate NULL group keys."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
        .transform(
            sort_result,
            "g_flag",
            "g_status",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "rel_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(26,8))) AS DOUBLE) AS total,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with decimal-exact money totals."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice", "total"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
        .transform(
            sort_result,
            "g_status",
            "g_prio",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )
