"""Advanced relational operators: as-of / range joins, pivot, lateral
explode, percentiles and statistical aggregates, string aggregation, and
additional TPC-H-shaped reporting queries (SURVEY.md §2.3-2.8 breadth; the
as-of/range rows are SURVEY §2.3 J2-J9).

Scale notes: the as-of join is the window formulation (union the two
event streams, carry the last-seen left row forward) — one shuffle on the
entity key, no inequality join blow-up. The range join's pair COUNT is
a sliding RANGE frame over the same kind of per-entity window — one
shuffle, no self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.operators.relational import dsum
from minio_iceberg_polaris_lakehouse_spark.registry import register
from minio_iceberg_polaris_lakehouse_spark.sources.tables import load_table, sort_result


@register(
    "rel_asof_join",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    clicks AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id,
           p.user_id,
           (SELECT MAX(c.ts) FROM clicks c
            WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts
    FROM purchases p
    ORDER BY p.event_id
    """,
)
def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent click of the same
    user at or before it. Implemented the scalable way — tag and union the
    two streams, sort within user, carry the last click timestamp forward
    with last_value(ignoreNulls) — one shuffle, no inequality join."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_p")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts", F.lit(0).alias("is_p")
    )
    merged = purchases.unionByName(clicks)
    # clicks sort before purchases at identical ts so "at or before" holds
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("is_p") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return (
        carried.filter(F.col("is_p") == 1)
        .select("event_id", "user_id", "last_click_ts")
        .orderBy("event_id")
    )


@register(
    "rel_range_join",
    oracle="""
    SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts BETWEEN a.ts - INTERVAL '60 seconds' AND a.ts + INTERVAL '60 seconds'
    GROUP BY a.user_id
    ORDER BY a.user_id
    """,
)
def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) self-join, COUNT form: per user, the number of
    event pairs within 60 seconds.

    Plan (SCALE.md "rel_range_join"): the aggregate never needs the
    pairs themselves, so a sliding RANGE frame counts them — ONE shuffle
    on user_id, sort by microsecond, and `cnt = COUNT(*) OVER (RANGE
    BETWEEN CURRENT ROW AND 60 s FOLLOWING) - 1` counts each event's
    in-window successors as the frame slides in O(n) per partition.
    The value-range frame counts same-timestamp ties toward BOTH
    members where the oracle's a_id < b_id orientation counts each
    unordered tie pair once; the correction comes from the same window
    pass: `tie = COUNT(*) OVER (PARTITION BY user_id, us) - 1`, which the
    user_id partitioning and the (user_id, us) sort already serve, and
    `n_pairs = SUM(cnt) - SUM(tie) div 2`. Integer-exact: a tie group of
    k rows sums `tie` to k(k-1), even, twice the C(k,2) over-count. One
    events scan, one hash exchange, no join, no broadcast. The result
    keeps only users with an in-window pair (149 of 1,500 users at
    sf0.1, 1,490 of 15,000 at its 10x replica), and the final sort
    gathers those rows into one partition (`sort_result`), as `collect()`
    gathers them to the driver; a result of millions of users would want
    `orderBy`'s parallel range sort back. Pair
    ENUMERATION (not count) at 100 TB still wants a bucketed equality
    join + residual filter (the shape this operator used through r11,
    git history) — a window cannot emit the cross product. Integer
    MICROSECONDS end to end: double seconds put pairs near the exact
    60 s boundary at the mercy of a ~0.25 µs ulp, where the oracle's
    timestamp arithmetic is exact."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us").rangeBetween(0, 60_000_000)
    ties = Window.partitionBy("user_id", "us")
    return (
        e.select(
            "user_id",
            (F.count("*").over(w) - 1).alias("cnt"),
            (F.count("*").over(ties) - 1).alias("tie"),
        )
        .groupBy("user_id")
        .agg(F.expr("sum(cnt) - sum(tie) div 2").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)  # oracle's INNER join: pairless users drop
        .transform(sort_result, "user_id")
    )


@register(
    "rel_pivot",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
    FROM events
    GROUP BY 1
    ORDER BY day
    """,
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT event counts into one column per event type (explicit value
    list — at scale an implicit pivot would need a distinct pass first)."""
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", kinds)
        .count()
        .na.fill(0, kinds)
    )
    return out.select(
        "day", *[F.col(k).cast("long").alias(k) for k in kinds]
    ).transform(sort_result, "day")


@register(
    "rel_explode_lateral",
    oracle="""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
          FROM documents) t
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 25
    """,
)
def rel_explode_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode: corpus-wide token frequency top-25 (the
    word-count shape; partial aggregation absorbs the explode fan-out)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(25)
    )


@register(
    "rel_percentiles",
    oracle="""
    SELECT c_mktsegment AS segment,
           ROUND(quantile_cont(c_acctbal, 0.5), 6) AS median_bal,
           ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal,
           ROUND(quantile_cont(c_acctbal, 0.99), 6) AS p99_bal
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. (An approx_percentile /
    t-digest variant exists for the 100 TB path but is deliberately not
    oracle-checked — sketches differ across engines.)"""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("median_bal"),
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 6).alias("p90_bal"),
            F.round(F.expr("percentile(c_acctbal, 0.99)"), 6).alias("p99_bal"),
        )
        .transform(sort_result, "segment")
    )


@register(
    "rel_stats_agg",
    oracle="""
    SELECT o_orderstatus,
           ROUND(stddev_samp(o_totalprice), 4) AS price_stddev,
           ROUND(var_samp(o_totalprice), 2) AS price_var,
           ROUND(corr(o_totalprice, o_custkey), 6) AS price_cust_corr
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def rel_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation), rounded to
    absorb merge-order ulp drift in the central-moment accumulators."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("o_totalprice"), 2).alias("price_var"),
            F.round(F.corr("o_totalprice", "o_custkey"), 6).alias("price_cust_corr"),
        )
        .transform(sort_result, "o_orderstatus")
    )


@register(
    "rel_string_agg",
    oracle="""
    SELECT n_regionkey AS regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY regionkey
    """,
)
def rel_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): deterministic via sort-before-
    join of the collected array."""
    n = load_table(spark, sf_dir, "nation")
    return (
        n.groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"))
        .transform(sort_result, "regionkey")
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped reporting queries adapted to the corpus columns.
# ---------------------------------------------------------------------------
@register(
    "rel_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate, l_orderkey
    LIMIT 10
    """,
)
def rel_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top unshipped-revenue orders for one segment."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "rel_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def rel_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: priority counts for orders with late-shipping items
    (EXISTS → semi join on a fact-fact key)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi"
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .transform(sort_result, "o_orderpriority")
    )


@register(
    "rel_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE) AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def rel_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "nation")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "rel_q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.00 * CAST(SUM(CAST(CASE WHEN p.p_type LIKE 'PROMO%'
                         THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END AS DECIMAL(26,8))) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE), 6)
           AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1997-02-01'
    """,
)
def rel_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share (broadcast part dimension)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-02-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).agg(
        F.round(
            100.0
            * F.sum(promo.cast("decimal(26,8)")).cast("double")
            / F.sum(rev.cast("decimal(26,8)")).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


@register(
    "rel_q9_profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(26,8))) AS DOUBLE) AS amount
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name, YEAR(o.o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def rel_q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: supplier-nation revenue by order year."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "amount"))
        .transform(sort_result, "nation", F.desc("o_year"))
    )


@register(
    "rel_struct_access",
    oracle="""
    SELECT o_orderkey,
           {'key': o_orderkey, 'price': o_totalprice}.price AS price_from_struct,
           {'key': o_orderkey, 'price': o_totalprice}.key AS key_from_struct
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
)
def rel_struct_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCT construction + field access."""
    o = load_table(spark, sf_dir, "orders")
    st = F.struct(F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price"))
    return (
        o.select(
            "o_orderkey",
            st.getField("price").alias("price_from_struct"),
            st.getField("key").alias("key_from_struct"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


@register(
    "rel_regexp_extract",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           regexp_matches(c_name, '[0-9]{3}') AS has_3_digits
    FROM customer
    ORDER BY c_custkey
    """,
)
def rel_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction + match predicate."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.col("c_name").rlike("[0-9]{3}").alias("has_3_digits"),
    ).orderBy("c_custkey")
