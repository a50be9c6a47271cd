"""Scale-property regression tests: assert the physical plans have the
shape the 100 TB design depends on (pushdown, pruning, broadcast joins,
top-k without global sort, no cartesian products)."""

from __future__ import annotations

import pytest

from minio_iceberg_polaris_lakehouse_spark.plans.inspect import (
    assert_no_cartesian,
    codegen_stage_count,
    count_nodes,
    plan_string,
    pushed_filters,
    read_schemas,
    scan_count,
)
from minio_iceberg_polaris_lakehouse_spark.registry import all_queries

QUERIES = all_queries()


def q(name, spark, sf_dir):
    return QUERIES[name].spark(spark, sf_dir)


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    df = q("rel_filter_projection", spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "c_mktsegment" in pf and "c_acctbal" in pf, pf
    rs = read_schemas(df)[0]
    # only the 3 referenced columns are read, not all 5
    assert "c_name" in rs and "c_acctbal" in rs and "c_custkey" in rs
    assert "c_address" not in rs and "c_comment" not in rs


def test_flagship_broadcasts_dimension(spark, sf_dir):
    df = q("flagship_revenue_by_nation", spark, sf_dir)
    assert count_nodes(df, "BroadcastHashJoin") >= 1
    # orderdate filter pushed into the orders scan
    assert any("o_orderdate" in f for f in pushed_filters(df))
    assert_no_cartesian(df)


def test_topk_avoids_global_sort(spark, sf_dir):
    df = q("rel_topk_orders", spark, sf_dir)
    assert count_nodes(df, "TakeOrderedAndProject") == 1


def test_grouped_topk_uses_window_group_limit(spark, sf_dir):
    df = q("win_top3_per_segment", spark, sf_dir)
    assert count_nodes(df, "WindowGroupLimit") >= 1, plan_string(df)


def test_no_cartesian_in_blocked_operators(spark, sf_dir):
    for name in ["dedup_ngram_jaccard", "dedup_embedding_cosine", "rel_range_join", "dedup_minhash_lsh"]:
        assert_no_cartesian(q(name, spark, sf_dir))


def test_similarity_broadcast_not_shuffle(spark, sf_dir):
    df = q("sim_topk_bruteforce", spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_whole_stage_codegen_present(spark, sf_dir):
    df = q("rel_pricing_summary", spark, sf_dir)
    assert codegen_stage_count(df) >= 1


def test_pricing_summary_single_scan_partial_agg(spark, sf_dir):
    from minio_iceberg_polaris_lakehouse_spark.plans.inspect import scan_count

    df = q("rel_pricing_summary", spark, sf_dir)
    plan = plan_string(df)
    # one scan; partial + final HashAggregate pair around a single exchange
    assert scan_count(df) == 1, plan
    assert count_nodes(df, "HashAggregate") >= 2
    assert "partial_sum" in plan  # map-side combine confirmed


def test_q6_full_predicate_pushdown(spark, sf_dir):
    """Q6 is scan-dominated: every conjunct must reach the parquet scan
    and only the 4 referenced columns may be read."""
    df = q("rel_q6_forecast_revenue", spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf, pf
    rs = read_schemas(df)[0]
    assert "l_extendedprice" in rs and "l_orderkey" not in rs and "l_partkey" not in rs


def test_q19_common_conjunct_extraction(spark, sf_dir):
    """The OR-of-ANDs must not force a fileless scan: the per-side
    disjunction (brand/size on part) is pushable as an OR filter."""
    df = q("rel_q19_disjunctive_predicates", spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "p_brand" in pf or "p_size" in pf, pf
    assert_no_cartesian(df)


def test_q21_aggregated_witnesses_not_self_joins(spark, sf_dir):
    """The EXISTS/NOT EXISTS pair runs as ONE per-order min/max witness
    aggregation (map-side combinable, 4 ints per orderkey over the
    wire), not as semi/anti re-shuffles of lineitem — and never as a
    cartesian. The rewrite measured 2.3× faster at 10× bench data."""
    ps = plan_string(q("rel_q21_waiting_supplier", spark, sf_dir))
    assert "LeftSemi" not in ps and "LeftAnti" not in ps, ps
    assert ps.count("HashAggregate") >= 2, ps  # partial + final witness agg
    assert_no_cartesian(q("rel_q21_waiting_supplier", spark, sf_dir))


def test_q5_broadcasts_dims_no_cartesian(spark, sf_dir):
    df = q("rel_q5_local_supplier_volume", spark, sf_dir)
    assert count_nodes(df, "BroadcastHashJoin") >= 3
    assert_no_cartesian(df)


def test_exact_dedup_has_partial_aggregate(spark, sf_dir):
    """keep-first dedup must pre-reduce map-side (two HashAggregate
    levels around the exchange), not sort the full corpus."""
    ps = plan_string(q("dedup_exact_keep_first", spark, sf_dir))
    assert ps.count("HashAggregate") >= 2, ps
    assert "Window" not in ps


def test_right_outer_broadcasts_filtered_side(spark, sf_dir):
    """The filtered BUILDING-segment customer side stays broadcast-able;
    the orders probe side never shuffles under broadcast-hash."""
    df = q("rel_join_right_outer", spark, sf_dir)
    assert count_nodes(df, "BroadcastHashJoin") >= 1, plan_string(df)
    assert_no_cartesian(df)


def test_median_approx_has_partial_aggregate(spark, sf_dir):
    """percentile_approx must plan as a two-level aggregate (map-side
    partial sketches merged after a one-row-per-group exchange) — the
    reason it is the recommended path over the grouped-agg pandas UDF."""
    df = q("agg_median_approx", spark, sf_dir)
    assert count_nodes(df, "HashAggregate") + count_nodes(df, "ObjectHashAggregate") >= 2, (
        plan_string(df)
    )


def test_embedding_topk_uses_window_group_limit(spark, sf_dir):
    """The reworked top-3-per-label embedding near-dup must keep the
    rank-pruning optimization (WindowGroupLimit) so only ~3 rows per
    label survive to the final sort."""
    df = q("dedup_embedding_cosine", spark, sf_dir)
    assert count_nodes(df, "WindowGroupLimit") >= 1, plan_string(df)


def test_multiprobe_lsh_no_cartesian_and_broadcast_queries(spark, sf_dir):
    """Multi-probe LSH (r5): the Hamming-1 probe expansion lives on the
    broadcast QUERY side — the corpus must still hash-join on
    (table_id, bucket), never cross-join, and the probe explode must not
    push the query set out of broadcast range."""
    df = q("sim_ann_lsh_topk", spark, sf_dir)
    assert_no_cartesian(df)
    assert count_nodes(df, "BroadcastHashJoin") >= 1, plan_string(df)


def test_eq_delete_read_broadcasts_keys(spark, tmp_path):
    """Equality-delete reads anti-join the data against the (tiny) key
    file — must be a broadcast, not a shuffle of the fact side; the
    export-time compile reuses the same join, so this pin covers both."""
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table(
        "db", "eqplan", "id bigint",
        properties={
            "write.delete.mode": "merge-on-read-equality",
            "write.delete.equality-columns": "id",
        },
    )
    t.append(spark.range(10000))
    t.delete_where("id % 100 = 0")
    df = t.read()
    s = plan_string(df)
    assert "BroadcastHashJoin" in s and "LeftAnti" in s, s
    assert "SortMergeJoin" not in s, s
    assert df.count() == 9900


def test_mor_read_applies_deletes_broadcast(spark, tmp_path):
    """Merge-on-read reads must apply tombstones as a BROADCAST anti-join
    (map-side filter) — a shuffled anti-join of the fact data against the
    tiny delete set would be the 100 TB scale-killer."""
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "morplan", "id bigint")
    t.append(spark.range(10000))
    t.delete_where("id % 100 = 0", mode="merge-on-read")
    df = t.read()
    s = plan_string(df)
    assert "BroadcastHashJoin" in s and "LeftAnti" in s, s
    assert "SortMergeJoin" not in s, s
    assert df.count() == 9900


def test_sequence_packing_window_is_sharded(spark, sf_dir):
    """The packing cumsum must partition by (lang, shard) — a global
    (unpartitioned) window would funnel the whole corpus through one
    task at 100 TB."""
    df = q("text_sequence_packing", spark, sf_dir)
    s = plan_string(df)
    assert "Window" in s
    # Spark renders an unpartitioned window spec with an empty partition
    # list; ours must carry both keys
    assert "lang" in s and "shard" in s
    i = s.index("Window")
    assert "partition" not in s[i : i + 400].lower() or "lang" in s[i : i + 400], s[i : i + 400]


def test_vocab_build_topk_and_partial_agg(spark, sf_dir):
    """Vocabulary counting: map-side partial aggregation (the shuffle
    carries distinct tokens, not corpus tokens) and top-k without a
    global sort."""
    df = q("text_vocab_build", spark, sf_dir)
    s = plan_string(df)
    assert count_nodes(df, "TakeOrderedAndProject") == 1, s
    assert "partial_count" in s, s


def test_foreign_reader_deletes_are_broadcast_hash_joins(spark, tmp_path):
    """The open-metadata reader's delete application must stay
    broadcast-hash: positional anti-join on (file, pos) and the
    equality-delete anti-join (eqNullSafe keys hash; the sequence rule
    rides as a residual condition) — never a nested-loop or cartesian,
    never a shuffle of the data side."""
    from tests.test_iceberg_reader import _build_foreign_table

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    df = read_iceberg_table(spark, _build_foreign_table(tmp_path))
    assert count_nodes(df, "BroadcastHashJoin") >= 2, plan_string(df)
    assert count_nodes(df, "BroadcastNestedLoopJoin") == 0, plan_string(df)
    assert_no_cartesian(df)


def test_ivf_indexed_serve_plan(spark, sf_dir):
    """Persisted-index IVF serve: probe join is a broadcast equi-join on
    cell id; no cartesian anywhere in the serve plan."""
    from minio_iceberg_polaris_lakehouse_spark.operators.similarity import (
        ivf_indexed_topk,
    )

    df = ivf_indexed_topk(spark, sf_dir)
    assert count_nodes(df, "BroadcastHashJoin") >= 1, plan_string(df)
    assert_no_cartesian(df)


def test_pq_ann_no_unbroadcast_cartesian(spark, sf_dir):
    """PQ's only fan-out is the K_QUERIES-way broadcast of query ids over
    the code rows; the float corpus never self-joins."""
    df = q("sim_ann_pq_topk", spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the exact-rescore join on (q_id)/(neighbor_id) must broadcast the
    # metadata-sized query side, not sort-merge the corpus
    assert "SortMergeJoin" not in plan, plan


_KERNEL_CHAINS = [
    "mm_audio_stats",
    "mm_audio_chunks",
    "mm_audio_resample",
    "mm_decode_features",
    "mm_resize_stats",
    "mm_png_decode_roundtrip",
]


@pytest.mark.parametrize("name", _KERNEL_CHAINS)
def test_kernel_chain_is_one_python_stage(spark, sf_dir, name):
    """Each multimodal kernel chain (encode → decode/resize/chunk/
    resample) runs as ONE MapInPandas: one Python runner per partition,
    blobs never cross back to the JVM between codec steps."""
    df = q(name, spark, sf_dir)
    assert count_nodes(df, "MapInPandas") == 1, plan_string(df)


@pytest.mark.parametrize("name", [n for n in _KERNEL_CHAINS if n.startswith("mm_audio_")])
def test_audio_chain_reads_documents_once_without_join(spark, sf_dir, name):
    """``source`` rides through the kernel to the per-source aggregate:
    one documents scan, no join back on doc_id, partial aggregation
    before the exchange."""
    df = q(name, spark, sf_dir)
    plan = plan_string(df)
    assert scan_count(df) == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_mixture_sample_no_wide_shuffle(spark, sf_dir):
    """Mixture sampling's rate table joins back by BROADCAST; the only
    exchanges are the #sources-row aggregates."""
    df = q("text_mixture_sample", spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_row_lineage_read_is_shuffle_free(spark, tmp_path):
    """Iceberg v3 lineage derivation must stay INSIDE the scan
    projection: a per-dir literal map lookup + _metadata.row_index, no
    Exchange, no join, no extra scan — at 100 TB the lineage read costs
    the same as the plain read."""
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "linplan", "id bigint")
    t.append(spark.range(5000))
    t.append(spark.range(5000, 6000))
    df = t.read(lineage=True)
    s = plan_string(df)
    assert "Exchange" not in s, s
    assert "Join" not in s, s
    # and the derivation is correct end to end
    rows = df.selectExpr("id", "_row_id").collect()
    assert len({r._row_id for r in rows}) == 6000


def test_qualify_rewrite_gets_window_group_limit(spark, sf_dir):
    """The QUALIFY rewrite (sql_frontend.qualify_sql) must stay eligible
    for Catalyst's rank-pruning: `QUALIFY row_number() <= k` plans a
    WindowGroupLimit (Partial BEFORE the shuffle — each map task keeps
    only k rows per group), the helper boolean folds away, and the dim
    join broadcasts. At 100 TB this is the difference between shuffling
    every group member and shuffling k per group."""
    from minio_iceberg_polaris_lakehouse_spark.operators.relational5 import (
        rel_qualify_topn,
    )

    df = rel_qualify_topn(spark, sf_dir)
    s = plan_string(df)
    assert count_nodes(df, "WindowGroupLimit") >= 1, s
    assert "_lh_qualify" not in s, s  # helper column folded away
    assert "BroadcastHashJoin" in s, s


def test_asof_rewrite_plan_shape(spark, sf_dir):
    """The ASOF JOIN rewrite's decorrelated plan must carry the top-1
    WindowGroupLimit (never a per-row re-execution) and no
    CartesianProduct — the nested-loop it does contain is over the
    DISTINCT left correlation domain, which the operator's docstring
    bounds to dimension-sized sides (the union+carry operator is the
    unbounded path)."""
    from minio_iceberg_polaris_lakehouse_spark.operators.relational5 import (
        rel_asof_join_sql,
    )

    df = rel_asof_join_sql(spark, sf_dir)
    s = plan_string(df)
    assert count_nodes(df, "WindowGroupLimit") >= 1, s
    assert_no_cartesian(df)


def test_qualify_unprojected_plan_shape(spark, sf_dir):
    """The unprojected-column QUALIFY rewrite must not cost the plan its
    rank-pruning: `QUALIFY row_number() = 1` over injected helper
    columns still plans WindowGroupLimit, and neither the predicate
    helper nor the injected _lh_qc columns survive into the output."""
    from minio_iceberg_polaris_lakehouse_spark.operators.relational5 import (
        rel_qualify_unprojected,
    )

    df = rel_qualify_unprojected(spark, sf_dir)
    s = plan_string(df)
    assert count_nodes(df, "WindowGroupLimit") >= 1, s
    assert df.columns == ["o_orderkey", "o_totalprice"]
    assert not [c for c in df.columns if c.startswith("_lh_")]
    assert_no_cartesian(df)


def test_lsh_indexed_serve_plan_shape(spark, sf_dir):
    """The persisted-LSH serve path: the 8-vector query side BROADCASTS
    into the bucket equi-join (never a shuffle of the index on the
    query's account, never a cartesian), and the final top-k carries
    WindowGroupLimit."""
    from minio_iceberg_polaris_lakehouse_spark.operators.similarity import (
        lsh_indexed_topk,
    )

    df = lsh_indexed_topk(spark, sf_dir)
    s = plan_string(df)
    assert "BroadcastHashJoin" in s, s
    assert count_nodes(df, "WindowGroupLimit") >= 1, s
    assert_no_cartesian(df)


def test_simhash_exact_single_data_shuffle(spark, sf_dir):
    """dedup_simhash_exact is one scan + one aggregation shuffle (plus
    the presentation sort): the per-character hash fold happens map-side
    inside the projection, never via explode — the row count entering
    the exchange is one per document, not one per token."""
    from minio_iceberg_polaris_lakehouse_spark.operators.dedup import (
        dedup_simhash_exact,
    )

    df = dedup_simhash_exact(spark, sf_dir)
    s = plan_string(df)
    assert "Generate" not in s, s  # no explode — array folds stay in-row
    assert_no_cartesian(df)


def test_simhash_hamming_plan_shape(spark, sf_dir):
    """The Hamming<=3 suppression runs as a banded equality SELF-JOIN
    (AQE-splittable on skewed band keys) + one partially-aggregated
    groupBy — never a cartesian, and never the per-bucket collect_list
    shape that would materialize a mega-array on a near-dup-dense
    corpus (sf0.1: one band bucket holds 84% of the docs)."""
    from minio_iceberg_polaris_lakehouse_spark.operators.dedup import (
        dedup_simhash_hamming,
    )

    df = dedup_simhash_hamming(spark, sf_dir)
    s = plan_string(df)
    assert "collect_list" not in s, s
    assert_no_cartesian(df)


def test_distinct_on_plans_window_group_limit(spark, sf_dir):
    """DISTINCT ON desugars into QUALIFY row_number() = 1, so Catalyst
    must still plan WindowGroupLimit (partial per-partition top-1 before
    the exchange) — the keep-first shape survives the extra desugar
    hop; helper columns never reach the output."""
    df = q("rel_distinct_on", spark, sf_dir)
    s = plan_string(df)
    assert count_nodes(df, "WindowGroupLimit") >= 1, s
    assert not [c for c in df.columns if c.startswith("_lh_")]
    assert_no_cartesian(df)


def test_from_first_pushdown_survives_desugar(spark, sf_dir):
    """FROM-first is a pure clause reordering: the WHERE predicate must
    still reach the parquet scan as a pushed filter, and only the
    referenced columns are read."""
    df = q("rel_from_first", spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, pf
    rs = read_schemas(df)[0]
    assert "l_returnflag" in rs and "l_extendedprice" in rs
    assert "l_comment" not in rs and "l_partkey" not in rs


def test_union_by_name_no_extra_exchange(spark, sf_dir):
    """UNION BY NAME folds two aggregated branches: each branch carries
    its own partial-agg exchange and the union itself adds none — and
    never a cartesian."""
    df = q("rel_union_by_name", spark, sf_dir)
    s = plan_string(df)
    assert "Union" in s, s
    assert_no_cartesian(df)


def test_pivot_statement_single_aggregation(spark, sf_dir):
    """The PIVOT statement plans as ONE aggregation pipeline over the
    scan (pivot_first partial before the exchange on the group key) —
    pivot width is the bounded ON-value domain, so no explode, no
    cartesian, no per-value rescan of the fact table."""
    df = q("rel_pivot_statement", spark, sf_dir)
    s = plan_string(df)
    assert "Generate" not in s, s
    assert len(read_schemas(df)) == 1, "fact table scanned more than once"
    assert_no_cartesian(df)


def _physical(df) -> str:
    """The physical plan as planned before execution (AQE's initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "flagship_revenue_by_nation",
        "win_top3_per_segment",
        "text_bpe_tokens",
        "rel_range_join",
        "mm_audio_stats",
    ],
)
def test_grouped_result_sorts_in_one_partition(spark, sf_dir, name):
    """The final ORDER BY of a collected grouped result is a gather into
    one partition plus a local sort (`sort_result`): no range-partitioning
    exchange, whose bounds cost a sampling job, and exactly one
    SinglePartition exchange, right under the final sort."""
    plan = _physical(q(name, spark, sf_dir))
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    top = [ln.strip(" +-:") for ln in plan.splitlines()[1:3]]
    assert top[0].startswith("Sort ") and top[1].startswith("Exchange SinglePartition"), plan


def test_range_join_is_one_window_pass(spark, sf_dir):
    """rel_range_join counts its pairs and its same-timestamp ties in one
    window pass over one events scan: one hash exchange on user_id, no
    join, no second scan."""
    df = q("rel_range_join", spark, sf_dir)
    plan = _physical(df)
    assert scan_count(df) == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("hashpartitioning") == 1, plan


@pytest.mark.parametrize(
    "name", ["rel_join_left_outer", "dedup_exact_keep_first", "stream_session_window"]
)
def test_per_entity_result_keeps_parallel_sort(spark, sf_dir, name):
    """A result with one row per customer, document or user grows with
    the data, so its final ORDER BY stays a range-partitioned sort: no
    single task sorts it."""
    plan = _physical(q(name, spark, sf_dir))
    assert "rangepartitioning" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
