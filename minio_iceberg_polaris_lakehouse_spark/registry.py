"""Central query registry.

Every operator the engine implements registers here as a named query:
a Spark builder ``(spark, sf_dir) -> DataFrame`` plus (when the semantics
are SQL-expressible) an equivalent ANSI-SQL oracle string that DuckDB runs
on the same parquet tables. `__spark_entry__.py` re-exports this registry
for the driver; `tests/test_oracle_parity.py` replays the exact same
comparison locally.

Determinism rules every registered query follows (so that a value-hash
comparison against another engine is meaningful):
- Every computed column is aliased identically on both sides.
- Floating-point SUMs go through an exact decimal accumulation
  (``SUM(CAST(x AS DECIMAL(18,4)))``) then cast back to DOUBLE — IEEE
  double addition is order-sensitive and Spark/DuckDB (and Spark with
  itself, under AQE) would otherwise disagree in the last ulps.
- Integer-typed aggregates are cast explicitly (DuckDB SUM(BIGINT) is
  HUGEINT, Spark's is BIGINT; DuckDB year() is BIGINT, Spark's is INT).
- ORDER BY always ends with a unique tiebreaker column.
- The final ORDER BY of a DataFrame query whose result is bounded by a
  small fixed domain (grouped by nation, segment, status, language,
  source or a calendar bucket, or top-k per query) is
  ``sources.tables.sort_result``: a gather into one partition and a local
  sort, with no range-bounds sampling job. A result with one row per
  document, customer or user keeps ``orderBy`` (its sort stays
  parallel), as does a row-level sort; ``orderBy().limit()`` stays a
  TakeOrderedAndProject, and queries built from SQL text sort as their
  SQL says. ``rel_range_join`` is the one per-user result on
  ``sort_result``: it keeps only users with an in-window pair.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# The driver's CORRECTNESS gate records at most ~50 queries in registration
# order, so the first 50 names must cover EVERY operator family of
# SURVEY.md §2 and §2.14 (round-1 verdict: dedup/similarity/streaming/UDF/
# multimodal had zero driver entries because TPC-H variants filled the cap).
# This list is the curated coverage set — one or more representatives per
# family, preferring queries the driver has not yet verified; everything
# not listed follows in registration order (and still runs in the local
# oracle-parity suite, which has no cap).
_PRIORITY: list[str] = [
    # ================= r12 seating (see tools/rotation_report.py) =========
    # Policy (r10 verdict #7, continued): veterans with >=3 green rounds
    # rest; the freed slots re-seat the STALEST alumni (oldest last driver
    # check first — this round reaches back to the r01 cohort) while every
    # SS2/SS2.14 family keeps at least one in-window member. 30 of the 50
    # seats are stale re-seats with last driver check r<=9. Every rested
    # veteran stays green in the uncapped local replica
    # (tests/test_oracle_parity.py runs the identical DuckDB comparison).
    #
    # --- NEW r12: first driver slots --------------------------------------
    # QUALIFY + top-level DISTINCT (verdict #1: keyword strips from the
    # inner core, re-applies on the outer projection; count windows see
    # pre-DISTINCT rows — the oracle discriminates exactly that order)
    "rel_qualify_distinct",
    # QUALIFY inside a derived table — the rewrites now recurse into every
    # subquery depth (r11 advice medium); identical text both engines
    "rel_qualify_subquery",
    # GROUP BY ALL composed with QUALIFY (r11 advice low: never rewrote);
    # oracle spells the grouping explicitly (DuckDB rejects the combo)
    "rel_groupby_all_qualify",
    # Snowflake ASOF JOIN MATCH_CONDITION/USING spelling, desugared to the
    # ON form (verdict stretch #8); oracle is DuckDB's ASOF ON equivalent
    "rel_asof_match_condition",
    # PNG encode→decode roundtrip pinned as a literal-VALUES oracle — the
    # multimodal family's first exact-oracle driver golden (verdict #6)
    "mm_png_decode_roundtrip",
    # DuckDB/Postgres DISTINCT ON, desugared into the QUALIFY machinery;
    # identical text both engines (takes rel_q8's slot — the TPC-H sweep
    # keeps ten other members in-window)
    "rel_distinct_on",
    # DuckDB FROM-first syntax, desugared to canonical SELECT-first form;
    # identical text both engines (takes rel_q7's slot — the sweep keeps
    # nine other members; q7/q8 rotate back next round)
    "rel_from_first",
    # UNION ALL BY NAME routed to DataFrame composition; identical text
    # both engines (takes rel_q6's slot — q6/q7/q8 rotate back next round)
    "rel_union_by_name",
    # standalone PIVOT statement with count-0/alias parity shims;
    # identical text both engines (takes rel_q4's slot)
    "rel_pivot_statement",
    # COLUMNS('regex') star expression expanded against the FROM schema;
    # identical text both engines (takes rel_q3's slot)
    "rel_columns_regex",
    # --- r11 first-timers, seated for a second green round ---------------
    "rel_star_exclude_replace",
    "rel_qualify_unprojected",
    "rel_groupby_all",
    "sim_ann_lsh_indexed",
    "dedup_simhash_exact",
    "dedup_simhash_hamming",
    "rel_qualify_named_window",
    # --- family-unique keepers (no alternative oracle-backed member) -----
    "ref_row_lineage",  # v3 row lineage / transactions
    "ref_upsert_latest",  # CDC upsert
    "ref_matview_incremental",  # incremental MVs (join/foreign variants rest)
    # --- stale family anchors (re-seats that also keep a family covered) -
    "ref_table_history",  # r05; metadata tables
    "ref_time_travel_counts",  # r05; time travel
    "ref_duplicate_append",  # r05; INSERT append
    "ref_schema_evolution",  # r05; D10
    "ref_mor_delete",  # r06; M1 merge-on-read
    "ref_external_reader",  # r06; foreign Iceberg reader
    "stream_sliding_window",  # r06; SS2.12
    "udf_vector_norm",  # r05; SS2.13
    "win_top3_per_segment",  # r05; SS2.5 (benched every round too)
    "text_curation_pipeline",  # r05; X5
    "evt_sessionization",  # r05; events
    "ml_pagerank_trade",  # r09; ML
    "skew_salted_groupby",  # r06; skew (salted_join rests)
    "dedup_embedding_cosine",  # r05; X1 embedding near-dup
    "fn_date_suite",  # r05; F5
    # --- stalest alumni block (last driver check r01) ---------------------
    "rel_distinct",
    "rel_join_multiway",
    "rel_correlated_subquery",
    "rel_conditional_agg",
    "rel_latest_per_key",
    "rel_q10_returned_items",
    "rel_q11_important_parts",
    "rel_q18_large_orders",
    "rel_q20_supplier_chain",
    "rel_q2_min_cost_supplier",
    "rel_q5_local_supplier_volume",
    "rel_regexp_extract",
    "fn_datediff",
    "fn_array_suite2",
    "set_intersect_all",  # SS2.7 (set_union_distinct rests)
]
# Rested this round (r11 window members with >=2 green rounds, families
# still covered): rel_qualify_topn, rel_asof_join_sql,
# ref_decimal_truncate_int_literal, ref_foreign_ts_pruned_scan,
# ref_spec_bucket_decimal, rel_q9_profit_by_nation_year, rel_pivot,
# rel_scalar_subquery, rel_explode_lateral, text_bpe_tokens,
# set_union_distinct, win_range_frame, fn_string_suite, rel_asof_join,
# stream_tumbling_window, udf_grouped_stats, dedup_ngram_jaccard,
# sim_topk_bruteforce, fn_json_extract, win_rank_dense_rank,
# dedup_minhash_lsh, text_lang_profile, mm_audio_chunks, rel_unpivot,
# ref_migrated_table, ref_dv_roundtrip, ref_merge_matrix, ref_puffin_stats,
# ref_matview_foreign, ref_matview_join, ref_partition_stats,
# ref_foreign_pruned_scan, agg_approx_distinct_gate,
# rel_recursive_reachability, rel_lateral_topk, text_model_quality_filter,
# ml_kmeans_clusters, skew_salted_join, text_bloom_decontaminate,
# udf_python_udtf

# Historical seatings r7-r11 live in git history (this block); the running
# invariants they established:
#   - every oracle-backed query has held a driver slot at least once
#     (195/195 ever-green through r11);
#   - rows-only (oracle=None) queries are barred from the window
#     (guard in all_queries — a slot spent on one records err:no_oracle);
#   - each SS2/SS2.14 family keeps at least one in-window member;
#   - tools/rotation_report.py is the mechanical source of truth.


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a Spark query builder under ``name``.

    Oracle-backed queries get a result-schema guard: a DecimalType
    column in the COMPARED output hash-mismatches in the driver even
    when every value is identical (its hasher renders DuckDB decimals
    as pandas float64, '16.5', and Spark decimals as Decimal, '16.50').
    That rule lived only in a docstring and was violated three rounds
    running by the two matview goldens — the guard turns it into a
    loud, named failure at query time (an `err` row in the driver
    window beats an undiagnosable wrong hash). Rows-only queries are
    exempt: no cross-engine hash, decimals are fine."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        spark_fn = fn
        if oracle is not None:
            import functools

            @functools.wraps(fn)
            def checked(spark: SparkSession, sf_dir: str) -> DataFrame:
                df = fn(spark, sf_dir)
                from pyspark.sql.types import DecimalType

                bad = [
                    f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)
                ]
                if bad:
                    raise TypeError(
                        f"{name}: oracle-compared output carries DecimalType "
                        f"column(s) {bad} — the driver's hasher renders "
                        "decimals differently per engine; CAST the final "
                        "projection to DOUBLE/BIGINT on both sides"
                    )
                return df

            spark_fn = checked
        _REGISTRY[name] = Query(
            name=name, spark=spark_fn, oracle=oracle, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Import every operator module (side effect: registration) and return
    the full registry, priority coverage set first (see _PRIORITY)."""
    import minio_iceberg_polaris_lakehouse_spark.operators.relational  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.relational2  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.relational3  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.tpch_extra  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.tpch_more  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.relational4  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.relational5  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.events  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.reference_golden  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.windows  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.setops  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.skew  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.dedup  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.similarity  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.similarity_pq  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.semdedup  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.pca  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.regression  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.kmeans  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.operators.pagerank  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.functions.text  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.functions.bloom  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.functions.bpe  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.functions.mixing  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.functions.retrieval  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.functions.scalars  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.functions.udfs  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.streaming.windows  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.multimodal.audio  # noqa: F401
    import minio_iceberg_polaris_lakehouse_spark.multimodal.binary  # noqa: F401

    missing = [n for n in _PRIORITY if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"_PRIORITY names not registered: {missing}")
    # the driver's ~50-slot correctness window can only produce evidence
    # for oracle-backed queries — a rows-only (oracle=None) entry records
    # `err: no_oracle` and wastes the slot (round-6 postmortem); their
    # evidence lives in pytest instead
    no_oracle = [n for n in _PRIORITY if _REGISTRY[n].oracle is None]
    if no_oracle:
        raise RuntimeError(f"_PRIORITY entries must be oracle-backed: {no_oracle}")
    ordered = {n: _REGISTRY[n] for n in _PRIORITY}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered
