"""Regression pins for the round-8 verdict findings: the MV downgrade
trigger is now an EXPLICIT schema-drift probe (not a blanket
AnalysisException catch), the MV goldens fail loud instead of silently
hashing a downgraded mode."""

from __future__ import annotations

import pytest

from minio_iceberg_polaris_lakehouse_spark import matview as MV
from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL


@pytest.fixture()
def lake(spark, tmp_path):
    return LakehouseSQL(spark, str(tmp_path / "wh"))


def test_probe_binds_raises_typed_on_drift(spark):
    df = spark.createDataFrame([(1, "a")], "id int, region string")
    ok = MV.MatviewSpec(
        table_text="t", where=None, group_cols=["region"],
        group_aliases=["region"], aggs=[("count_star", "*", "n")],
    )
    MV.probe_binds(df, ok)  # binds: no raise
    drifted = MV.MatviewSpec(
        table_text="t", where=None, group_cols=["gone_col"],
        group_aliases=["gone_col"], aggs=[("sum", "amount", "total")],
    )
    with pytest.raises(MV.NotIncrementallyMaintainable, match="no longer binds"):
        MV.probe_binds(df, drifted)


def test_probe_binds_join_checks_on_and_where(spark):
    ldf = spark.createDataFrame([(1, 2.0)], "cust_id int, amount double")
    rdf = spark.createDataFrame([(1, "g")], "cust_id int, segment string")
    spec = MV.parse_incremental_join(
        "SELECT c.segment, SUM(o.amount) AS total, COUNT(*) AS n "
        "FROM db.o o JOIN db.c c ON o.cust_id = c.cust_id GROUP BY c.segment"
    )
    assert spec is not None
    MV.probe_binds_join(ldf, rdf, spec)  # binds: no raise
    with pytest.raises(MV.NotIncrementallyMaintainable, match="no longer binds"):
        MV.probe_binds_join(ldf.drop("amount"), rdf, spec)
    with pytest.raises(MV.NotIncrementallyMaintainable, match="no longer binds"):
        MV.probe_binds_join(ldf, rdf.drop("cust_id"), spec)


def test_refresh_downgrades_only_on_drift_not_other_analysis_errors(lake):
    """Schema drift on the base still downgrades (recorded reason), and
    the refresh result stays correct via the full recompute."""
    lake.sql("CREATE TABLE polaris.db.dr (region STRING, amount DECIMAL(10,2)) USING ICEBERG")
    lake.sql("INSERT INTO db.dr VALUES ('eu', 1.00), ('us', 2.00)")
    lake.sql(
        "CREATE MATERIALIZED VIEW db.dr_mv AS "
        "SELECT region, SUM(amount) AS total FROM db.dr GROUP BY region"
    )
    lake.sql("INSERT INTO db.dr VALUES ('eu', 3.00)")
    # drift: drop the aggregated column via replace-shaped evolution
    lake.sql("ALTER TABLE db.dr RENAME COLUMN amount TO amt")
    row = lake.sql("REFRESH MATERIALIZED VIEW db.dr_mv").collect()[0]
    assert row.mode == "full"
    assert "no longer binds" in (row.downgrade_reason or "")


def test_mv_golden_fail_loud_on_downgrade(spark):
    """A REFRESH that does not run 'incremental' raises with the named
    cause (driver records err) instead of hashing a silent wrong mode."""
    from pyspark.sql import Row

    from minio_iceberg_polaris_lakehouse_spark.operators import reference_golden as RG

    class FakeResult:
        def collect(self):
            return [
                Row(
                    view="db.mv", mode="full", synced_snapshot=7,
                    downgrade_reason="SnapshotNotFoundError: expired",
                )
            ]

    class FakeLake:
        def sql(self, stmt):
            return FakeResult()

    with pytest.raises(RuntimeError, match="mode='full'.*expired"):
        RG._refresh_checked(FakeLake(), spark, "ref_matview_incremental", "REFRESH")


def test_bench_summary_fits_driver_tail_window():
    """The driver keeps only the last 2000 bytes of stdout; three rounds
    of perf record were lost to a final JSON line that outgrew it. The
    compact summary must fit with margin even with the sf1 section and
    worst-case query timings present."""
    import bench

    result = {
        "metric": "headline_queries_total_runtime",
        "value": 123.456789,
        "unit": "sec",
        "sf": 0.1,
        "queries": {name: 12345.6789 for name in bench.HEADLINE},
        "extended": {name: 1.0 for name in bench.EXTENDED},
        "stddev": {name: 0.123456 for name in bench.HEADLINE},
        "iters": 5,
        "probe_degraded": False,
        "load_contaminated": False,
        "cpu_probe_s": 0.987654,
        "sf1_scale_check": {
            "total": 9999.123,
            "worst_query_scaling": {
                "query": "rel_q9_profit_by_nation_year", "ratio": 3.56,
            },
        },
    }
    line = __import__("json").dumps(bench._summarize(result), separators=(",", ":"))
    assert len(line.encode()) <= bench.SUMMARY_BUDGET_B
    # and the summary still satisfies the driver contract fields
    parsed = __import__("json").loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed
    assert parsed["sf1_total"] == 9999.12


# --- r8 ADVICE.md pins ---------------------------------------------------


def test_transform_pred_converts_offset_literals_to_utc():
    """Iceberg temporal transforms are defined over UTC micros: an
    offset-bearing literal on a day/month/year-partitioned column must
    map through UTC, or pruning silently drops matching rows."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _transform_pred,
    )

    # '2024-01-01T23:00:00-05:00' is 2024-01-02T04:00 UTC → day 19724
    v = "2024-01-01T23:00:00-05:00"
    assert _transform_pred("day", v, "timestamptz")[0] == 19724
    # month: Dec 31 23:00 -05:00 is January UTC
    assert _transform_pred("month", "2023-12-31T23:00:00-05:00", "timestamptz")[0] == (
        2024 - 1970
    ) * 12
    assert _transform_pred("year", "2023-12-31T23:00:00-05:00", "timestamptz")[0] == 54
    # naive literals are unchanged (treated as UTC)
    assert _transform_pred("day", "2024-01-01T23:00:00", "timestamp")[0] == 19723


def test_coerce_vals_typed_timestamp_comparison():
    """(str, str) pairs compare lexicographically ONLY for string
    columns; timestamp-typed partition values parse to epoch micros so
    format variants ('T' separator, no-seconds, offsets) compare by
    instant, not by text."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _coerce_vals,
    )

    # same instant, different renderings: must compare EQUAL
    a, b = _coerce_vals("2024-01-01 10:00:00", "2024-01-01T10:00:00", "timestamp")
    assert a == b
    a, b = _coerce_vals("2024-01-01 10:00", "2024-01-01T10:00:00", "timestamp")
    assert a == b
    # offset rendering of the same instant
    a, b = _coerce_vals("2024-01-01 10:00:00", "2024-01-01T05:00:00-05:00", "timestamptz")
    assert a == b
    # ordering by instant, not text
    a, b = _coerce_vals("2024-01-02 00:00:00", "2024-01-01T23:59:59", "timestamp")
    assert a > b
    # strings still compare raw
    assert _coerce_vals("abc", "abd", "string") == ("abc", "abd")
    # unparsable → conservative None (no pruning)
    assert _coerce_vals("not-a-ts", "2024-01-01T00:00:00", "timestamp") is None


def test_decimal_single_value_minimal_bytes():
    """Unscaled values that are exact negative powers of 2^(8k-1) must
    serialize to Java BigInteger.toByteArray's MINIMAL length (e.g.
    -128 → one byte 0x80, not two bytes 0xff80), or bucket hashes and
    theta sketches diverge from spec-compliant engines."""
    from pyspark.sql import types as T

    from minio_iceberg_polaris_lakehouse_spark.theta import (
        _min_signed_len,
        iceberg_bucket,
        murmur3_x86_32,
        single_value_converter,
    )

    assert _min_signed_len(-128) == 1
    assert _min_signed_len(127) == 1
    assert _min_signed_len(128) == 2
    assert _min_signed_len(-129) == 2
    assert _min_signed_len(0) == 1
    assert _min_signed_len(-32768) == 2

    conv = single_value_converter(T.DecimalType(10, 2))
    import decimal

    assert conv(decimal.Decimal("-1.28")) == bytes([0x80])
    assert conv(decimal.Decimal("-327.68")) == bytes([0x80, 0x00])
    assert conv(decimal.Decimal("1.27")) == bytes([0x7F])
    # bucket hash of the same value agrees with hashing the minimal bytes
    b = iceberg_bucket("-1.28", 16, "decimal(10,2)")
    assert b == (murmur3_x86_32(bytes([0x80])) & 0x7FFFFFFF) % 16


def test_bucket_hash_stamp_decides_spec_trust():
    """Bucket partition values are spec-hashed unless the table is
    stamped with another hash: an absent stamp follows the spec, an
    explicit stamp wins either way."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _bucket_hash_ok,
    )

    assert _bucket_hash_ok({"properties": {}}) is True
    assert _bucket_hash_ok({"properties": {"write.bucket-hash": "iceberg-murmur3"}}) is True
    assert _bucket_hash_ok({"properties": {"write.bucket-hash": "spark-murmur3-seed42"}}) is False


# --- round-9 self-review fixes -------------------------------------------


def test_partition_stats_totals_null_when_deletes_unattributable(lake, spark):
    """Partitioned table + table-root MoR delete: the tombstones cannot
    be attributed to a partition from counts, so EVERY total goes null
    (counts may never overstate)."""
    import io
    import json as _json

    import pyarrow.parquet as pq

    from minio_iceberg_polaris_lakehouse_spark import fsio
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        resolve_metadata_path,
    )

    lake.sql(
        "CREATE TABLE polaris.db.pt (id INT, k STRING) USING ICEBERG "
        "PARTITIONED BY (k) "
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    lake.sql("INSERT INTO db.pt VALUES (1,'a'),(2,'a'),(3,'b')")
    lake.sql("DELETE FROM db.pt WHERE id = 2")
    lake.sql("CALL polaris.system.compute_partition_stats(table => 'db.pt')")
    t = lake.wh.table("db", "pt")
    md = _json.loads(fsio.read_text(resolve_metadata_path(t.path)))
    stats = pq.read_table(
        io.BytesIO(fsio.read_bytes(md["partition-statistics"][0]["statistics-path"]))
    ).to_pylist()
    assert all(r["total_record_count"] is None for r in stats)
    # and the no-delete twin keeps exact totals
    lake.sql(
        "CREATE TABLE polaris.db.pt2 (id INT, k STRING) USING ICEBERG "
        "PARTITIONED BY (k)"
    )
    lake.sql("INSERT INTO db.pt2 VALUES (1,'a'),(2,'b')")
    lake.sql("CALL polaris.system.compute_partition_stats(table => 'db.pt2')")
    t2 = lake.wh.table("db", "pt2")
    md2 = _json.loads(fsio.read_text(resolve_metadata_path(t2.path)))
    stats2 = pq.read_table(
        io.BytesIO(fsio.read_bytes(md2["partition-statistics"][0]["statistics-path"]))
    ).to_pylist()
    assert [r["total_record_count"] for r in stats2] == [1, 1]


def test_refresh_checked_retry_reraises_original_cause(spark):
    """A retried invocation after a failed REFRESH re-raises the FIRST
    failure's cause, not a masking 'noop' from the already-synced view."""
    from pyspark.sql import Row

    from minio_iceberg_polaris_lakehouse_spark.operators import reference_golden as RG

    RG._REFRESH_FAILED.clear()

    calls = {"n": 0}

    class FakeLake:
        def sql(self, stmt):
            calls["n"] += 1
            mode = "full" if calls["n"] == 1 else "noop"

            class R:
                def collect(self):
                    return [
                        Row(view="db.mv", mode=mode, synced_snapshot=1,
                            downgrade_reason="SnapshotNotFoundError: gone")
                    ]

            return R()

    with pytest.raises(RuntimeError, match="mode='full'.*gone"):
        RG._refresh_checked(FakeLake(), spark, "g_retry", "REFRESH")
    # retry: REFRESH is NOT re-run; the original cause comes back
    with pytest.raises(RuntimeError, match="mode='full'.*gone"):
        RG._refresh_checked(FakeLake(), spark, "g_retry", "REFRESH")
    assert calls["n"] == 1
    RG._REFRESH_FAILED.clear()


def test_hour_transform_pre_epoch_fractional_floor():
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _transform_pred,
    )

    assert _transform_pred("hour", "1969-12-31T23:59:59.5", "timestamptz")[0] == -1
    assert _transform_pred("hour", "1970-01-01T00:59:59.5", "timestamptz")[0] == 0
    assert _transform_pred("hour", "1969-12-31T23:00:00", "timestamptz")[0] == -1


def test_coerce_vals_int_micros_vs_string_literal():
    """Binary-decoded timestamp bounds (epoch micros) compare against
    string literals by instant — identity-timestamp manifest summaries
    prune instead of falling through to None."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _coerce_vals,
    )

    us = 1704103200000000  # 2024-01-01T10:00:00Z
    a, b = _coerce_vals(us, "2024-01-01T10:00:00", "timestamptz")
    assert a == b == us
    a, b = _coerce_vals("2024-01-01 10:00:00", us, "timestamp")
    assert a == b
    assert _coerce_vals(us, "garbage", "timestamp") is None


def test_mv_golden_rebuild_after_lost_cache_is_stable(spark):
    """Losing the in-process fixture caches (fresh worker process, same
    app) must rebuild the MV fixture by RESET, not duplicate the INSERT
    transcript into the surviving tables."""
    from minio_iceberg_polaris_lakehouse_spark.operators import reference_golden as RG

    first = RG.ref_matview_incremental(spark, "/root/testdata/sf0.001").collect()
    key = spark.sparkContext.applicationId
    RG._MV_MODE.pop(key, None)
    RG._MV_BUILT.pop(key, None)
    second = RG.ref_matview_incremental(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in first] == [tuple(r) for r in second]


def test_decimal_truncate_sql_hint_literal_derives(lake):
    """A plain-SQL equality on a decimal truncate column (float-parsed
    hint literal) still derives the partition filter."""
    lake.sql(
        "CREATE TABLE polaris.db.tdec2 (id INT, amt DECIMAL(10,2)) USING ICEBERG "
        "PARTITIONED BY (truncate(50, amt))"
    )
    lake.sql("INSERT INTO db.tdec2 VALUES (1, 10.25), (2, -10.25)")
    df = lake.sql("SELECT id FROM db.tdec2 WHERE amt = 10.25")
    assert {
        seg for f in df.inputFiles() for seg in f.split("/") if seg.startswith("_p_truncate50_amt=")
    } == {"_p_truncate50_amt=10.00"}
    assert [r.id for r in df.collect()] == [1]
