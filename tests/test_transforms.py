"""Iceberg's full partition-transform set: identity/day/month/year (long
covered) plus hour, bucket[N], truncate[W] — hidden partitioning
(reference README.md:126-127: queries filter the raw column, partitions
prune) across every transform Iceberg defines, with Iceberg's exact
semantics (truncate floors negatives; bucket is hash mod N on the source
type)."""

from __future__ import annotations

import datetime

import pytest

from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def lake(spark, tmp_path):
    return LakehouseSQL(spark, str(tmp_path / "wh"))


def _files_read(df) -> int:
    return len(df.inputFiles())


def _planned_parts(df, field: str) -> set[str]:
    """Values of hive partition dir ``field`` among the files a scan plans."""
    return {
        seg.split("=", 1)[1]
        for f in df.inputFiles()
        for seg in f.split("/")
        if seg.startswith(field + "=")
    }


def test_hour_transform_partitions_and_prunes(wh):
    t = wh.create_table("db", "h1", "ts timestamp, v int", partition_by="ts", transform="hour")
    rows = [
        (datetime.datetime(2024, 3, 1, 5, 10), 1),
        (datetime.datetime(2024, 3, 1, 5, 50), 2),
        (datetime.datetime(2024, 3, 1, 9, 0), 3),
    ]
    t.insert_values(rows)
    out = t.scan(between={"ts": ("2024-03-01 05:00:00", "2024-03-01 05:59:59")})
    assert sorted(r.v for r in out.collect()) == [1, 2]
    assert _files_read(out) < _files_read(t.read())  # 09:00 hour dir pruned


def test_truncate_string_transform(wh):
    t = wh.create_table(
        "db", "tr1", "code string, v int", partition_by="code", transform="truncate2"
    )
    t.insert_values([("ABX", 1), ("ABY", 2), ("ZQ9", 3)])
    out = t.scan(eq={"code": "ABX"})
    assert [r.v for r in out.collect()] == [1]
    assert _files_read(out) < _files_read(t.read())  # ZQ prefix dir pruned
    # range over a prefix-contiguous interval maps through the transform
    rng = t.scan(between={"code": ("AB", "AC")})
    assert sorted(r.v for r in rng.collect()) == [1, 2]


def test_truncate_int_floors_negatives(wh):
    t = wh.create_table("db", "tr2", "n int, v int", partition_by="n", transform="truncate4")
    t.insert_values([(-5, 1), (-1, 2), (3, 3), (9, 4)])
    # Iceberg floor semantics: -5 → -8, -1 → -4, 3 → 0, 9 → 8
    part_vals = {
        r["_partition"]["_p_truncate4_n"]
        for r in t.read(metadata_columns=True).select("_partition").collect()
    }
    assert part_vals == {-8, -4, 0, 8}
    out = t.scan(eq={"n": -5})
    assert [r.v for r in out.collect()] == [1]


def test_bucket_transform_any_width_prunes_eq(wh):
    t = wh.create_table("db", "bk1", "id int, v string", partition_by="id", transform="bucket8")
    t.insert_values([(i, f"r{i}") for i in range(32)])
    out = t.scan(eq={"id": 7})
    assert [tuple(r) for r in out.collect()] == [(7, "r7")]
    # the derived bucket filter restricts the scan to one of 8 hive dirs
    assert _files_read(out) < _files_read(t.read())


def test_sql_ddl_new_transforms_round_trip(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    fe = LakehouseSQL(spark, str(tmp_path / "wh"))
    fe.sql("CREATE NAMESPACE IF NOT EXISTS db")
    fe.sql(
        "CREATE TABLE db.evts (ts TIMESTAMP, v INT) USING iceberg PARTITIONED BY (hours(ts))"
    )
    fe.sql(
        "CREATE TABLE db.codes (code STRING, v INT) USING iceberg "
        "PARTITIONED BY (truncate(3, code))"
    )
    fe.sql("CREATE TABLE db.ids (id INT, v INT) USING iceberg PARTITIONED BY (bucket(4, id))")
    assert fe.wh.table("db", "evts").partition_spec().transform == "hour"
    assert fe.wh.table("db", "codes").partition_spec().transform == "truncate3"
    assert fe.wh.table("db", "ids").partition_spec().transform == "bucket4"
    # SHOW CREATE TABLE emits DDL the parser accepts back (round-trip)
    for tbl, expect in (
        ("evts", "hours(ts)"),
        ("codes", "truncate(3, code)"),
        ("ids", "bucket(4, id)"),
    ):
        stmt = fe.sql(f"SHOW CREATE TABLE db.{tbl}").collect()[0].createtab_stmt
        assert expect in stmt
        src, tr = fe._parse_partition_expr(expect)
        assert (src, tr) == (
            fe.wh.table("db", tbl).partition_spec().source,
            fe.wh.table("db", tbl).partition_spec().transform,
        )


def test_export_names_new_transforms(wh):
    import json as _json
    import os as _os

    t = wh.create_table("db", "ex1", "code string, v int", partition_by="code", transform="truncate2")
    t.insert_values([("AB", 1)])
    mdir = _os.path.join(t.path, "metadata")
    hint = open(_os.path.join(mdir, "version-hint.text")).read().strip()
    doc = _json.load(open(_os.path.join(mdir, f"v{hint}.metadata.json")))
    specs = doc["partition-specs"]
    assert any(
        f["transform"] == "truncate[2]" for s in specs for f in s["fields"]
    )


# ---- type widening (Iceberg schema evolution's third primitive) -----------


def test_type_widening_metadata_only(wh, spark):
    t = wh.create_table("db", "w1", "id int, ratio float, amt decimal(8,2)")
    t.insert_values([(1, 1.5, None)])
    t.append(spark.sql("SELECT 2 AS id, CAST(2.5 AS FLOAT) AS ratio, CAST(10.25 AS DECIMAL(8,2)) AS amt"))
    t.alter_column_type("id", "bigint")
    t.alter_column_type("ratio", "double")
    t.alter_column_type("amt", "decimal(12,2)")
    got = sorted(map(tuple, t.read().collect()))
    assert [r[0] for r in got] == [1, 2]  # old int32 files upcast on read
    assert dict(t.read().dtypes) == {"id": "bigint", "ratio": "double", "amt": "decimal(12,2)"}
    # post-widening appends with the wide type coexist with old files
    t.insert_values([(3_000_000_000, 3.5, None)])
    assert t.read().count() == 3


def test_type_widening_refuses_narrowing_and_reshaping(wh):
    import pytest as _pytest

    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    t = wh.create_table("db", "w2", "id bigint, v string, amt decimal(10,2)")
    for col, bad in (("id", "int"), ("v", "int"), ("amt", "decimal(10,4)"), ("amt", "decimal(8,2)")):
        with _pytest.raises(WarehouseError):
            t.alter_column_type(col, bad)


def test_type_widening_through_sql_and_time_travel(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    fe = LakehouseSQL(spark, str(tmp_path / "wh"))
    fe.sql("CREATE NAMESPACE IF NOT EXISTS db")
    fe.sql("CREATE TABLE db.wt (id INT, v STRING) USING iceberg")
    fe.sql("INSERT INTO db.wt VALUES (1, 'a')")
    fe.sql("ALTER TABLE db.wt ALTER COLUMN id TYPE BIGINT")
    fe.sql("INSERT INTO db.wt VALUES (3000000000, 'b')")
    rows = fe.sql("SELECT id, v FROM db.wt ORDER BY id").collect()
    assert [(r.id, r.v) for r in rows] == [(1, "a"), (3000000000, "b")]
    # time travel to the pre-widening snapshot projects the OLD schema
    tt = fe.sql("SELECT id, v FROM db.wt VERSION AS OF 1").collect()
    assert [(r.id, r.v) for r in tt] == [(1, "a")]


# ---- pruned scans: literal frames, decimal truncate, write zones -----------


def test_timestamp_file_skipping_matches_filter_frame(lake, spark):
    """Footer bounds are UTC instants; naive predicate values take the
    frame their row filter will use. Skipping must never drop a file
    whose rows the filter would match, in either consumer:
    - Table.scan with a naive datetime OBJECT → JVM-local frame
    - a SQL literal via the scan-hint path → session-zone frame."""
    lake.sql("CREATE TABLE polaris.db.tz (id INT, ts TIMESTAMP) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.tz VALUES (1, TIMESTAMP '2024-01-01 05:00:00')")
    tab = lake.wh.table("db", "tz")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # scan API: the naive object frame is process-local (UTC in this
        # container), independent of the session zone — same value the
        # Catalyst literal resolves to, so filter and skip agree
        got = tab.scan(eq={"ts": datetime.datetime(2024, 1, 1, 5, 0, 0)}).collect()
        assert len(got) == 1 and got[0].id == 1
        # SQL path: the literal is session-zone New-York wall clock
        # (00:00 EST == 05:00 UTC); the hint-driven skip must keep the
        # file and the full statement must return the row
        got2 = lake.sql(
            "SELECT id FROM db.tz WHERE ts = TIMESTAMP '2024-01-01 00:00:00'"
        ).collect()
        assert len(got2) == 1 and got2[0].id == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_decimal_truncate_uses_unscaled_width(lake, spark):
    """Iceberg spec: truncate[W] on decimal applies W to the UNSCALED
    value (truncate[50] on scale-2 → 0.50 value steps), with floor
    semantics for negatives — value-unit pmod would place rows in dirs
    no compliant engine derives."""
    import os

    lake.sql(
        "CREATE TABLE polaris.db.tdec (id INT, amt DECIMAL(10,2)) USING ICEBERG "
        "PARTITIONED BY (truncate(50, amt))"
    )
    lake.sql(
        "INSERT INTO db.tdec VALUES (1, 10.25), (2, -10.25), (3, 10.75), (4, 0.49)"
    )
    t = lake.wh.table("db", "tdec")
    dirs = {
        seg.split("=", 1)[1]
        for root, _, _f in os.walk(t.path)
        for seg in root.split(os.sep)
        if seg.startswith("_p_truncate50_amt=")
    }
    assert dirs == {"10.00", "-10.50", "10.50", "0.00"}
    # scan derives the partition value from an eq literal: only the
    # derived dir's files are planned
    sc = t.scan(eq={"amt": __import__("decimal").Decimal("10.25")})
    assert _planned_parts(sc, "_p_truncate50_amt") == {"10.00"}
    assert sc.filter("amt = 10.25").count() == 1
    # negative literal maps with floor, not toward-zero
    sc2 = t.scan(eq={"amt": __import__("decimal").Decimal("-10.25")})
    assert _planned_parts(sc2, "_p_truncate50_amt") == {"-10.50"}
    assert sc2.filter("amt = -10.25").count() == 1


def test_temporal_hive_dirs_pin_write_zone_and_decline_cross_zone_pruning(lake, spark):
    """The engine's day(ts) hive dirs extract calendar fields in the
    WRITE session's zone; a scan under a DIFFERENT zone must not derive
    a partition filter (it would land on a different dir value near day
    boundaries and exclude the dir holding the matching row)."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        lake.sql(
            "CREATE TABLE polaris.db.tzd (id INT, ts TIMESTAMP) USING ICEBERG "
            "PARTITIONED BY (days(ts))"
        )
        # 2024-01-01T19:00Z = Tokyo 2024-01-02 04:00 → Tokyo-day dir
        lake.sql(
            "INSERT INTO db.tzd VALUES "
            "(1, '2024-01-01T19:00:00+00:00'), (2, '2024-01-03T02:00:00+00:00')"
        )
        t = lake.wh.table("db", "tzd")
        meta = t._meta()
        recs = list(meta.get("dir_specs", {}).values())
        assert recs and all(r.get("tz") == "Asia/Tokyo" for r in recs)
        # same-zone scan still prunes to the matching dir
        sc = t.scan(eq={"ts": "2024-01-02 04:00:00"})
        assert _planned_parts(sc, "_p_day_ts") == {"2024-01-02"}
        assert [r.id for r in sc.filter("ts = '2024-01-02 04:00:00'").collect()] == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # cross-zone (UTC) scan: the SAME instant is naive '2024-01-01 19:00'
    # — the zone guard must decline the partition filter and keep the row
    sc = t.scan(eq={"ts": "2024-01-01 19:00:00"})
    assert [r.id for r in sc.filter("ts = '2024-01-01 19:00:00'").collect()] == [1]


def test_zone_equivalence_shared_and_utc_aliases_prune(lake, spark):
    """'Etc/UTC' written vs 'UTC' read are the same zone — the export's
    temporal-dir gate must still publish the partition values through
    the shared alias table, so scans prune."""
    from minio_iceberg_polaris_lakehouse_spark.tzones import is_utcish

    assert is_utcish("GMT+00:00") and not is_utcish("GMT+09:00")

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    try:
        lake.sql(
            "CREATE TABLE polaris.db.tzq (id INT, ts TIMESTAMP) USING ICEBERG "
            "PARTITIONED BY (days(ts))"
        )
        lake.sql(
            "INSERT INTO db.tzq VALUES (1, '2024-01-01T04:00:00+00:00'), "
            "(2, '2024-01-03T04:00:00+00:00')"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # read under plain 'UTC': equivalent zone → partitions prune
    t = lake.wh.table("db", "tzq")
    sc = t.scan(eq={"ts": "2024-01-01 04:00:00"})
    assert _planned_parts(sc, "_p_day_ts") == {"2024-01-01"}
    assert [r.id for r in sc.filter("ts = '2024-01-01 04:00:00'").collect()] == [1]
