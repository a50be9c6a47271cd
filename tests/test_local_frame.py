"""session.local_frame: driver-side rows become an Arrow-backed
LocalRelation — same rows and schema as ``createDataFrame`` over the
list, but collecting it runs no Spark job (no Python workers). Metadata
tables, CALL procedures and metadata COUNT(*) all return through it."""

from __future__ import annotations

import ast
import datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from minio_iceberg_polaris_lakehouse_spark.session import local_frame
from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

PKG = Path(__file__).resolve().parent.parent / "minio_iceberg_polaris_lakehouse_spark"

_TS = datetime.datetime(2024, 3, 10, 6, 30, 15, 123000)

CASES = {
    "scalars": (
        "a bigint, b int, c string, d boolean, e double",
        [(1, 2, "x", True, 1.5), (None, None, None, None, None), (-(2**62), -7, "", False, -0.0)],
    ),
    "decimal": ("d decimal(10,2)", [(Decimal("1.25"),), (None,), (Decimal("-99999999.99"),)]),
    "timestamp": ("t timestamp", [(_TS,), (None,)]),
    "map": ("m map<string,string>", [({"k": "v", "k2": "w"},), ({},), (None,)]),
    "array": ("l array<bigint>", [([1, None, 3],), ([],), (None,)]),
    "struct": (
        "s struct<x: int, y: string>",
        [(Row(x=1, y="a"),), ((2, "b"),), (None,)],
    ),
    "nested": (
        "l array<struct<k: string, v: map<string,bigint>>>",
        [([Row(k="a", v={"x": 1}), Row(k="b", v=None)],), (None,)],
    ),
    "row_kwargs": (
        "snapshot_id bigint, operation string, committed_at timestamp",
        [Row(snapshot_id=7, operation="append", committed_at=_TS)],
    ),
    "empty": ("a bigint, m map<string,string>", []),
    "struct_type": (
        T.StructType([T.StructField("n", T.LongType(), False), T.StructField("s", T.StringType())]),
        [(3, "x")],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_round_trip_matches_create_dataframe(spark, case):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_rows_matched_by_field_name(spark):
    df = local_frame(spark, [Row(b="x", a=1), (2, "y")], "a bigint, b string")
    assert df.collect() == [Row(a=1, b="x"), Row(a=2, b="y")]


def test_type_and_shape_errors_raise(spark):
    for bad, schema in (("x", "a bigint"), (1, "a string"), (1.5, "a int"), (1, "a double")):
        with pytest.raises((TypeError, ValueError)):
            local_frame(spark, [(bad,)], schema)
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a bigint")
    with pytest.raises(ValueError):
        local_frame(spark, [Row(c=1)], "a bigint")
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], T.StructType([T.StructField("a", T.LongType(), False)]))


def test_empty_zero_column_frame(spark):
    df = local_frame(spark, [], T.StructType([]))
    assert df.columns == [] and df.collect() == []


@pytest.fixture()
def lake(spark, tmp_path):
    lake = LakehouseSQL(spark, str(tmp_path / "warehouse"))
    lake.sql("CREATE NAMESPACE IF NOT EXISTS db")
    lake.sql("CREATE TABLE db.t (id BIGINT, v STRING) USING iceberg")
    lake.sql("INSERT INTO db.t VALUES (1, 'a'), (2, 'b')")
    lake.sql("INSERT INTO db.t VALUES (3, 'c')")
    return lake


@pytest.mark.parametrize(
    "stmt",
    [
        "SELECT * FROM db.t.snapshots",
        "SELECT * FROM db.t.files",
        "SELECT * FROM db.t.history",
        "SELECT COUNT(*) AS n FROM db.t",
        "CALL polaris.system.expire_snapshots(table => 'db.t', retain_last => 1)",
    ],
)
def test_driver_side_results_run_no_spark_job(spark, lake, stmt):
    sc = spark.sparkContext
    group = f"local_frame_{abs(hash(stmt))}"
    sc.setJobGroup(group, group)
    try:
        rows = lake.sql(stmt).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_snapshot_times_ignore_session_zone(spark, lake):
    """Commit times are epoch instants: a non-UTC session zone must not
    shift them (naive datetimes from _ms_to_ts are UTC, never localized
    in the session zone)."""
    want = {s["snapshot_id"]: s["committed_at_ms"] for s in lake.wh.table("db", "t")._snaps()}
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        snaps = lake.sql(
            "SELECT snapshot_id, unix_millis(committed_at) AS ms FROM db.t.snapshots"
        ).collect()
        hist = lake.sql(
            "SELECT snapshot_id, unix_millis(made_current_at) AS ms FROM db.t.history"
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert {r.snapshot_id: r.ms for r in snaps} == want
    assert {r.snapshot_id: r.ms for r in hist} == want


@pytest.mark.parametrize("module", ["sql_frontend.py", "warehouse.py", "sources/iceberg_reader.py"])
def test_no_create_dataframe_over_driver_rows(module):
    """Driver-side rows go through local_frame: a createDataFrame call
    in these modules would bring back the Python-RDD path (one Spark job
    and a Python worker per partition for every metadata answer)."""
    tree = ast.parse((PKG / module).read_text())
    calls = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame"
    ]
    assert calls == [], f"{module}: createDataFrame at lines {calls}; use session.local_frame"
