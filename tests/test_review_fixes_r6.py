"""Regression pins for the round-6 core review findings — each test
fails on the pre-fix code with silent wrong results (row loss, row
duplication, or statement mis-parse)."""

from __future__ import annotations

import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    Warehouse,
    _file_column_bounds,
)


@pytest.fixture()
def lake(spark, tmp_path):
    return LakehouseSQL(spark, str(tmp_path / "wh"))


def test_scan_hint_does_not_leak_into_second_reference(lake):
    """A WHERE-derived scan hint backs the table's temp view; with two
    references (UNION arm without WHERE) the hint must not fire at all —
    the pre-fix code filtered BOTH arms and lost rows."""
    lake.sql("CREATE TABLE polaris.db.h (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.h VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    out = lake.sql(
        "SELECT id FROM db.h WHERE id = 1 UNION ALL SELECT id FROM db.h"
    )
    assert sorted(r.id for r in out.collect()) == [1, 1, 2, 3]
    # single-reference statements still get the hint (file skipping)
    assert lake.sql("SELECT id FROM db.h WHERE id = 2").collect()[0].id == 2


def test_decimal_bounds_merge_numerically(tmp_path):
    """Row-group min/max must merge on raw values: stringify-first made
    min('10.5','9.5') == '10.5' — an inverted lower bound that causes
    wrong file skips."""
    tb = pa.table({"d": pa.array([decimal.Decimal("10.5"), decimal.Decimal("9.5")],
                                 type=pa.decimal128(4, 1))})
    p = str(tmp_path / "two_rg.parquet")
    pq.write_table(tb, p, row_group_size=1)  # one value per row group
    pf = pq.ParquetFile(p)
    assert pf.metadata.num_row_groups == 2
    bounds = _file_column_bounds(pf)
    assert bounds["d"] == ["9.5", "10.5"]


def test_update_with_commas_and_where_inside_literals(lake):
    """SET-list splitting and the WHERE cut must both be quote-aware."""
    lake.sql("CREATE TABLE polaris.db.u (id INT, note STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.u VALUES (1, 'old'), (2, 'keep')")
    lake.sql("UPDATE polaris.db.u SET note = 'a,b where c' WHERE id = 1")
    got = sorted((r.id, r.note) for r in lake.sql("SELECT id, note FROM db.u").collect())
    assert got == [(1, "a,b where c"), (2, "keep")]
    # TBLPROPERTIES with a comma inside a value survives the same split
    lake.sql(
        "CREATE TABLE polaris.db.u2 (id INT) USING ICEBERG "
        "TBLPROPERTIES ('comment'='a,b', 'k'='v')"
    )
    assert lake.wh.table("db", "u2")._meta()["properties"]["comment"] == "a,b"


def test_truncate_routes_to_wap_branch(lake):
    """TRUNCATE under SET spark.wap.branch stages on the branch like
    every other write; main keeps serving until publish."""
    lake.sql("CREATE TABLE polaris.db.tr (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.tr VALUES (1), (2)")
    lake.sql("ALTER TABLE polaris.db.tr CREATE BRANCH audit")
    lake.sql("SET spark.wap.branch = 'audit'")
    lake.sql("TRUNCATE TABLE polaris.db.tr")
    lake.sql("RESET spark.wap.branch")
    # main unaffected; the branch sees the truncation
    assert lake.sql("SELECT COUNT(*) AS n FROM db.tr").collect()[0].n == 2
    tab = lake.wh.table("db", "tr")
    assert tab.read(version="audit").count() == 0
    lake.sql(
        "CALL polaris.system.fast_forward(table => 'db.tr', branch => 'main', to => 'audit')"
    )
    assert lake.sql("SELECT COUNT(*) AS n FROM db.tr").collect()[0].n == 0


def test_orphan_age_guard_protects_inflight_writes(spark, tmp_path):
    """An unreferenced data dir younger than the threshold is an
    in-flight write, not an orphan — deleting it would let its commit
    land pointing at nothing."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "og", "id int")
    t.insert_values([(1,)])
    fresh = os.path.join(t.path, "data-inflight0001")
    os.makedirs(fresh)
    assert t.remove_orphan_files() == 0
    assert os.path.isdir(fresh)
    os.utime(fresh, (0, 0))
    assert t.remove_orphan_files() == 1
    assert not os.path.isdir(fresh)


def test_views_read_failure_does_not_erase_views(spark, tmp_path):
    """A torn/corrupt _views.json must raise, not collapse to {} — the
    next view write would persist the empty set and silently drop every
    existing definition."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_namespace("db")
    wh.create_view("db", "v1", "SELECT 1 AS one")
    with open(os.path.join(wh.root, "_views.json"), "w") as f:
        f.write("{torn")
    with pytest.raises(ValueError):
        wh.views()
