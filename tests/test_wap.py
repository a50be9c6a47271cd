"""Write-audit-publish (Iceberg WAP): writes staged on a named branch are
invisible to main until published via fast_forward (ref move) or
cherry_pick (append-delta replay); audits read the branch by name."""

from __future__ import annotations

import pytest

from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    CommitConflictError,
    Warehouse,
    WarehouseError,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_branch_write_invisible_to_main(wh):
    t = wh.create_table("db", "w1", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("audit", "branch")
    t.insert_values([(2, "staged")], branch="audit")
    # main readers see only the published row
    assert _rows(t.read()) == [(1, "a")]
    assert t.current_snapshot_id() == 1
    # the audit session reads the branch by name (VERSION AS OF 'audit')
    assert _rows(t.read(version="audit")) == [(1, "a"), (2, "staged")]


def test_fast_forward_publishes(wh):
    t = wh.create_table("db", "w2", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("audit", "branch")
    t.insert_values([(2, "b")], branch="audit")
    t.insert_values([(3, "c")], branch="audit")  # branch advances
    sid = t.fast_forward("audit")
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert t.current_snapshot_id() == sid
    summary = t._resolve(sid)["summary"]
    assert summary["published-from-branch"] == "audit"


def test_fast_forward_conflicts_when_main_moved(wh):
    t = wh.create_table("db", "w3", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("audit", "branch")
    t.insert_values([(2, "staged")], branch="audit")
    t.insert_values([(3, "raced")])  # main moves underneath
    with pytest.raises(CommitConflictError):
        t.fast_forward("audit")
    # cherry-pick still applies the staged append's delta
    staged_sid = int(t._meta()["refs"]["audit"]["snapshot_id"])
    t.cherry_pick(staged_sid)
    assert _rows(t.read()) == [(1, "a"), (2, "staged"), (3, "raced")]


def test_cherry_pick_refuses_non_append(wh):
    t = wh.create_table("db", "w4", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    t.delete_where("id = 2")  # copy-on-write replace
    with pytest.raises(WarehouseError):
        t.cherry_pick(2)


def test_branch_snapshots_excluded_from_lineage_scans(wh):
    t = wh.create_table("db", "w5", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("audit", "branch")
    t.insert_values([(2, "staged")], branch="audit")
    t.insert_values([(3, "main2")])
    # incremental scan and changelog walk MAIN lineage only
    inc = _rows(t.incremental_scan(1))
    assert inc == [(3, "main2")]
    feed = _rows(t.changes().select("id", "_change_type"))
    assert feed == [(1, "insert"), (3, "insert")]
    # history flags the staged snapshot as not-an-ancestor
    anc = {r.snapshot_id: r.is_current_ancestor for r in t.history().collect()}
    assert anc[2] is False and anc[1] is True and anc[3] is True
    # timestamp travel never resolves to a staged snapshot
    import time

    assert _rows(t.read(as_of_ms=int(time.time() * 1000) + 10_000)) == [
        (1, "a"),
        (3, "main2"),
    ]


def test_expire_keeps_ref_pinned_branch_head(wh):
    t = wh.create_table("db", "w6", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("audit", "branch")
    t.insert_values([(2, "staged")], branch="audit")
    t.insert_values([(3, "b")])
    t.expire_snapshots(keep_last=1)
    # branch head survives expiry (ref-pinned); branch still readable
    assert _rows(t.read(version="audit")) == [(1, "a"), (2, "staged")]
    assert _rows(t.read()) == [(1, "a"), (3, "b")]


def test_repeated_wap_cycles_fast_forward(wh):
    """Stage + fast_forward twice on ONE branch — the normal WAP loop.
    Publishing re-points the branch at the published main head, so the
    second cycle forks from it and still fast-forwards (previously the
    stale fork base made every second cycle a CommitConflictError)."""
    t = wh.create_table("db", "w7", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("audit", "branch")
    t.insert_values([(2, "cycle1")], branch="audit")
    sid1 = t.fast_forward("audit")
    assert int(t._meta()["refs"]["audit"]["snapshot_id"]) == sid1
    # second cycle on the same branch
    t.insert_values([(3, "cycle2")], branch="audit")
    assert _rows(t.read()) == [(1, "a"), (2, "cycle1")]  # still staged
    sid2 = t.fast_forward("audit")
    assert _rows(t.read()) == [(1, "a"), (2, "cycle1"), (3, "cycle2")]
    assert t.current_snapshot_id() == sid2
    # and a third, for good measure
    t.insert_values([(4, "cycle3")], branch="audit")
    t.fast_forward("audit")
    assert _rows(t.read())[-1] == (4, "cycle3")


def test_expire_keeps_staged_chain_publishable(wh):
    """Two commits staged on a branch, then expire: the INTERMEDIATE
    staged snapshot must survive (fast_forward walks the parent chain to
    the fork base), so the branch is still publishable after expiry."""
    t = wh.create_table("db", "w8", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("audit", "branch")
    t.insert_values([(2, "s1")], branch="audit")
    t.insert_values([(3, "s2")], branch="audit")
    t.expire_snapshots(keep_last=1)
    sid = t.fast_forward("audit")
    assert _rows(t.read()) == [(1, "a"), (2, "s1"), (3, "s2")]
    assert t.current_snapshot_id() == sid


def test_wap_branch_routes_row_level_dml(spark, tmp_path):
    """While SET spark.wap.branch is active, DELETE/UPDATE/MERGE stage on
    the branch (Iceberg's session-wide WAP write routing): main is
    untouched until fast_forward publishes the audited state."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    lake = LakehouseSQL(spark, str(tmp_path / "whdml"))
    lake.sql("CREATE TABLE polaris.db.guard (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.guard VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    lake.sql("ALTER TABLE polaris.db.guard CREATE BRANCH audit")
    lake.sql("SET spark.wap.branch = 'audit'")
    lake.sql("DELETE FROM polaris.db.guard WHERE id = 1")
    lake.sql("UPDATE polaris.db.guard SET v = 'b2' WHERE id = 2")
    lake.sql(
        "MERGE INTO polaris.db.guard t USING (SELECT 4 AS id, 'd' AS v) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    # main untouched by every routed statement
    assert _rows(lake.wh.table("db", "guard").read()) == [(1, "a"), (2, "b"), (3, "c")]
    # the branch carries the audited state
    assert _rows(lake.wh.table("db", "guard").read(version="audit")) == [
        (2, "b2"),
        (3, "c"),
        (4, "d"),
    ]
    lake.sql("RESET spark.wap.branch")
    lake.sql(
        "CALL polaris.system.fast_forward(table => 'db.guard', "
        "branch => 'main', to => 'audit')"
    )
    assert _rows(lake.wh.table("db", "guard").read()) == [(2, "b2"), (3, "c"), (4, "d")]


def test_wap_branch_routes_mor_delete(wh):
    """Merge-on-read DELETE staged on a branch: tombstones land on the
    branch snapshot, main reads stay delete-free until publish."""
    t = wh.create_table(
        "db", "w9", "id int, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    t.create_ref("audit", "branch")
    t.delete_where("id = 2", branch="audit")
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(t.read(version="audit")) == [(1, "a"), (3, "c")]
    t.fast_forward("audit")
    assert _rows(t.read()) == [(1, "a"), (3, "c")]
    # second cycle: equality delete on the same branch
    t2 = wh.create_table(
        "db", "w9e", "id int, v string",
        properties={
            "write.delete.mode": "merge-on-read-equality",
            "write.delete.equality-columns": "id",
        },
    )
    t2.insert_values([(1, "a"), (2, "b")])
    t2.create_ref("audit", "branch")
    t2.delete_where("id = 1", branch="audit")
    assert _rows(t2.read()) == [(1, "a"), (2, "b")]
    assert _rows(t2.read(version="audit")) == [(2, "b")]
    t2.fast_forward("audit")
    assert _rows(t2.read()) == [(2, "b")]


def test_wap_sql_surface(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql("CREATE TABLE polaris.db.wap (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.wap VALUES (1, 'a')")
    lake.sql("ALTER TABLE polaris.db.wap CREATE BRANCH audit")
    lake.sql("SET spark.wap.branch = 'audit'")
    lake.sql("INSERT INTO polaris.db.wap VALUES (2, 'staged')")
    # main unchanged; branch has the staged row
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.wap").collect()[0].n == 1
    assert (
        lake.sql(
            "SELECT COUNT(*) AS n FROM polaris.db.wap VERSION AS OF 'audit'"
        ).collect()[0].n
        == 2
    )
    lake.sql("RESET spark.wap.branch")
    out = lake.sql(
        "CALL polaris.system.fast_forward(table => 'db.wap', "
        "branch => 'main', to => 'audit')"
    ).collect()[0]
    assert out.branch_updated == "main"
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.wap").collect()[0].n == 2
    # cherrypick path: stage another append, publish by snapshot id
    lake.sql("SET spark.wap.branch = 'audit'")
    lake.sql("INSERT INTO polaris.db.wap VALUES (3, 'staged2')")
    lake.sql("RESET spark.wap.branch")
    staged = int(
        lake.wh.table("db", "wap")._meta()["refs"]["audit"]["snapshot_id"]
    )
    picked = lake.sql(
        f"CALL polaris.system.cherrypick_snapshot(table => 'db.wap', snapshot_id => {staged})"
    ).collect()[0]
    assert picked.source_snapshot_id == staged
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.wap").collect()[0].n == 3


def test_wap_id_sql_surface(spark, tmp_path):
    """`SET spark.wap.id` + CALL system.publish_changes — the id-keyed
    WAP variant: INSERTs stage invisibly under the id, publish
    cherry-picks onto CURRENT main (so it survives main moving, unlike
    fast_forward), and the hidden staging branch is dropped."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql("CREATE TABLE polaris.db.w (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.w VALUES (1, 'a')")
    lake.sql("SET spark.wap.id = 'etl-42'")
    lake.sql("INSERT INTO polaris.db.w VALUES (2, 'staged')")
    lake.sql("INSERT INTO polaris.db.w VALUES (3, 'staged')")
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.w").collect()[0].n == 1
    lake.sql("RESET spark.wap.id")
    # main MOVES between stage and publish — publish still lands (the
    # cherry-pick property fast_forward lacks)
    lake.sql("INSERT INTO polaris.db.w VALUES (9, 'rival')")
    out = lake.sql(
        "CALL polaris.system.publish_changes(table => 'db.w', wap_id => 'etl-42')"
    ).collect()[0]
    assert out.published == 2
    got = sorted(r.id for r in lake.sql("SELECT id FROM polaris.db.w").collect())
    assert got == [1, 2, 3, 9]
    # staging branch dropped; unknown id is loud
    assert "__wap_etl-42" not in lake.wh.table("db", "w")._meta().get("refs", {})
    with pytest.raises(WarehouseError, match="no staged changes"):
        lake.sql(
            "CALL polaris.system.publish_changes(table => 'db.w', wap_id => 'etl-42')"
        )
    # both knobs set at once is ambiguous
    lake.sql("SET spark.wap.branch = 'b'")
    lake.sql("SET spark.wap.id = 'x'")
    with pytest.raises(WarehouseError, match="both set"):
        lake.sql("INSERT INTO polaris.db.w VALUES (4, 'd')")
    lake.sql("RESET spark.wap.branch")
    lake.sql("RESET spark.wap.id")


def test_timestamp_travel_over_open_metadata_skips_staged_snapshot(wh, spark):
    """The published metadata lists branch snapshots too; timestamp time
    travel resolves over its snapshot-log (main's heads), so a staged
    write-audit-publish row never leaks into a TIMESTAMP AS OF read."""
    import time

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    t = wh.create_table("db", "w_asof", "id int")
    t.insert_values([(1,), (2,)])
    t.create_ref("audit", "branch")
    t.insert_values([(3,)], branch="audit")
    now = int(time.time() * 1000)
    assert _rows(t.read(as_of_ms=now)) == [(1,), (2,)]
    assert _rows(read_iceberg_table(spark, t.path, as_of_ms=now)) == [(1,), (2,)]


def test_merge_on_read_dml_on_branch_after_alter(wh):
    """ALTER ADD/RENAME COLUMN commits no snapshot, so a branch head still
    records the old schema. Merge-on-read DML staged on the branch (or a
    transaction's hidden branch) reads the head with the CURRENT schema:
    conditions and SETs may name the new and renamed columns."""
    t = wh.create_table("db", "w_alter", "id int, v string")
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    t.create_ref("audit", "branch")
    t.add_column("w", "int")
    t.rename_column("v", "s")
    t.update_where({"w": "id * 10"}, "s <> 'b'", mode="merge-on-read", branch="audit")
    t.delete_where("w = 30", mode="merge-on-read", branch="audit")
    assert _rows(t.read(version="audit")) == [(1, "a", 10), (2, "b", None)]
    assert _rows(t.read()) == [(1, "a", None), (2, "b", None), (3, "c", None)]
    t.fast_forward("audit")
    assert _rows(t.read()) == [(1, "a", 10), (2, "b", None)]

    t.add_column("x", "string")
    with wh.transaction() as txn:
        tt = txn.table("db", "w_alter")
        tt.update_where({"x": "s"}, "w IS NULL", mode="merge-on-read")
        tt.delete_where("x = 'zzz' OR id = 1", mode="merge-on-read")
    assert _rows(t.read()) == [(2, "b", None, "b")]
