"""Metadata-table and maintenance-procedure completeness added this
round: `.entries`, `.all_data_files`, `.metadata_log_entries`,
`CALL system.rewrite_manifests` (manifest bundling), and
`CALL system.ancestors_of`."""

from __future__ import annotations

import json
import os

import pytest

from minio_iceberg_polaris_lakehouse_spark import fsio
from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL


@pytest.fixture()
def lake(spark, tmp_path):
    return LakehouseSQL(spark, str(tmp_path / "warehouse"))


def _mk_table(lake, rows=((1, "a"), (2, "b"))):
    lake.sql("CREATE NAMESPACE IF NOT EXISTS db")
    lake.sql("CREATE TABLE db.t (id INT, v STRING) USING iceberg")
    for r in rows:
        lake.sql(f"INSERT INTO db.t VALUES ({r[0]}, '{r[1]}')")
    return lake.wh.table("db", "t")


def test_entries_statuses_and_sequence(lake):
    tab = _mk_table(lake)
    rows = lake.sql("SELECT * FROM db.t.entries").collect()
    assert len(rows) >= 2  # one data file per insert at minimum
    # the LAST commit's files are ADDED(1), the first commit's EXISTING(0)
    statuses = {r.snapshot_id: r.status for r in rows}
    cur = tab.current_snapshot_id()
    assert statuses[cur] == 1
    assert 0 in statuses.values()
    seqs = sorted({(r.snapshot_id, r.sequence_number) for r in rows})
    # sequence numbers strictly increase with commit order
    assert [s for _, s in seqs] == sorted({s for _, s in seqs})
    for r in rows:
        assert r.content == 0
        assert r.record_count == 1
        assert fsio.isfile(r.file_path)
    # after expiry the sequence numbers stay the adding snapshots' ids —
    # the same numbers the exported manifests carry
    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        resolve_metadata_path,
    )

    lake.sql("INSERT INTO db.t VALUES (3, 'c')")
    tab.expire_snapshots(keep_last=1)
    rows = lake.sql("SELECT * FROM db.t.entries").collect()
    assert sorted(r.sequence_number for r in rows) == [1, 2, 3]
    md = json.loads(fsio.read_text(resolve_metadata_path(tab.path)))
    (ml,) = [s["manifest-list"] for s in md["snapshots"]]
    exported = {
        e["data_file"]["file_path"]: e["sequence_number"]
        for m in avro_io.read_container(ml)[2]
        for e in avro_io.read_container(m["manifest_path"])[2]
    }
    assert {r.file_path: r.sequence_number for r in rows} == exported


def test_all_data_files_sees_expired_current_union(lake):
    tab = _mk_table(lake)
    lake.sql("INSERT OVERWRITE db.t VALUES (9, 'z')")
    cur_files = {r.file_path for r in tab.files().collect()}
    all_files = {r.file_path for r in tab.all_data_files().collect()}
    # the overwrite hid the first two files from .files, but
    # .all_data_files still reports them (they back time travel)
    assert cur_files < all_files
    assert len(all_files) >= 3
    rows = lake.sql("SELECT COUNT(*) AS n FROM db.t.all_data_files").collect()
    assert rows[0].n == len(all_files)


def test_metadata_log_entries_one_per_commit(lake):
    tab = _mk_table(lake)
    rows = lake.sql(
        "SELECT * FROM db.t.metadata_log_entries ORDER BY timestamp"
    ).collect()
    snaps = tab.snapshots().collect()
    assert len(rows) == len(snaps)
    assert [r.latest_snapshot_id for r in rows] == [s.snapshot_id for s in snaps]
    for r in rows:
        assert fsio.isfile(r.file)


def test_ancestors_of_walks_parent_chain(lake):
    tab = _mk_table(lake, rows=((1, "a"), (2, "b"), (3, "c")))
    rows = lake.sql("CALL lh.system.ancestors_of(table => 'db.t')").collect()
    snaps = tab.snapshots().collect()
    assert [r.snapshot_id for r in rows] == [s.snapshot_id for s in reversed(snaps)]
    # explicit snapshot_id: lineage of the SECOND commit has two entries
    mid = snaps[1].snapshot_id
    rows2 = lake.sql(
        f"CALL lh.system.ancestors_of(table => 'db.t', snapshot_id => {mid})"
    ).collect()
    assert [r.snapshot_id for r in rows2] == [snaps[1].snapshot_id, snaps[0].snapshot_id]


def test_rewrite_manifests_bundles_and_reads_unchanged(lake):
    tab = _mk_table(lake, rows=tuple((i, f"v{i}") for i in range(1, 6)))
    before = sorted(tuple(r) for r in lake.sql("SELECT * FROM db.t").collect())
    res = lake.sql("CALL lh.system.rewrite_manifests(table => 'db.t')").collect()[0]
    assert res.rewritten_manifests_count == 5
    assert res.added_manifests_count == 1
    bundles = [
        f
        for f in fsio.listdir(os.path.join(tab.path, "metadata"))
        if f.startswith("manifest-bundle-")
    ]
    assert len(bundles) == 1
    # reads, pruning, and time travel are value-identical after bundling
    after = sorted(tuple(r) for r in lake.sql("SELECT * FROM db.t").collect())
    assert after == before
    assert lake.sql("SELECT * FROM db.t WHERE id = 3").collect()[0].v == "v3"
    first = tab.snapshots().collect()[0].snapshot_id
    assert len(lake.sql(f"SELECT * FROM db.t VERSION AS OF {first}").collect()) == 1
    # idempotent: nothing left to rewrite
    res2 = lake.sql("CALL lh.system.rewrite_manifests(table => 'db.t')").collect()[0]
    assert res2.rewritten_manifests_count == 0
    # a dir committed AFTER the rewrite reads its own sidecar until the
    # next rewrite folds it in
    lake.sql("INSERT INTO db.t VALUES (99, 'post')")
    assert lake.sql("SELECT * FROM db.t WHERE id = 99").collect()[0].v == "post"
    res3 = lake.sql("CALL lh.system.rewrite_manifests(table => 'db.t')").collect()[0]
    assert res3.rewritten_manifests_count == 1
    # .files carries the same per-file stats through the bundle path
    files = tab.files().collect()
    assert all(f.record_count == 1 for f in files)


def test_rewrite_manifests_file_skipping_still_prunes(lake):
    """Manifest bundling must not break min/max file skipping: the
    pruned-scan result and the pruned file count are unchanged."""
    tab = _mk_table(lake, rows=tuple((i * 10, f"v{i}") for i in range(1, 5)))
    pruned_before = tab.scan(between={"id": (30, 1000)}).count()
    tab.rewrite_manifests()
    assert tab.scan(between={"id": (30, 1000)}).count() == pruned_before


def test_position_deletes_metadata_table(lake):
    lake.sql("CREATE NAMESPACE IF NOT EXISTS db2")
    lake.sql(
        "CREATE TABLE db2.m (id INT, v STRING) USING iceberg "
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    lake.sql("INSERT INTO db2.m VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    rows = lake.sql("SELECT * FROM db2.m.position_deletes").collect()
    assert rows == []  # no deletes yet
    lake.sql("DELETE FROM db2.m WHERE id = 2")
    rows = lake.sql("SELECT * FROM db2.m.position_deletes").collect()
    assert len(rows) == 1
    assert rows[0].pos >= 0 and rows[0].file_path
    assert "delete-" in rows[0].delete_file_path


def test_position_deletes_frame_lists_no_dirs_in_a_job(spark, lake):
    """Building the position_deletes frame over more delete dirs than
    Spark's parallel-listing threshold runs no Spark job: the dirs are
    read in slices no longer than the threshold."""
    lake.sql("CREATE NAMESPACE IF NOT EXISTS db3")
    lake.sql(
        "CREATE TABLE db3.m (id INT) USING iceberg "
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    lake.sql("INSERT INTO db3.m VALUES (1), (2), (3), (4)")
    for i in (1, 2, 3):
        lake.sql(f"DELETE FROM db3.m WHERE id = {i}")
    tab = lake.wh.table("db3", "m")
    assert len(tab._resolve()["delete_dirs"]) == 3
    sc = spark.sparkContext
    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    sc.setJobGroup("position_deletes_build", "position_deletes_build")
    try:
        df = tab.position_deletes()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(conf, old)
    assert list(sc.statusTracker().getJobIdsForGroup("position_deletes_build")) == []
    assert len(df.collect()) == 3


def test_remove_orphan_files_older_than(lake, tmp_path):
    import os as _os

    tab = _mk_table(lake)
    orphan = _os.path.join(tab.path, "data-deadbeefcafe")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "junk.parquet"), "w") as f:
        f.write("x")
    # default 3-day guard: too young to delete
    out = lake.sql("CALL lh.system.remove_orphan_files(table => 'db.t')").collect()[0]
    assert out.orphan_file_location_count == 0
    # explicit older_than in the FUTURE → age threshold 0 → removed
    out = lake.sql(
        "CALL lh.system.remove_orphan_files(table => 'db.t', "
        "older_than => TIMESTAMP '2099-01-01 00:00:00')"
    ).collect()[0]
    assert out.orphan_file_location_count == 1
    assert not _os.path.isdir(orphan)


def test_merge_not_matched_by_source_delete(lake):
    """MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE turns MERGE into
    a full two-way sync: unmatched target rows drop."""
    lake.sql("CREATE NAMESPACE IF NOT EXISTS db3")
    lake.sql("CREATE TABLE db3.sync (id INT, v STRING) USING iceberg")
    lake.sql("INSERT INTO db3.sync VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    lake.sql(
        "MERGE INTO db3.sync t "
        "USING (SELECT * FROM VALUES (2, 'B'), (4, 'D') AS s(id, v)) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    rows = sorted((r.id, r.v) for r in lake.sql("SELECT * FROM db3.sync").collect())
    # 1 and 3 (unmatched by source) dropped; 2 updated; 4 inserted
    assert rows == [(2, "B"), (4, "D")]
    # without the BY SOURCE arm, unmatched target rows survive
    lake.sql(
        "MERGE INTO db3.sync t "
        "USING (SELECT * FROM VALUES (9, 'x') AS s(id, v)) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    rows = sorted((r.id, r.v) for r in lake.sql("SELECT * FROM db3.sync").collect())
    assert rows == [(2, "B"), (4, "D"), (9, "x")]


def test_expire_snapshots_older_than_timestamp(lake):
    tab = _mk_table(lake, rows=((1, "a"), (2, "b"), (3, "c")))
    snaps = tab.snapshots().collect()
    assert len(snaps) == 3
    # cutoff AFTER everything, retain_last 1 → only the head survives
    lake.sql(
        "CALL lh.system.expire_snapshots(table => 'db.t', "
        "older_than => TIMESTAMP '2099-01-01 00:00:00', retain_last => 1)"
    )
    assert len(tab.snapshots().collect()) == 1
    assert sorted(r.id for r in lake.sql("SELECT * FROM db.t").collect()) == [1, 2, 3]


def test_expire_snapshots_older_than_keeps_recent(lake):
    import datetime as _dt

    tab = _mk_table(lake, rows=((1, "a"), (2, "b"), (3, "c")))
    # cutoff BEFORE everything → nothing expires even with retain_last 1
    lake.sql(
        "CALL lh.system.expire_snapshots(table => 'db.t', "
        "older_than => TIMESTAMP '2000-01-01 00:00:00', retain_last => 1)"
    )
    assert len(tab.snapshots().collect()) == 3


def test_delete_files_and_all_manifests(lake, spark):
    wh = lake.wh
    t = wh.create_table(
        "db",
        "mdel",
        "id int, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    assert t.delete_files().count() == 0
    t.delete_where("id = 2")
    df = t.delete_files()
    assert df.count() >= 1
    assert {r.content for r in df.collect()} == {1}
    # .files carries data + delete entries; .delete_files is its content!=0 slice
    assert t.files().count() == df.count() + t.files().filter("content = 0").count()
    # equality deletes show as content 2
    t.set_properties(
        {
            "write.delete.mode": "merge-on-read-equality",
            "write.delete.equality-columns": "id",
        }
    )
    t.delete_where("id = 3")
    assert {r.content for r in t.delete_files().collect()} == {1, 2}

    # all_manifests: every snapshot's dirs stay visible after an overwrite
    # drops one from the CURRENT snapshot
    pre = {r.path for r in t.all_manifests().collect()}
    t.overwrite(spark.createDataFrame([(9, "z")], t.schema()))
    post = {r.path for r in t.all_manifests().collect()}
    assert pre <= post, "historic manifests remain reachable"
    assert {r.path for r in t.manifests().collect()} < post


def test_delete_files_sql_selectable(lake, spark):
    lake.sql(
        "CREATE TABLE polaris.db.m (id INT, v STRING) USING ICEBERG "
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    lake.sql("INSERT INTO db.m VALUES (1, 'a'), (2, 'b')")
    lake.sql("DELETE FROM db.m WHERE id = 1")
    got = lake.sql("SELECT content, record_count FROM db.m.delete_files").collect()
    # the tombstone dir may split into several part-files depending on
    # the session's parallelism — pin the content code and total rows
    assert got and {r.content for r in got} == {1}
    assert sum(r.record_count for r in got) == 1
    n = lake.sql("SELECT COUNT(*) AS n FROM db.m.all_manifests").collect()[0].n
    assert n >= 1
