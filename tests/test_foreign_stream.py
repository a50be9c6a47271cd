"""ForeignTableStream: poll-based micro-batches over a foreign Iceberg
table's open metadata — manifest-list diffs, at-least-once commit
protocol, loud failure on expired checkpoints and non-append intervals."""

from __future__ import annotations

import pytest

from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    incremental_read_iceberg_table,
)
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
    append_iceberg_table,
)
from minio_iceberg_polaris_lakehouse_spark.streaming.foreign_source import (
    ForeignTableStream,
)
from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse, WarehouseError


def _ids(df):
    return sorted(r.id for r in df.collect())


@pytest.fixture()
def tab(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "ft", "id int, v string")
    t.insert_values([(1, "a")])
    return t


def test_incremental_read_appends_only(spark, tab):
    t = tab
    t.insert_values([(2, "b")])
    t.insert_values([(3, "c")])
    # foreign-metadata snapshot ids mirror the engine's (1,2,3)
    got = incremental_read_iceberg_table(spark, t.path, 1, 3)
    assert _ids(got) == [2, 3]
    assert _ids(incremental_read_iceberg_table(spark, t.path, 2)) == [3]
    assert incremental_read_iceberg_table(spark, t.path, 3, 3).count() == 0


def test_incremental_read_refuses_non_append_interval(spark, tab):
    t = tab
    t.insert_values([(2, "b")])
    t.delete_where("id = 1")  # copy-on-write: rewrites the manifest
    with pytest.raises(ValueError, match="replac|DELETE"):
        incremental_read_iceberg_table(spark, t.path, 1)


def test_incremental_read_schema_evolution_alignment(spark, tab):
    t = tab
    t.add_column("note", "string")
    t.rename_column("note", "memo")
    t.insert_values([(2, "b", "m2")])
    got = incremental_read_iceberg_table(spark, t.path, 1)
    assert got.columns == ["id", "v", "memo"]
    assert [tuple(r) for r in got.collect()] == [(2, "b", "m2")]


def test_stream_initial_then_appends_with_checkpoint(spark, tab, tmp_path):
    t = tab
    ckpt = str(tmp_path / "ckpt.json")
    s = ForeignTableStream(spark, t.path, checkpoint_path=ckpt)
    df, frm, cur = s.poll()
    assert (_ids(df), frm, cur) == ([1], 0, 1)
    assert s.poll() is None  # no advance
    # a FOREIGN writer appends through the open metadata
    append_iceberg_table(
        spark, t.path, spark.createDataFrame([(2, "b")], "id int, v string")
    )
    df2, frm2, cur2 = s.poll()
    assert (_ids(df2), frm2) == ([2], 1)
    # restart from the checkpoint: no re-emission
    s2 = ForeignTableStream(spark, t.path, checkpoint_path=ckpt)
    assert s2.poll() is None
    # (further writes stay on the FOREIGN path: an engine-log write
    # would re-export metadata from the engine's own snapshot log,
    # which never saw the foreign append — the documented single-owner
    # contract of mixed writers)
    append_iceberg_table(
        spark, t.path, spark.createDataFrame([(3, "c")], "id int, v string")
    )
    df3, _, _ = s2.poll()
    assert _ids(df3) == [3]


def test_stream_staged_commit_redelivers(spark, tab, tmp_path):
    t = tab
    s = ForeignTableStream(spark, t.path, checkpoint_path=str(tmp_path / "c.json"))
    s.poll()  # initial
    t.insert_values([(2, "b")])
    df, _, _ = s.poll(commit=False)
    assert _ids(df) == [2]
    # not committed: the same batch re-delivers
    df_again, _, _ = s.poll(commit=False)
    assert _ids(df_again) == [2]
    s.commit()
    assert s.poll() is None


def test_stream_expired_checkpoint_fails_loudly(spark, tab, tmp_path):
    t = tab
    s = ForeignTableStream(spark, t.path, checkpoint_path=str(tmp_path / "c.json"))
    s.poll()
    t.insert_values([(2, "b")])
    t.insert_values([(3, "c")])
    t.expire_snapshots(keep_last=1)  # snapshot 1 (the checkpoint) gone
    with pytest.raises(WarehouseError, match="expired"):
        s.poll()


# ---------------- CDC changelog over foreign metadata -------------------


def _changes(spark, path, frm, to=None):
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        changes_iceberg_table,
    )

    return changes_iceberg_table(spark, path, frm, to)


def test_foreign_changes_inserts_and_positional_deletes(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table(
        "db", "cdc", "id int, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert_values([(1, "a"), (2, "b")])       # snap 1
    t.insert_values([(3, "c")])                 # snap 2
    t.delete_where("id = 2")                    # snap 3 (MOR: delete file)
    got = sorted(
        (r.id, r.v, r._change_type, r._commit_snapshot_id)
        for r in _changes(spark, t.path, 1).collect()
    )
    assert got == [(2, "b", "delete", 3), (3, "c", "insert", 2)]
    # sub-interval: only the delete
    only_del = _changes(spark, t.path, 2, 3).collect()
    assert [(r.id, r._change_type) for r in only_del] == [(2, "delete")]
    # empty interval
    assert _changes(spark, t.path, 3, 3).count() == 0


def test_foreign_changes_insert_then_delete_same_interval(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table(
        "db", "cdc2", "id int, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert_values([(1, "a")])                 # snap 1
    t.insert_values([(2, "b")])                 # snap 2
    t.delete_where("id = 2")                    # snap 3
    got = sorted(
        (r.id, r._change_type) for r in _changes(spark, t.path, 1).collect()
    )
    # the row inserted AND deleted inside the interval appears as both —
    # standard CDC semantics (a downstream MERGE nets them out by ordinal)
    assert got == [(2, "delete"), (2, "insert")]


def test_foreign_changes_refuses_rewrites_and_equality(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "cdc3", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    t.delete_where("id = 1")  # copy-on-write rewrite
    # a rewrite reads as delete + insert of the rows it carries over —
    # exactly the native changelog's rows
    want = [(1, "a", "delete", 2, 0), (2, "b", "delete", 2, 0), (2, "b", "insert", 2, 0)]
    for df in (_changes(spark, t.path, 1), t.changes(1)):
        got = df.select("id", "v", "_change_type", "_commit_snapshot_id", "_change_ordinal")
        assert sorted(tuple(r) for r in got.collect()) == want
    # a RAW foreign equality delete ADDED within the interval (the
    # engine's own exports compile equality → positional, so this only
    # arises on genuinely foreign writers): extend the hand-authored
    # fixture with a snapshot 4 whose manifest-list diff introduces a
    # content=2 delete manifest
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.iceberg_export import (
        _MANIFEST_LIST_SCHEMA,
    )
    from tests.test_iceberg_reader import (
        _build_foreign_table,
        _foreign_entry_schema,
    )

    root = _build_foreign_table(tmp_path)
    mdir = f"{root}/metadata"
    md = _json.loads(open(f"{mdir}/v1.metadata.json").read())
    eq2 = f"{root}/data/eqdel2.parquet"
    pq.write_table(pa.table({"id": pa.array([4], pa.int32())}), eq2)
    man2 = f"{mdir}/m-del2.avro"
    avro_io.write_container(
        man2,
        _foreign_entry_schema(),
        [
            {
                "status": 1,
                "snapshot_id": 4,
                "sequence_number": 4,
                "file_sequence_number": 4,
                "data_file": {
                    "content": 2,
                    "file_path": eq2,
                    "file_format": "PARQUET",
                    "record_count": 1,
                    "file_size_in_bytes": 1,
                    "equality_ids": [1],
                },
            }
        ],
        metadata={"schema": _json.dumps(md["schemas"][0])},
    )
    _s, _m, prev_recs = avro_io.read_container(md["snapshots"][-1]["manifest-list"])
    new_list = f"{mdir}/snap-4-manifest-list.avro"
    avro_io.write_container(
        new_list,
        _MANIFEST_LIST_SCHEMA,
        prev_recs
        + [
            {
                "manifest_path": man2,
                "manifest_length": 1,
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": 4,
                "min_sequence_number": 4,
                "added_snapshot_id": 4,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 1,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
    )
    md["snapshots"].append(
        {
            "snapshot-id": 4,
            "parent-snapshot-id": 3,  # real writers always chain parents
            "timestamp-ms": 2000,
            "schema-id": 0,
            "manifest-list": new_list,
        }
    )
    md["current-snapshot-id"] = 4
    with open(f"{mdir}/v1.metadata.json", "w") as f:
        _json.dump(md, f)
    # equality deletes are now DERIVED from open metadata: the changelog
    # emits the parent-state row the delete key retires (id=4 was live
    # as 'd' going into snapshot 4) — the Flink-upsert-feed consumption
    # path
    got = sorted(
        (r.id, r.name, r._change_type) for r in _changes(spark, root, 3).collect()
    )
    assert got == [(4, "d", "delete")]
    # the window added no data files, so the incremental APPEND scan
    # returns no rows — as the native scan does over a delete-only window
    assert incremental_read_iceberg_table(spark, root, 3).collect() == []


def test_foreign_changes_schema_evolution(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "cdc5", "id int, name string")
    t.insert_values([(1, "x")])                 # snap 1, old schema
    t.add_column("email", "string")
    t.rename_column("email", "contact")
    t.insert_values([(2, "y", "y@e.com")])      # snap 2, new schema
    got = _changes(spark, t.path, 1)
    assert got.columns == ["id", "name", "contact", "_change_type", "_commit_snapshot_id", "_change_ordinal"]
    assert [(r.id, r.name, r.contact, r._change_type) for r in got.collect()] == [
        (2, "y", "y@e.com", "insert")
    ]


def test_foreign_cdc_stream_full_replay_then_increments(spark, tmp_path):
    """mode='cdc': the initial batch is the FULL changelog replay
    (inserts + historical deletes), then per-poll interval changelogs —
    the bronze→silver consumption pattern over a foreign table."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table(
        "db", "fc", "id int, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert_values([(1, "a"), (2, "b")])   # snap 1
    t.delete_where("id = 1")                # snap 2
    s = ForeignTableStream(
        spark, t.path, checkpoint_path=str(tmp_path / "c.json"), mode="cdc"
    )
    df, frm, cur = s.poll()
    got = sorted((r.id, r._change_type, r._commit_snapshot_id) for r in df.collect())
    assert got == [(1, "delete", 2), (1, "insert", 1), (2, "insert", 1)]
    t.insert_values([(3, "c")])             # snap 3
    t.delete_where("id = 2")                # snap 4
    df2, _, _ = s.poll()
    got2 = sorted((r.id, r._change_type) for r in df2.collect())
    assert got2 == [(2, "delete"), (3, "insert")]
