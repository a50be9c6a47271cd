"""CDC changelog scan (Iceberg `create_changelog_view` semantics):
row-level insert/delete feed per snapshot window, file-level change
semantics (added files → inserts, removed files → deletes, new
positional-delete files → deletes), replace snapshots silent, and the
SQL procedure surface; and the changelog over a foreign table's open
metadata (commit order from parent pointers, file: URI manifests,
manifest-list order)."""

from __future__ import annotations

import json

import pytest

from minio_iceberg_polaris_lakehouse_spark import avro_io
from minio_iceberg_polaris_lakehouse_spark.iceberg_export import _MANIFEST_LIST_SCHEMA
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    changes_iceberg_table,
)
from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse, WarehouseError
from tests.test_iceberg_reader import _foreign_entry_schema


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _changes(t, **kw):
    return sorted(
        tuple(r)
        for r in t.changes(**kw)
        .select("id", "v", "_change_type", "_commit_snapshot_id", "_change_ordinal")
        .collect()
    )


def test_appends_are_inserts(wh):
    t = wh.create_table("db", "c1", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    t.insert_values([(3, "c")])
    assert _changes(t) == [
        (1, "a", "insert", 1, 0),
        (2, "b", "insert", 1, 0),
        (3, "c", "insert", 2, 1),
    ]


def test_window_bounds(wh):
    t = wh.create_table("db", "c2", "id int, v string")
    t.insert_values([(1, "a")])
    t.insert_values([(2, "b")])
    t.insert_values([(3, "c")])
    # (1, 2]: only snapshot 2's insert, ordinal restarts at 0 per window
    assert _changes(t, from_version=1, to_version=2) == [(2, "b", "insert", 2, 0)]
    with pytest.raises(WarehouseError):
        t.changes(from_version=99)
    with pytest.raises(WarehouseError):
        t.changes(to_version=99)


def test_mor_delete_emits_deletes(wh):
    t = wh.create_table(
        "db", "c3", "id int, v string", properties={"write.delete.mode": "merge-on-read"}
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    t.delete_where("id = 2")
    assert _changes(t) == [
        (1, "a", "insert", 1, 0),
        (2, "b", "delete", 2, 1),
        (2, "b", "insert", 1, 0),
        (3, "c", "insert", 1, 0),
    ]


def test_cow_delete_emits_file_level_changes(wh):
    # copy-on-write DELETE rewrites the affected files: Iceberg's changelog
    # emits delete-records for ALL rows of removed files and insert-records
    # for rows of the rewritten files — net effect equals the logical delete
    t = wh.create_table("db", "c4", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    t.delete_where("id = 2")
    got = _changes(t, from_version=1)  # window (1, 2] — ordinal restarts at 0
    assert (2, "b", "delete", 2, 0) in got  # the deleted row
    # surviving row re-appears as delete+insert (file rewritten)
    assert (1, "a", "delete", 2, 0) in got
    assert (1, "a", "insert", 2, 0) in got
    # applying the feed yields the table: inserts minus deletes per row
    from collections import Counter

    net = Counter()
    for id_, v, typ, _sid, _o in _changes(t):
        net[(id_, v)] += 1 if typ == "insert" else -1
    alive = sorted(k for k, n in net.items() if n > 0)
    assert alive == [(1, "a")]


def test_replace_snapshots_are_silent(wh):
    t = wh.create_table("db", "c5", "id int, v string")
    t.insert_values([(1, "a")])
    t.insert_values([(2, "b")])
    before = _changes(t)
    sid = t.compact()
    assert t._resolve(sid)["operation"] == "replace"
    assert _changes(t) == before  # compaction adds no changelog rows


def test_already_tombstoned_rows_not_reemitted(wh):
    # MOR delete, then COW-style overwrite removing the old files: the
    # tombstoned row's delete was emitted by the MOR commit and must not
    # re-emit when its (already-dead) file is removed later
    t = wh.create_table(
        "db", "c6", "id int, v string", properties={"write.delete.mode": "merge-on-read"}
    )
    t.insert_values([(1, "a"), (2, "b")])
    t.delete_where("id = 2")
    t.overwrite(t.read())  # rewrites to just the live rows
    feed = _changes(t)
    assert feed.count((2, "b", "delete", 2, 1)) == 1  # MOR delete, once
    assert not any(r[0] == 2 and r[2] == "delete" and r[3] == 3 for r in feed)


def test_empty_window_has_schema(wh):
    t = wh.create_table("db", "c7", "id int, v string")
    df = t.changes()
    assert df.columns == ["id", "v", "_change_type", "_commit_snapshot_id", "_change_ordinal"]
    assert df.count() == 0


def test_reversed_window_is_empty_and_expired_gap_is_bridged(wh):
    """A window whose ``from`` is newer than its ``to`` is empty. When
    expiry removed the snapshots between two survivors (a tag pinned the
    old one), the window diffs the two surviving states."""
    t = wh.create_table("db", "c8", "id int, v string")
    t.insert_values([(1, "a")])
    t.create_ref("old", "tag")
    t.insert_values([(2, "b")])
    t.delete_where("id = 1")
    t.insert_values([(3, "c")])
    assert _changes(t, from_version=3, to_version=2) == []
    t.expire_snapshots(keep_last=1)
    assert [s["snapshot_id"] for s in t._main_snaps()] == [1, 4]
    across = [(1, "a", "delete", 4, 0), (2, "b", "insert", 4, 0), (3, "c", "insert", 4, 0)]
    assert _changes(t, from_version=1) == across
    assert _changes(t) == sorted([(1, "a", "insert", 1, 0)] + [r[:4] + (1,) for r in across])
    assert _changes(t, from_version=4, to_version=1) == []


def test_sql_procedure_registers_view(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql("CREATE TABLE polaris.db.cdc (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.cdc VALUES (1, 'a'), (2, 'b')")
    lake.sql("DELETE FROM polaris.db.cdc WHERE id = 1")
    out = lake.sql(
        "CALL polaris.system.create_changelog_view(table => 'db.cdc', "
        "changelog_view => 'cdc_changes')"
    ).collect()
    assert out[0].changelog_view == "cdc_changes"
    rows = lake.sql(
        "SELECT id, _change_type FROM cdc_changes "
        "WHERE _change_type = 'delete' AND id = 1"
    ).collect()
    assert len(rows) >= 1
    # range-bounded variant through flat named args
    lake.sql(
        "CALL polaris.system.create_changelog_view(table => 'db.cdc', "
        "changelog_view => 'cdc_w1', start_snapshot_id => 1, end_snapshot_id => 2)"
    )
    w1 = lake.sql("SELECT id, _change_type FROM cdc_w1").collect()
    assert all(r._change_type in ("insert", "delete") for r in w1)


# --------------------------------------------------------------------------
# Property fuzz: replaying the changelog reconstructs the table.
# For ANY commit sequence (appends, copy-on-write and merge-on-read
# positional deletes, equality deletes, compaction), applying the tagged
# rows in commit order — inserts add one occurrence, deletes remove one —
# must land exactly on the engine's own read. This is the consumer-side
# contract a bronze→silver MERGE depends on.
# --------------------------------------------------------------------------
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(0, 9), min_size=1, max_size=4)),
        st.tuples(st.just("delete_cow"), st.integers(0, 9)),
        st.tuples(st.just("delete_mor"), st.integers(0, 9)),
        st.tuples(st.just("delete_eq"), st.integers(0, 9)),
        st.tuples(st.just("compact"), st.just(None)),
    ),
    min_size=1,
    max_size=6,
)

_N = [0]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_changelog_replay_reconstructs_table(spark, tmp_path_factory, ops):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("cdc_fuzz")))
    _N[0] += 1
    t = wh.create_table(
        "db", f"fz{_N[0]}", "id int, v string",
        properties={"write.delete.equality-columns": "id"},
    )
    seq = 0
    for op, arg in ops:
        if op == "append":
            seq += 1
            t.insert_values([(i, f"r{seq}") for i in arg])
        elif op == "delete_cow":
            t.delete_where(f"id = {arg}", mode="copy-on-write")
        elif op == "delete_mor":
            t.delete_where(f"id = {arg}", mode="merge-on-read")
        elif op == "delete_eq":
            t.delete_where(f"id = {arg}", mode="merge-on-read-equality")
        elif op == "compact":
            try:
                t.materialize_deletes()
            except WarehouseError:
                pass
    state: Counter = Counter()
    rows = t.changes().select("id", "v", "_change_type", "_change_ordinal").collect()
    for r in sorted(rows, key=lambda r: r._change_ordinal):
        key = (r.id, r.v)
        if r._change_type == "insert":
            state[key] += 1
        else:
            state[key] -= 1
            assert state[key] >= 0, f"delete of never-inserted row {key}"
    replayed = sorted(state.elements())
    direct = sorted((r.id, r.v) for r in t.read().collect())
    assert replayed == direct


def test_mor_delete_after_equality_delete_no_double_emit(spark, tmp_path):
    """Pin of a hypothesis find: eq-delete id, then MOR-delete the same
    id. The row is already dead at the second delete, so (a) the writer
    must not tombstone it again and (b) the changelog must emit exactly
    one insert and one delete for it — a replay consumer would otherwise
    go negative."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table(
        "db", "dd", "id int, v string",
        properties={"write.delete.equality-columns": "id"},
    )
    t.insert_values([(0, "r1")])
    t.delete_where("id = 0", mode="merge-on-read-equality")
    t.delete_where("id = 0", mode="merge-on-read")  # row already dead
    rows = sorted(
        ((r.id, r.v, r._change_type) for r in t.changes().collect()),
    )
    assert rows == [(0, "r1", "delete"), (0, "r1", "insert")]
    assert t.read().count() == 0
    # same shape under MOR UPDATE: updating an eq-dead row touches nothing
    t2 = wh.create_table(
        "db", "dd2", "id int, v string",
        properties={"write.delete.equality-columns": "id"},
    )
    t2.insert_values([(0, "a"), (1, "b")])
    t2.delete_where("id = 0", mode="merge-on-read-equality")
    t2.update_where({"v": "'x'"}, "id <= 1", mode="merge-on-read")
    state: dict = {}
    for r in sorted(t2.changes().collect(), key=lambda r: r._change_ordinal):
        k = (r.id, r.v)
        state[k] = state.get(k, 0) + (1 if r._change_type == "insert" else -1)
        assert state[k] >= 0, f"negative count for {k}"
    assert sorted(k for k, n in state.items() for _ in range(n)) == [(1, "x")]


def _build_random_id_table(tmp_path):
    """Commit order s900 → s120 → s450 (parent-chained), ids chosen so
    id-order DISAGREES with commit order — like real Flink/Spark writers
    whose snapshot ids are random int64s. s900 adds 2 rows (data file
    recorded as a file: URI), s120 positionally deletes row 0 of it,
    s450 appends 1 more row."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "foreign_tbl")
    mdir, ddir = f"{root}/metadata", f"{root}/data"
    os.makedirs(mdir)
    os.makedirs(ddir)

    a_path = f"{ddir}/a.parquet"
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int32()), "v": pa.array(["x", "y"])}), a_path
    )
    b_path = f"{ddir}/b.parquet"
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int32()), "v": pa.array(["z"])}), b_path
    )
    pos_path = f"{ddir}/posdel.parquet"
    pq.write_table(
        pa.table(
            {"file_path": pa.array([f"file://{a_path}"]), "pos": pa.array([0], pa.int64())}
        ),
        pos_path,
    )

    schema_json = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "type": "int", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    }
    entry_schema = _foreign_entry_schema()

    def dfile(content, fpath, rows, snap):
        return {
            "status": 1,
            "snapshot_id": snap,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": content,
                "file_path": fpath,
                "file_format": "PARQUET",
                "record_count": rows,
                "file_size_in_bytes": 1,
                "equality_ids": None,
            },
        }

    def man(path, entries):
        avro_io.write_container(
            path, entry_schema, entries, metadata={"schema": json.dumps(schema_json)}
        )
        return path

    # data file path recorded as a file: URI on purpose
    m_a = man(f"{mdir}/m-a.avro", [dfile(0, f"file://{a_path}", 2, 900)])
    m_del = man(f"{mdir}/m-del.avro", [dfile(1, pos_path, 1, 120)])
    m_b = man(f"{mdir}/m-b.avro", [dfile(0, b_path, 1, 450)])

    def mlrec(path, content, seq, rows, snap):
        return {
            "manifest_path": path,
            "manifest_length": 1,
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snap,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    lists = {}
    for sid, recs in [
        (900, [mlrec(m_a, 0, 1, 2, 900)]),
        (120, [mlrec(m_a, 0, 1, 2, 900), mlrec(m_del, 1, 2, 1, 120)]),
        (
            450,
            [
                mlrec(m_a, 0, 1, 2, 900),
                mlrec(m_del, 1, 2, 1, 120),
                mlrec(m_b, 0, 3, 1, 450),
            ],
        ),
    ]:
        p = f"{mdir}/snap-{sid}-list.avro"
        avro_io.write_container(p, _MANIFEST_LIST_SCHEMA, recs)
        lists[sid] = p

    meta = {
        "format-version": 2,
        "current-schema-id": 0,
        "schemas": [schema_json],
        "current-snapshot-id": 450,
        "snapshots": [
            # listed in id-sorted-DISAGREES-with-commit order on purpose
            {"snapshot-id": 120, "parent-snapshot-id": 900, "timestamp-ms": 2000,
             "schema-id": 0, "manifest-list": lists[120]},
            {"snapshot-id": 450, "parent-snapshot-id": 120, "timestamp-ms": 3000,
             "schema-id": 0, "manifest-list": lists[450]},
            {"snapshot-id": 900, "timestamp-ms": 1000,
             "schema-id": 0, "manifest-list": lists[900]},
        ],
    }
    with open(f"{mdir}/v1.metadata.json", "w") as f:
        json.dump(meta, f)
    with open(f"{mdir}/version-hint.text", "w") as f:
        f.write("1")
    return root


def test_cdc_follows_parent_pointers_not_id_order(spark, tmp_path):
    root = _build_random_id_table(tmp_path)
    # from s900: both later commits (ids SMALLER than 900) must appear
    ch = changes_iceberg_table(spark, root, 900).collect()
    got = sorted((r.id, r.v, r._change_type, r._commit_snapshot_id) for r in ch)
    assert got == [(1, "x", "delete", 120), (3, "z", "insert", 450)]
    # full replay walks the whole chain in commit order
    full = changes_iceberg_table(spark, root, 0).collect()
    assert sorted(r._commit_snapshot_id for r in full) == [120, 450, 900, 900]
    # a snapshot outside the lineage fails loudly
    with pytest.raises(ValueError, match="not found|ancestor"):
        changes_iceberg_table(spark, root, 777)


def test_cdc_delete_replay_resolves_file_uri_manifests(spark, tmp_path):
    """The tombstoned data file is recorded as file://… in its manifest;
    the delete replay must still find its schema generation (keys are
    URI-normalized on both sides)."""
    root = _build_random_id_table(tmp_path)
    ch = changes_iceberg_table(spark, root, 900, 120).collect()
    assert [(r.id, r.v, r._change_type) for r in ch] == [(1, "x", "delete")]


def test_cdc_same_snapshot_delete_manifest_listed_first(spark, tmp_path):
    """The manifest list carries no ordering guarantee: a snapshot whose
    positional-delete manifest is listed BEFORE the data manifest it
    tombstones must still replay (data manifests register first)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from minio_iceberg_polaris_lakehouse_spark.iceberg_export import (
        _MANIFEST_LIST_SCHEMA,
    )

    root = str(tmp_path / "ft")
    mdir, ddir = f"{root}/metadata", f"{root}/data"
    os.makedirs(mdir)
    os.makedirs(ddir)
    a_path = f"{ddir}/a.parquet"
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int32()), "v": pa.array(["x", "y"])}), a_path
    )
    pos_path = f"{ddir}/pd.parquet"
    pq.write_table(
        pa.table({"file_path": pa.array([a_path]), "pos": pa.array([0], pa.int64())}),
        pos_path,
    )
    schema_json = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "type": "int", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    }
    entry_schema = _foreign_entry_schema()

    def dfile(content, fpath, rows):
        return {
            "status": 1,
            "snapshot_id": 5,
            "sequence_number": None,
            "file_sequence_number": None,
            "data_file": {
                "content": content,
                "file_path": fpath,
                "file_format": "PARQUET",
                "record_count": rows,
                "file_size_in_bytes": 1,
                "equality_ids": None,
            },
        }

    m_a = f"{mdir}/m-a.avro"
    avro_io.write_container(
        m_a, entry_schema, [dfile(0, a_path, 2)], metadata={"schema": json.dumps(schema_json)}
    )
    m_del = f"{mdir}/m-del.avro"
    avro_io.write_container(
        m_del, entry_schema, [dfile(1, pos_path, 1)], metadata={"schema": json.dumps(schema_json)}
    )

    def mlrec(path, content, rows):
        return {
            "manifest_path": path,
            "manifest_length": 1,
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": 5,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    mlist = f"{mdir}/snap-5-list.avro"
    # DELETE manifest deliberately listed first
    avro_io.write_container(
        mlist, _MANIFEST_LIST_SCHEMA, [mlrec(m_del, 1, 1), mlrec(m_a, 0, 2)]
    )
    meta = {
        "format-version": 2,
        "current-schema-id": 0,
        "schemas": [schema_json],
        "current-snapshot-id": 5,
        "snapshots": [
            {"snapshot-id": 5, "timestamp-ms": 1000, "schema-id": 0, "manifest-list": mlist}
        ],
    }
    with open(f"{mdir}/v1.metadata.json", "w") as f:
        json.dump(meta, f)
    with open(f"{mdir}/version-hint.text", "w") as f:
        f.write("1")

    ch = changes_iceberg_table(spark, root, 0).collect()
    got = sorted((r.id, r.v, r._change_type) for r in ch)
    assert got == [(1, "x", "delete"), (1, "x", "insert"), (2, "y", "insert")]
