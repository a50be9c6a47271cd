"""Iceberg v3 row lineage: `_row_id` / `_last_updated_sequence_number`.

Spec behaviors covered (format v3 row lineage):
- appends derive row ids from the commit-assigned first-row-id + file
  offset + row position — no per-row storage;
- next-row-id advances by every added file's record count; each commit's
  snapshot records its first-row-id;
- merge-on-read DML leaves surviving rows' files (and ids) untouched;
- copy-on-write UPDATE / MERGE / DELETE and compaction PRESERVE row
  identity by materializing ids into the rewritten files; updated rows
  keep `_row_id` but bump `_last_updated_sequence_number` to the updating
  commit; fresh rows (MERGE inserts) get new ids;
- the open-metadata export records next-row-id / first-row-id.

Reference parity: the reference's Iceberg 1.4/v2 stack predates row
lineage; this is the v3 feature (alongside deletion vectors, puffin.py)
that completes the engine's format-v3 story.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from minio_iceberg_polaris_lakehouse_spark import fsio
from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "wh"))
    w.create_namespace("db")
    return w


def _ids(tab, version=None):
    rows = tab.read(version=version, lineage=True).collect()
    return {r.id: (r._row_id, r._last_updated_sequence_number) for r in rows}


def _make(wh, name="t"):
    tab = wh.create_table("db", name, "id int, v string")
    return tab


def test_append_assigns_contiguous_row_ids(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    tab.insert_values([(4, "d"), (5, "e")])
    got = _ids(tab)
    # first batch carved ids 0..2 at sequence 1, second 3..4 at sequence 2
    assert sorted(rid for rid, _ in got.values()) == [0, 1, 2, 3, 4]
    assert {got[i][1] for i in (1, 2, 3)} == {1}
    assert {got[i][1] for i in (4, 5)} == {2}
    # batches own disjoint contiguous ranges
    first = {got[i][0] for i in (1, 2, 3)}
    second = {got[i][0] for i in (4, 5)}
    assert first == {0, 1, 2} and second == {3, 4}


def test_snapshot_records_first_row_id_and_meta_counter(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    tab.insert_values([(4, "d")])
    snaps = tab._snaps()
    assert snaps[0]["first_row_id"] == 0
    assert snaps[1]["first_row_id"] == 3
    assert int(tab._meta()["next_row_id"]) == 4


def test_mor_delete_keeps_survivor_ids(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    before = _ids(tab)
    tab.delete_where("id = 2", mode="merge-on-read")
    after = _ids(tab)
    assert set(after) == {1, 3}
    for k in after:
        assert after[k] == before[k]


def test_cow_delete_preserves_survivor_ids(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    before = _ids(tab)
    tab.delete_where("id = 2", mode="copy-on-write")
    after = _ids(tab)
    assert set(after) == {1, 3}
    for k in after:
        assert after[k] == before[k]


def test_cow_update_keeps_identity_bumps_sequence(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    before = _ids(tab)
    sid = tab.update_where({"v": "'B'"}, "id = 2", mode="copy-on-write")
    after = _ids(tab)
    # every row keeps its _row_id through the rewrite
    assert {k: rid for k, (rid, _) in after.items()} == {
        k: rid for k, (rid, _) in before.items()
    }
    # only the matched row's update sequence moved — to the updating commit
    assert after[2][1] == sid
    assert after[1][1] == before[1][1]
    assert after[3][1] == before[3][1]
    assert {r.v for r in tab.read().collect() if r.id == 2} == {"B"}


def test_compaction_preserves_ids_and_sequences(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b")])
    tab.insert_values([(3, "c"), (4, "d")])
    tab.update_where({"v": "'X'"}, "id = 3", mode="copy-on-write")
    before = _ids(tab)
    tab.compact()
    after = _ids(tab)
    assert after == before
    # and a second compaction is still stable (materialized ids round-trip)
    tab.compact()
    assert _ids(tab) == before


def test_merge_preserves_matched_assigns_fresh_for_inserts(wh, spark):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b")])
    before = _ids(tab)
    src = spark.createDataFrame([(2, "B"), (9, "i")], "id int, v string")
    sid = tab.merge_into(src, on="id")
    after = _ids(tab)
    assert set(after) == {1, 2, 9}
    assert after[1] == before[1]  # untouched: id + sequence both carried
    assert after[2][0] == before[2][0]  # updated: identity kept...
    assert after[2][1] == sid  # ...update sequence bumped
    assert after[9][0] not in {rid for rid, _ in before.values()}  # fresh id
    assert after[9][1] == sid
    # row ids stay unique
    assert len({rid for rid, _ in after.values()}) == 3


def test_update_after_compaction_still_targets_right_row(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    tab.compact()
    before = _ids(tab)
    sid = tab.update_where({"v": "'Z'"}, "id = 1", mode="copy-on-write")
    after = _ids(tab)
    assert after[1] == (before[1][0], sid)
    assert after[2] == before[2]
    assert after[3] == before[3]


def test_mor_update_gives_rewritten_row_fresh_id(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b")])
    before = _ids(tab)
    sid = tab.update_where({"v": "'B'"}, "id = 2", mode="merge-on-read")
    after = _ids(tab)
    # MOR rewrites matched rows as NEW rows (this engine does not thread
    # lineage through the tombstone+append pair — fresh ids, which the v3
    # spec permits for engines that don't preserve on MOR update)
    assert after[1] == before[1]
    assert after[2][0] != before[2][0]
    assert after[2][1] == sid


def test_materialize_deletes_preserves_ids(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    tab.delete_where("id = 2", mode="merge-on-read")
    before = _ids(tab)
    tab.materialize_deletes()
    assert _ids(tab) == before


def test_lineage_through_sql_frontend(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql("CREATE NAMESPACE polaris.db")
    lake.sql("CREATE TABLE polaris.db.t (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.t VALUES (1, 'a'), (2, 'b')")
    lake.sql("UPDATE polaris.db.t SET v = 'B' WHERE id = 2")
    rows = lake.sql(
        "SELECT id, _row_id, _last_updated_sequence_number AS seq "
        "FROM polaris.db.t ORDER BY id"
    ).collect()
    assert [r.id for r in rows] == [1, 2]
    assert rows[0]._row_id != rows[1]._row_id
    assert rows[1].seq > rows[0].seq  # the UPDATE commit
    # normal SELECT * must NOT leak lineage columns
    star = lake.sql("SELECT * FROM polaris.db.t").columns
    assert "_row_id" not in star and "_lin_row_id" not in star


def test_files_metadata_table_first_row_id(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    tab.insert_values([(4, "d")])
    files = sorted(
        tab.files().filter("content = 0").collect(), key=lambda r: r.first_row_id
    )
    assert files[0].first_row_id == 0
    # per-dir bases partition the id space by record counts
    total = 0
    for f in files:
        assert f.first_row_id == total
        total += f.record_count
    assert total == 4


def test_export_carries_v3_lineage_fields(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b")])
    tab.insert_values([(3, "c")])
    mdir = os.path.join(tab.path, "metadata")
    latest = sorted(
        (f for f in fsio.listdir(mdir) if f.endswith(".metadata.json")),
        key=lambda f: int(f.split(".")[0][1:]),
    )[-1]
    md = json.loads(fsio.read_text(os.path.join(mdir, latest)))
    assert md["next-row-id"] == 3
    firsts = {s["snapshot-id"]: s.get("first-row-id") for s in md["snapshots"]}
    assert firsts == {1: 0, 2: 2}


def test_foreign_reader_row_lineage_round_trip(wh, spark):
    """Engine export → standalone open-metadata reader: identical
    `_row_id` / `_last_updated_sequence_number` for every row, through
    an append + CoW update + compaction (derived AND materialized
    paths)."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    tab.insert_values([(4, "d")])
    tab.update_where({"v": "'B'"}, "id = 2", mode="copy-on-write")
    native = _ids(tab)
    foreign = read_iceberg_table(spark, tab.path, row_lineage=True).collect()
    got = {r.id: (r._row_id, r._last_updated_sequence_number) for r in foreign}
    assert got == native
    # after compaction the ids come from MATERIALIZED columns — still equal
    tab.compact()
    foreign2 = read_iceberg_table(spark, tab.path, row_lineage=True).collect()
    got2 = {r.id: (r._row_id, r._last_updated_sequence_number) for r in foreign2}
    assert got2 == native


def _strip_avro_lineage(mdir: str) -> None:
    """Rewrite every Avro manifest without the v3 first_row_id field —
    a faithful simulation of a v2 writer's manifests."""
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    for f in fsio.listdir(mdir):
        if not (f.startswith("manifest-") and f.endswith(".avro")):
            continue
        p = os.path.join(mdir, f)
        schema, meta, records = avro_io.read_container(p)
        meta = {k: v for k, v in meta.items() if not k.startswith("avro.")}
        df_schema = next(x for x in schema["fields"] if x["name"] == "data_file")
        df_schema["type"]["fields"] = [
            x for x in df_schema["type"]["fields"] if x["name"] != "first_row_id"
        ]
        for r in records:
            r["data_file"].pop("first_row_id", None)
        os.remove(p)
        avro_io.write_container(p, schema, records, metadata=meta)


def test_foreign_reader_lineage_from_avro_records_alone(wh, spark):
    """`_row_id` resolves from first_row_id in the Avro manifest records
    (field-id 142) — the only place the export records lineage."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b")])
    tab.insert_values([(3, "c")])
    native = _ids(tab)
    rows = read_iceberg_table(spark, tab.path, row_lineage=True).collect()
    got = {r.id: (r._row_id, r._last_updated_sequence_number) for r in rows}
    assert got == native


def test_foreign_reader_pre_lineage_metadata_yields_nulls(wh, spark):
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    tab = _make(wh)
    tab.insert_values([(1, "a")])
    # simulate a v2 writer's table: no first_row_id in the Avro records
    _strip_avro_lineage(os.path.join(tab.path, "metadata"))
    rows = read_iceberg_table(spark, tab.path, row_lineage=True).collect()
    assert rows[0]._row_id is None  # the spec's 'not assigned', not a guess


def test_changelog_lineage_correlates_update_pairs(wh):
    """changes(lineage=True): a copy-on-write UPDATE emits a delete and
    an insert for the SAME `_row_id` — the correlation that tells a CDC
    consumer 'this is one logical row moving', unrecoverable from
    values alone. Default changes() stays lineage-free (downstream
    folders treat every non-_change column as data)."""
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b"), (3, "c")])
    v1 = tab.current_snapshot_id()
    sid = tab.update_where({"v": "'B'"}, "id = 2", mode="copy-on-write")
    ch = tab.changes(from_version=v1, lineage=True).collect()
    # CoW update: every parent row deletes, every current row re-inserts;
    # the _row_id pairs them off exactly
    dels = {r._row_id: r.id for r in ch if r._change_type == "delete"}
    ins = {r._row_id: (r.id, r.v) for r in ch if r._change_type == "insert"}
    assert set(dels) == set(ins)  # identity preserved through the rewrite
    rid2 = next(rid for rid, i in dels.items() if i == 2)
    assert ins[rid2] == (2, "B")  # the updated row is the SAME logical row
    assert all(r._commit_snapshot_id == sid for r in ch)
    # opt-in: the default changelog schema is unchanged
    assert "_row_id" not in tab.changes(from_version=v1).columns


def test_foreign_sql_row_lineage(wh, spark, tmp_path):
    """`SELECT _row_id FROM <registered foreign name>` through the SQL
    front-end matches the native table's lineage read."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b")])
    tab.update_where({"v": "'B'"}, "id = 2", mode="copy-on-write")
    lake = LakehouseSQL(spark, str(tmp_path / "wh2"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.m', "
        f"metadata_file => '{tab.path}')"
    )
    rows = lake.sql(
        "SELECT id, _row_id, _last_updated_sequence_number AS s "
        "FROM ext.m ORDER BY id"
    ).collect()
    assert {r.id: (r._row_id, r.s) for r in rows} == _ids(tab)


def test_time_travel_lineage_reflects_old_snapshot(wh):
    tab = _make(wh)
    tab.insert_values([(1, "a"), (2, "b")])
    v1 = tab.current_snapshot_id()
    tab.update_where({"v": "'B'"}, "id = 2", mode="copy-on-write")
    old = _ids(tab, version=v1)
    assert old[2][1] == v1  # at v1 the row had not been updated yet
    new = _ids(tab)
    assert new[2][0] == old[2][0]
