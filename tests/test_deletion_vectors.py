"""Iceberg v3 deletion vectors end-to-end (puffin.py codec wired into
the foreign writer + reader): `delete_iceberg_table_where(dv=True)`
commits one roaring-bitmap blob per touched data file inside a single
Puffin container (manifest fields 143-145, format-version 3), the
reader decodes the blobs executor-side into the same (file, pos)
anti-join as parquet tombstones, and a second DV on the same file
MERGES the old positions and supersedes the old entry — the spec's
one-live-DV-per-file invariant. The codec itself is byte-validated
against org.roaringbitmap in tests/test_puffin.py."""

from __future__ import annotations

import json

from minio_iceberg_polaris_lakehouse_spark import avro_io, puffin
from minio_iceberg_polaris_lakehouse_spark.iceberg_export import write_iceberg_metadata
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    changes_iceberg_table,
    read_iceberg_table,
    resolve_metadata_path,
)
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
    append_iceberg_table,
    delete_iceberg_table_where,
)
from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _one_file_table(spark, tmp_path, name="dvt", n=10):
    """Engine-created table whose rows live in ONE data file (coalesce(1)
    append through the open metadata), so multi-commit DV tests are
    guaranteed to touch the same file."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", name, "id int, v string")
    write_iceberg_metadata(t)  # open metadata for the empty table
    df = spark.createDataFrame(
        [(i, chr(ord("a") + i)) for i in range(n)], "id int, v string"
    ).coalesce(1)
    append_iceberg_table(spark, t.path, df)
    return t.path


def _live_dv_entries(location):
    """[(referenced_data_file, cardinality)] of LIVE DV entries in the
    current snapshot's delete manifests."""
    md = json.loads(open(resolve_metadata_path(location)).read())
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    out = []
    _s, _m, recs = avro_io.read_container(snap["manifest-list"])
    for rec in recs:
        if rec.get("content") != 1:
            continue
        _s2, _m2, entries = avro_io.read_container(rec["manifest_path"])
        for e in entries:
            if e.get("status") == 2:
                continue
            d = e["data_file"]
            if d.get("referenced_data_file") is not None:
                out.append((d["referenced_data_file"], int(d["record_count"])))
    return out


def test_dv_delete_roundtrip(spark, tmp_path):
    """A DV delete removes exactly the matched rows; the metadata is
    format-version 3 and the manifest entry carries a PUFFIN file with
    referenced_data_file + blob byte range; the blob itself decodes with
    the (Java-cross-validated) codec."""
    root = _one_file_table(spark, tmp_path)
    out = delete_iceberg_table_where(spark, root, "id % 2 = 0", dv=True)
    assert out is not None
    got = read_iceberg_table(spark, root)
    assert [r[0] for r in _rows(got)] == [1, 3, 5, 7, 9]
    md = json.loads(open(out).read())
    assert md["format-version"] == 3
    dvs = _live_dv_entries(root)
    assert len(dvs) == 1 and dvs[0][1] == 5
    # the puffin container parses and the blob holds the 5 even positions
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    _s, _m, recs = avro_io.read_container(snap["manifest-list"])
    dv_rec = next(r for r in recs if r.get("content") == 1)
    _s2, _m2, entries = avro_io.read_container(dv_rec["manifest_path"])
    d = next(e["data_file"] for e in entries if e.get("status") != 2)
    assert d["file_format"] == "PUFFIN"
    buf = open(d["file_path"], "rb").read()
    blob = buf[d["content_offset"] : d["content_offset"] + d["content_size_in_bytes"]]
    assert len(puffin.decode_deletion_vector(blob)) == 5


def test_dv_matches_parquet_tombstone_path(spark, tmp_path):
    """dv=True and dv=False commits of the same predicate read back
    identically — DVs are a storage change, not a semantics change."""
    a = _one_file_table(spark, tmp_path, "a")
    b = _one_file_table(spark, tmp_path, "b")
    delete_iceberg_table_where(spark, a, "id >= 7 OR id = 0", dv=True)
    delete_iceberg_table_where(spark, b, "id >= 7 OR id = 0", dv=False)
    assert _rows(read_iceberg_table(spark, a)) == _rows(read_iceberg_table(spark, b))


def test_dv_second_delete_merges_and_supersedes(spark, tmp_path):
    """A second DV on the same data file merges the first DV's positions
    into ONE new blob and marks the old entry DELETED: exactly one live
    DV per file afterwards (Iceberg v3 invariant), read still exact."""
    root = _one_file_table(spark, tmp_path)
    delete_iceberg_table_where(spark, root, "id = 1", dv=True)
    assert _live_dv_entries(root) == [(_live_dv_entries(root)[0][0], 1)]
    delete_iceberg_table_where(spark, root, "id = 2", dv=True)
    got = read_iceberg_table(spark, root)
    assert [r[0] for r in _rows(got)] == [0, 3, 4, 5, 6, 7, 8, 9]
    dvs = _live_dv_entries(root)
    assert len(dvs) == 1, f"expected one live DV, got {dvs}"
    assert dvs[0][1] == 2  # merged cardinality: positions of id=1 AND id=2


def test_dv_append_after_delete_untouched(spark, tmp_path):
    """Rows appended after a DV commit live in new files the DV does not
    reference — they survive; the deleted rows stay dead."""
    root = _one_file_table(spark, tmp_path, n=4)
    delete_iceberg_table_where(spark, root, "id < 2", dv=True)
    append_iceberg_table(
        spark,
        root,
        spark.createDataFrame([(0, "new-zero")], "id int, v string").coalesce(1),
    )
    assert _rows(read_iceberg_table(spark, root)) == [
        (0, "new-zero"),
        (2, "c"),
        (3, "d"),
    ]


def test_dv_time_travel_and_changelog(spark, tmp_path):
    """The pre-delete snapshot still reads complete, and the CDC
    changelog emits the DV commit's rows as 'delete' — a DV is a
    positional delete to every consumer surface."""
    root = _one_file_table(spark, tmp_path, n=5)
    md = json.loads(open(resolve_metadata_path(root)).read())
    before = md["current-snapshot-id"]
    delete_iceberg_table_where(spark, root, "id IN (1, 3)", dv=True)
    assert len(_rows(read_iceberg_table(spark, root, snapshot_id=before))) == 5
    ch = changes_iceberg_table(spark, root, from_snapshot_id=before)
    dels = [
        (r["id"], r["_change_type"]) for r in ch.collect()
    ]
    assert sorted(dels) == [(1, "delete"), (3, "delete")]


def test_dv_default_follows_format_version(spark, tmp_path):
    """dv=None (the default, what SQL DELETE FROM routes through) writes
    parquet tombstones on a v2 table, then — once the table is v3 —
    deletion vectors with no caller opt-in, per the v3 spec."""
    root = _one_file_table(spark, tmp_path)
    delete_iceberg_table_where(spark, root, "id = 0")  # v2: parquet tombstone
    assert _live_dv_entries(root) == []
    delete_iceberg_table_where(spark, root, "id = 1", dv=True)  # bumps to v3
    delete_iceberg_table_where(spark, root, "id = 2")  # default now writes a DV
    dvs = _live_dv_entries(root)
    assert len(dvs) == 1 and dvs[0][1] == 2  # ids 1+2 merged, id 0 stays parquet
    assert [r[0] for r in _rows(read_iceberg_table(spark, root))] == [
        3, 4, 5, 6, 7, 8, 9,
    ]


def test_dv_malformed_puffin_entry_fails_loudly(spark, tmp_path):
    """A PUFFIN delete entry missing its DV byte range must raise, not
    fall through to the parquet tombstone path (which would error
    confusingly or silently resurrect deleted rows)."""
    import pytest

    root = _one_file_table(spark, tmp_path, n=3)
    out = delete_iceberg_table_where(spark, root, "id = 0", dv=True)
    md = json.loads(open(out).read())
    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    _s, _m, recs = avro_io.read_container(snap["manifest-list"])
    dv_rec = next(r for r in recs if r.get("content") == 1)
    _s2, m2, entries = avro_io.read_container(dv_rec["manifest_path"])
    for e in entries:
        e["data_file"]["referenced_data_file"] = None
        e["data_file"]["content_offset"] = None
        e["data_file"]["content_size_in_bytes"] = None
    meta = {
        k: (v.decode() if isinstance(v, bytes) else v)
        for k, v in (m2 or {}).items()
        if k != "avro.schema"
    }
    schema = json.loads(
        _s2.decode() if isinstance(_s2, bytes) else _s2
    ) if isinstance(_s2, (bytes, str)) else _s2
    avro_io.write_container(dv_rec["manifest_path"], schema, entries, metadata=meta)
    with pytest.raises(ValueError, match="PUFFIN delete entry"):
        read_iceberg_table(spark, root).collect()


def test_dv_no_match_no_commit(spark, tmp_path):
    root = _one_file_table(spark, tmp_path, n=3)
    v_before = resolve_metadata_path(root)
    assert delete_iceberg_table_where(spark, root, "id > 99", dv=True) is None
    assert resolve_metadata_path(root) == v_before


def test_dv_update_and_merge_on_v3_table(spark, tmp_path):
    """On a format-version 3 table, UPDATE and MERGE tombstone through
    deletion vectors too (the spec's only positional-delete form at v3):
    one atomic snapshot carries the DV manifest AND the rewritten rows,
    and overlapping DVs keep merging to one live blob per file."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        merge_iceberg_table,
        update_iceberg_table_where,
    )

    root = _one_file_table(spark, tmp_path)
    delete_iceberg_table_where(spark, root, "id = 9", dv=True)  # → v3
    update_iceberg_table_where(spark, root, {"v": "upper(v)"}, "id IN (0, 1)")
    got = {r["id"]: r["v"] for r in read_iceberg_table(spark, root).collect()}
    assert got[0] == "A" and got[1] == "B" and 9 not in got and got[2] == "c"
    # the UPDATE's tombstones are DVs merged with the DELETE's: id 9 plus
    # ids 0,1 all live in the original file → one blob, cardinality 3
    dvs = [d for d in _live_dv_entries(root)]
    assert sum(c for _, c in dvs) == 3 and len(dvs) == 1
    src = spark.createDataFrame([(2, "TWO"), (77, "new")], "id int, v string")
    merge_iceberg_table(
        spark,
        root,
        src,
        on="id",
        matched_arms=[{"cond": None, "action": "update", "set": None}],
        insert_arm={"cond": None},
    )
    got = {r["id"]: r["v"] for r in read_iceberg_table(spark, root).collect()}
    assert got[2] == "TWO" and got[77] == "new" and got[3] == "d"
    _assert_one_live_dv_per_file(root)
    # the full clause matrix on the v3 table: a conditional DELETE arm,
    # a SET assignment and a NOT MATCHED BY SOURCE arm, all tombstoned
    # through the same per-file DVs
    src = spark.createDataFrame([(3, "x"), (4, "y"), (88, "z")], "id int, v string")
    merge_iceberg_table(
        spark,
        root,
        src,
        on="id",
        matched_arms=[
            {"cond": "t.id = 3", "action": "delete"},
            {"cond": None, "action": "update", "set": {"v": "concat(t.v, s.v)"}},
        ],
        insert_arm={"cond": None},
        not_matched_by_source_arm={"cond": "t.id = 5", "action": "delete"},
    )
    got = {r["id"]: r["v"] for r in read_iceberg_table(spark, root).collect()}
    assert got == {0: "A", 1: "B", 2: "TWO", 4: "ey", 6: "g", 7: "h", 8: "i", 77: "new", 88: "z"}
    _assert_one_live_dv_per_file(root)


def _assert_one_live_dv_per_file(root):
    per_file: dict[str, int] = {}
    for ref, _c in _live_dv_entries(root):
        per_file[ref] = per_file.get(ref, 0) + 1
    assert all(c == 1 for c in per_file.values()), per_file


def test_dv_compaction_absorbs_vectors(spark, tmp_path):
    """`rewrite_data_files` on a DV-carrying table reads live rows (DVs
    applied) and replaces the layout — afterwards no live DV entries
    remain and the rows are unchanged."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        rewrite_iceberg_table_files,
    )

    root = _one_file_table(spark, tmp_path, n=6)
    delete_iceberg_table_where(spark, root, "id IN (0, 5)", dv=True)
    before = _rows(read_iceberg_table(spark, root))
    rewrite_iceberg_table_files(spark, root)
    assert _rows(read_iceberg_table(spark, root)) == before
    assert _live_dv_entries(root) == []


def test_dv_sql_delete_on_registered_v3_table(spark, tmp_path):
    """A plain SQL `DELETE FROM` on a REGISTERED v3 foreign table writes
    a deletion vector — the whole route (sql_frontend →
    Warehouse.delete_foreign_table_where → dv auto-detect) with no DV
    opt-in anywhere in the statement."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    root = _one_file_table(spark, tmp_path)
    delete_iceberg_table_where(spark, root, "id = 0", dv=True)  # → v3
    lake = LakehouseSQL(spark, str(tmp_path / "wh2"))
    lake.sql(
        f"CALL polaris.system.register_table(table => 'ext.dv', metadata_file => '{root}')"
    )
    lake.sql("DELETE FROM ext.dv WHERE id IN (1, 2)")
    dvs = _live_dv_entries(root)
    assert len(dvs) == 1 and dvs[0][1] == 3  # merged: ids 0,1,2
    got = sorted(r[0] for r in lake.sql("SELECT id FROM ext.dv").collect())
    assert got == [3, 4, 5, 6, 7, 8, 9]


def test_dv_fuzz_against_parquet_twin_and_model(spark, tmp_path):
    """Model-checked fuzz: a random sequence of overlapping deletes runs
    on a DV table and a parquet-tombstone twin; after every commit both
    tables must equal a Python set model, and the DV table must hold at
    most one live DV per data file (the v3 invariant the merge+supersede
    rewrite maintains under arbitrary overlap)."""
    import random

    rng = random.Random(47)
    n = 12
    dv_root = _one_file_table(spark, tmp_path, "fz_dv", n=n)
    pq_root = _one_file_table(spark, tmp_path, "fz_pq", n=n)
    alive = set(range(n))
    for step in range(4):
        ids = sorted(rng.sample(range(n), rng.randint(1, 5)))
        pred = f"id IN ({', '.join(map(str, ids))})"
        delete_iceberg_table_where(spark, dv_root, pred, dv=True)
        delete_iceberg_table_where(spark, pq_root, pred, dv=False)
        alive -= set(ids)
        got_dv = sorted(r[0] for r in read_iceberg_table(spark, dv_root).collect())
        got_pq = sorted(r[0] for r in read_iceberg_table(spark, pq_root).collect())
        assert got_dv == sorted(alive), f"step {step}: DV read diverged"
        assert got_pq == got_dv, f"step {step}: storage formats diverged"
        per_file: dict[str, int] = {}
        for ref, _card in _live_dv_entries(dv_root):
            per_file[ref] = per_file.get(ref, 0) + 1
        assert all(c == 1 for c in per_file.values()), per_file
