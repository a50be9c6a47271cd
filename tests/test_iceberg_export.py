"""Reader-independence test for the Iceberg-v2 metadata export: an
'independent reader' (plain json + pyarrow — none of the engine's read
path) resolves schema and data files from the exported metadata tree and
reconstructs the table contents."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

REQUIRED_KEYS = {
    "format-version",
    "table-uuid",
    "location",
    "last-sequence-number",
    "last-updated-ms",
    "last-column-id",
    "schemas",
    "current-schema-id",
    "partition-specs",
    "default-spec-id",
    "last-partition-id",
    "properties",
    "current-snapshot-id",
    "snapshots",
    "snapshot-log",
    "sort-orders",
    "default-sort-order-id",
    "refs",
}


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _load_current_metadata(table_path: str) -> dict:
    mdir = os.path.join(table_path, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as f:
        version = int(f.read().strip())
    with open(os.path.join(mdir, f"v{version}.metadata.json")) as f:
        return json.load(f)


def test_independent_reader_resolves_schema_and_files(wh, spark):
    t = wh.create_table(
        "db", "open_fmt", "id int, name string, amount decimal(10,2), created_at timestamp",
        partition_by="created_at", transform="day",
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", "10.50", "2024-11-25 10:00:00"), (2, "b", "20.00", "2024-11-26 11:00:00")],
        "id int, name string, amount string, created_at string",
    ).select(
        "id", "name",
        F.col("amount").cast("decimal(10,2)").alias("amount"),
        F.to_timestamp("created_at").alias("created_at"),
    )
    t.append(df)
    t.append(df)

    md = _load_current_metadata(t.path)
    assert REQUIRED_KEYS.issubset(md.keys())
    assert md["format-version"] == 2
    assert md["current-snapshot-id"] == 2
    assert md["refs"]["main"]["snapshot-id"] == 2

    # schema: stable unique field ids, spec type names
    schema = md["schemas"][md["current-schema-id"]]
    by_name = {f["name"]: f for f in schema["fields"]}
    assert by_name["id"]["type"] == "int"
    assert by_name["amount"]["type"] == "decimal(10, 2)"
    assert by_name["created_at"]["type"] == "timestamptz"
    ids = [f["id"] for f in schema["fields"]]
    assert len(ids) == len(set(ids))

    # partition spec carries the day transform on created_at's field id
    spec = md["partition-specs"][md["default-spec-id"]]
    assert spec["fields"][0]["transform"] == "day"
    assert spec["fields"][0]["source-id"] == by_name["created_at"]["id"]

    # snapshots chain with parents and per-commit summaries
    snaps = md["snapshots"]
    assert [s["snapshot-id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent-snapshot-id"] == 1
    assert snaps[0]["summary"]["operation"] == "append"

    # independent read: Avro manifest list -> Avro manifests -> pyarrow
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    _schema, _meta, manifests = avro_io.read_container(snaps[-1]["manifest-list"])
    assert snaps[-1]["manifest-list"].endswith(".avro")
    files = []
    for m in manifests:
        assert os.path.getsize(m["manifest_path"]) == m["manifest_length"]
        _s, _m, entries = avro_io.read_container(m["manifest_path"])
        files.extend(e["data_file"] for e in entries)
    assert files and all(fe["file_format"] == "PARQUET" for fe in files)
    total = 0
    for fe in files:
        assert os.path.isfile(fe["file_path"])
        n = pq.ParquetFile(fe["file_path"]).metadata.num_rows
        assert n == fe["record_count"]
        total += n
    assert total == 4  # two appends x two rows
    # byte sizes in the manifest match the filesystem
    assert all(os.path.getsize(fe["file_path"]) == fe["file_size_in_bytes"] for fe in files)

    # reconstructed values equal the engine's own read
    tables = [pq.read_table(fe["file_path"], columns=["id", "name"]) for fe in files]
    got = sorted((r["id"], r["name"]) for tb in tables for r in tb.to_pylist())
    assert got == [(1, "a"), (1, "a"), (2, "b"), (2, "b")]


def test_schema_evolution_tracked_in_export(wh, spark):
    t = wh.create_table("db", "evo_exp", "id int, name string")
    t.insert_values([(1, "x")])
    t.add_column("email", "string")
    t.rename_column("email", "contact")
    t.insert_values([(2, "y", "y@e.com")])

    md = _load_current_metadata(t.path)
    # two schema versions recorded; current one has the renamed column
    assert len(md["schemas"]) == 2
    cur = md["schemas"][md["current-schema-id"]]
    names = [f["name"] for f in cur["fields"]]
    assert names == ["id", "name", "contact"]
    # the renamed column kept the id assigned at ADD COLUMN time (3)
    assert {f["name"]: f["id"] for f in cur["fields"]}["contact"] == 3
    assert md["last-column-id"] == 3
    # snapshot 1 points at the pre-evolution schema
    assert md["snapshots"][0]["schema-id"] != md["snapshots"][1]["schema-id"]


def _independent_read(table_path: str, columns: list[str]) -> list[tuple]:
    """Full external-reader walk: version-hint → vN.metadata.json →
    manifest-list Avro → manifest Avros → pyarrow on the data files,
    applying content=1 POSITIONAL delete files exactly as the Iceberg v2
    spec reads them — byte-exact file_path match, no normalization, a
    delete applying only to data whose sequence number is ≤ its own
    (an entry's sequence_number, else its manifest-list record's), and
    none of the engine's read path."""
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    md = _load_current_metadata(table_path)
    cur = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    _s, _m, manifests = avro_io.read_container(cur["manifest-list"])
    data_files, delete_files = [], []
    for m in manifests:
        _s2, _m2, entries = avro_io.read_container(m["manifest_path"])
        for e in entries:
            seq = e["sequence_number"]
            seq = m["sequence_number"] if seq is None else seq
            (delete_files if m["content"] == 1 else data_files).append((e["data_file"], seq))
    tombs: dict[tuple[str, int], int] = {}
    for fe, seq in delete_files:
        for r in pq.read_table(fe["file_path"]).to_pylist():
            key = (r["file_path"], r["pos"])
            tombs[key] = max(seq, tombs.get(key, seq))
    rows = []
    for fe, seq in data_files:
        for pos, r in enumerate(pq.read_table(fe["file_path"], columns=columns).to_pylist()):
            if tombs.get((fe["file_path"], pos), -1) < seq:
                rows.append(tuple(r[c] for c in columns))
    return sorted(rows)


def _assert_sequence_numbers(table_path: str) -> None:
    """Across every exported metadata version: a snapshot's
    sequence-number never changes, last-sequence-number never decreases,
    and it is ≥ the sequence number of every manifest entry the version
    references."""
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    mdir = os.path.join(table_path, "metadata")
    versions = sorted(
        int(f[1 : -len(".metadata.json")])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".metadata.json")
    )
    seen: dict[int, int] = {}
    last = 0
    for v in versions:
        with open(os.path.join(mdir, f"v{v}.metadata.json")) as f:
            md = json.load(f)
        assert md["last-sequence-number"] >= last
        last = md["last-sequence-number"]
        for s in md["snapshots"]:
            assert seen.setdefault(s["snapshot-id"], s["sequence-number"]) == s["sequence-number"]
            assert s["sequence-number"] <= last
    # the current version's lists and manifests all exist; entry seqs ≤ last
    md = _load_current_metadata(table_path)
    for s in md["snapshots"]:
        for m in avro_io.read_container(s["manifest-list"])[2]:
            assert m["sequence_number"] <= last
            for e in avro_io.read_container(m["manifest_path"])[2]:
                assert (e["sequence_number"] or 0) <= last


def test_positional_deletes_readable_externally(wh, spark):
    """Merge-on-read positional DELETE: the exported content=1 manifest
    plus the delete parquet give an external reader the same rows the
    engine serves (delete-file file_path matches the manifests' plain
    paths byte-for-byte)."""
    t = wh.create_table(
        "db", "mor_exp", "id int, v string",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    t.delete_where("id = 2")
    engine = sorted(map(tuple, t.read().collect()))
    assert engine == [(1, "a"), (3, "c")]
    assert _independent_read(t.path, ["id", "v"]) == engine


def test_equality_deletes_compiled_to_positional_in_export(wh, spark):
    """EQUALITY deletes are compiled into positional delete files at
    export time: an external reader applying plain v2 positional deletes
    sees deleted keys absent AND later re-inserts of the same key alive
    (the sequence rule is baked into the emitted positions)."""
    t = wh.create_table(
        "db", "eq_exp", "id int, v string",
        properties={
            "write.delete.mode": "merge-on-read-equality",
            "write.delete.equality-columns": "id",
        },
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    t.delete_where("id = 2")
    t.insert_values([(2, "reborn")])  # higher sequence: key resurrects
    engine = sorted(map(tuple, t.read().collect()))
    assert engine == [(1, "a"), (2, "reborn"), (3, "c")]
    assert _independent_read(t.path, ["id", "v"]) == engine
    # the export carries only content 0 (data) and 1 (positional deletes)
    # manifests — no engine-private equality-delete artifacts
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    md = _load_current_metadata(t.path)
    cur = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    _s, _m, manifests = avro_io.read_container(cur["manifest-list"])
    assert {m["content"] for m in manifests} == {0, 1}


def test_expire_gcs_stale_compiled_eqpos_dirs(wh, spark):
    """The compiled equality→positional delete dirs are fingerprint-
    addressed export artifacts; snapshot expiry must GC the ones no
    retained snapshot resolves to (each new eq-delete commit mints a new
    fingerprint — without GC they accumulate forever) while the live one
    keeps serving external readers."""
    import os

    t = wh.create_table(
        "db", "eq_gc", "id int, v string",
        properties={
            "write.delete.mode": "merge-on-read-equality",
            "write.delete.equality-columns": "id",
        },
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    t.delete_where("id = 2")  # fingerprint 1
    t.delete_where("id = 3")  # fingerprint 2 (superset eq set)
    eqpos = lambda: {d for d in os.listdir(t.path) if d.startswith("eqpos-")}  # noqa: E731
    assert len(eqpos()) == 2
    t.expire_snapshots(keep_last=1)
    assert len(eqpos()) == 1  # only the current snapshot's compilation
    assert _independent_read(t.path, ["id", "v"]) == [(1, "a"), (4, "d")]


def test_export_self_heals_half_written_eqpos_dir(wh, spark):
    """A crash between the compiled-delete parquet write and its stats
    sidecar used to leave a dir that made every later export (and hence
    every commit on the table) fail with 'path already exists'. The
    publish is now build-at-temp-path + rename, with the sidecar as the
    completeness marker, so the next export replaces the leftover."""
    import os
    import shutil

    from minio_iceberg_polaris_lakehouse_spark.warehouse import DIR_STATS_FILE

    t = wh.create_table(
        "db", "eq_heal", "id int, v string",
        properties={
            "write.delete.mode": "merge-on-read-equality",
            "write.delete.equality-columns": "id",
        },
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    t.delete_where("id = 2")
    eqpos = [d for d in os.listdir(t.path) if d.startswith("eqpos-")]
    assert len(eqpos) == 1
    # simulate the crash: dir exists, sidecar missing
    os.remove(os.path.join(t.path, eqpos[0], DIR_STATS_FILE))
    # next commit re-runs the export; it must replace the leftover, not die
    t.insert_values([(4, "d")])
    assert os.path.isfile(os.path.join(t.path, eqpos[0], DIR_STATS_FILE))
    assert _independent_read(t.path, ["id", "v"]) == [
        (1, "a"), (3, "c"), (4, "d"),
    ]
    # no temp dirs left behind
    assert not [d for d in os.listdir(t.path) if ".tmp-" in d]
    # and a fully-deleted leftover dir also heals
    shutil.rmtree(os.path.join(t.path, eqpos[0]))
    t.insert_values([(5, "e")])
    assert _independent_read(t.path, ["id", "v"]) == [
        (1, "a"), (3, "c"), (4, "d"), (5, "e"),
    ]


def test_duckdb_iceberg_reader_if_available(wh, spark):
    """If the DuckDB iceberg extension can load (it usually cannot:
    INSTALL needs the extension repo and this sandbox has no network —
    verified each run below, so the moment the environment gains network
    or a vendored extension this test self-arms), point it at the
    exported metadata; otherwise skip. pyiceberg is likewise absent and
    not vendorable offline (pip unavailable)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("INSTALL iceberg")
        con.execute("LOAD iceberg")
    except duckdb.Error as e:
        pytest.skip(f"duckdb iceberg extension unavailable offline: {str(e)[:120]}")
    t = wh.create_table("db", "duck_read", "id int, name string")
    t.insert_values([(1, "x")])
    out = con.execute(
        f"SELECT count(*) FROM iceberg_scan('{t.path}')"
    ).fetchone()
    assert out[0] == 1


def test_expiry_keeps_sequence_numbers_for_spec_readers(wh, spark):
    """Sequence numbers are snapshot ids, never list positions: after
    expire_snapshots drops the first three of four appends, a later
    merge-on-read DELETE still outranks every data file it tombstones,
    so a reader applying the v2 rule (delete applies when data seq ≤
    delete seq) drops the deleted rows."""
    t = wh.create_table(
        "db", "seq_exp", "id int",
        properties={"write.delete.mode": "merge-on-read"},
    )
    for k in range(4):
        t.insert_values([(k * 10 + i,) for i in range(10)])
    t.expire_snapshots(keep_last=1)
    t.delete_where("id >= 30")
    assert t.read().count() == 30
    assert len(_independent_read(t.path, ["id"])) == 30
    md = _load_current_metadata(t.path)
    assert [(s["snapshot-id"], s["sequence-number"]) for s in md["snapshots"]] == [(4, 4), (5, 5)]
    assert md["last-sequence-number"] == 5
    _assert_sequence_numbers(t.path)


def test_snapshot_id_not_reused_after_newest_snapshot_expires(wh, spark):
    """A staged snapshot whose branch was dropped is the newest snapshot
    and expires; the next commit still takes a fresh id, so
    last-sequence-number never decreases and no sequence number is
    reused for different files."""
    t = wh.create_table("db", "seq_reuse", "id int")
    t.insert_values([(1,)])
    t.create_ref("wip", "branch")
    t.append(spark.createDataFrame([(2,)], "id int"), branch="wip")  # snapshot 2
    t.drop_ref("wip")
    t.expire_snapshots(keep_last=1)
    assert [s["snapshot-id"] for s in _load_current_metadata(t.path)["snapshots"]] == [1]
    assert t.insert_values([(3,)]) == 3
    assert _independent_read(t.path, ["id"]) == [(1,), (3,)]
    _assert_sequence_numbers(t.path)


def test_expiry_deletes_orphaned_manifest_lists_and_manifests(wh, spark):
    """expire_snapshots deletes the manifest lists of expired snapshots
    and the manifests of the dirs it collects (Iceberg's
    expireSnapshots), keeping every file the current document uses."""
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    t = wh.create_table("db", "exp_meta", "id int")
    t.insert_values([(1,)])
    t.insert_values([(2,)])
    t.overwrite(spark.createDataFrame([(3,)], "id int"))
    t.insert_values([(4,)])
    t.expire_snapshots(keep_last=1)
    mdir = os.path.join(t.path, "metadata")
    md = _load_current_metadata(t.path)
    lists = {s["manifest-list"] for s in md["snapshots"]}
    manifests = {
        m["manifest_path"] for ml in lists for m in avro_io.read_container(ml)[2]
    }
    assert all(os.path.isfile(p) for p in lists | manifests)
    on_disk = {
        os.path.join(mdir, f)
        for f in os.listdir(mdir)
        if f.startswith(("snap-", "manifest-"))
    }
    # the overwrite collected the first two appends' dirs; snapshots
    # 1-3 expired — nothing of theirs stays behind
    assert on_disk == lists | manifests
    assert len(lists) == 1 and len(manifests) == 2


def test_commit_writes_each_metadata_file_once(wh, spark, monkeypatch):
    """One append writes each metadata file once, whatever the history
    length: no earlier manifest list is rewritten and no JSON copy of a
    manifest list is written."""
    from collections import Counter

    from minio_iceberg_polaris_lakehouse_spark import fsio

    def kind(path: str) -> str:
        name = os.path.basename(path)
        if name.startswith("snap-") and name.endswith("-manifest-list.avro"):
            return "manifest-list"
        if name.startswith("manifest-") and name.endswith(".avro"):
            return "manifest"
        if name.startswith("v") and name.endswith(".metadata.json"):
            return "vN.metadata.json"
        return name

    def budget(n_snapshots: int) -> Counter:
        t = wh.create_table("db", f"budget{n_snapshots}", "id int")
        for i in range(n_snapshots):
            t.insert_values([(i,)])
        writes: Counter = Counter()
        real = fsio.write_bytes_atomic

        def spy(path, data, tmp_suffix):
            writes[kind(path)] += 1
            return real(path, data, tmp_suffix)

        monkeypatch.setattr(fsio, "write_bytes_atomic", spy)
        try:
            t.insert_values([(99,)])
        finally:
            monkeypatch.setattr(fsio, "write_bytes_atomic", real)
        return writes

    one, five = budget(1), budget(5)
    assert one == five == Counter(
        {
            "_meta.json": 1,
            "_snapshots.json": 1,
            "manifest-list": 1,
            "vN.metadata.json": 1,
            "version-hint.text": 1,
            "manifest": 1,  # one new data dir ...
            ".stats.json": 1,  # ... and its stats sidecar
        }
    )
    assert not [
        f
        for root, _d, files in os.walk(wh.root)
        for f in files
        if f.endswith(".manifest-list.json")
    ]


def test_exported_refs_match_engine(wh, spark):
    """Branch commits, create_ref and drop_ref publish the ref move in
    the same export: the exported refs map always equals the engine's
    and a ref read through the open metadata sees the branch head."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    t = wh.create_table("db", "refs_exp", "id int")
    t.insert_values([(i,) for i in range(10)])

    def check():
        exported = {
            name: (r["snapshot-id"], r["type"])
            for name, r in _load_current_metadata(t.path)["refs"].items()
        }
        engine = {
            r.name: (r.snapshot_id, r.type.lower()) for r in t.refs().collect()
        }
        assert exported == engine

    t.create_ref("audit", "branch")
    check()
    t.append(spark.createDataFrame([(i,) for i in range(10, 15)], "id int"), branch="audit")
    check()
    t.delete_where("id >= 12", branch="audit")
    check()
    t.create_ref("v1", "tag")
    check()
    t.drop_ref("v1")
    check()
    assert t.read(version="audit").count() == 12
    assert read_iceberg_table(spark, t.path, ref="audit").count() == 12
    t.fast_forward("audit")
    check()
    assert read_iceberg_table(spark, t.path).count() == 12
    _assert_sequence_numbers(t.path)


def test_metadata_version_monotonic_across_expiry(wh, spark):
    """Snapshot expiry must not regress the metadata version counter
    (vN files are immutable history; a len(snapshots)-derived version
    would overwrite them after expire)."""
    t = wh.create_table("db", "expire_exp", "id int")
    for i in range(3):
        t.insert_values([(i,)])
    assert _load_current_metadata(t.path)["current-snapshot-id"] == 3
    t.expire_snapshots(keep_last=1)
    md = _load_current_metadata(t.path)
    assert [s["snapshot-id"] for s in md["snapshots"]] == [3]
    t.insert_values([(99,)])
    md2 = _load_current_metadata(t.path)
    # counter kept rising: 3 commits + expire + 1 commit = v5
    mdir = os.path.join(t.path, "metadata")
    with open(os.path.join(mdir, "version-hint.text")) as f:
        assert int(f.read()) == 5
    assert md2["current-snapshot-id"] == 4
    # every referenced data file still exists
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    _s, _m, manifests = avro_io.read_container(md2["snapshots"][-1]["manifest-list"])
    files = [
        e["data_file"]
        for m in manifests
        for e in avro_io.read_container(m["manifest_path"])[2]
    ]
    assert files and all(os.path.isfile(fe["file_path"]) for fe in files)


# --------------------------------------------------------------------------
# Property fuzz: after ANY commit sequence (appends, copy-on-write and
# merge-on-read positional deletes, equality deletes, compaction, expiry),
# an independent reader walking the exported metadata tree — applying
# content=1 positional deletes with byte-exact path matching — sees exactly
# the rows the engine's own read serves. This is the open-format promise,
# pinned across the whole delete-mode interaction space.
# --------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(0, 9), min_size=1, max_size=4)),
        st.tuples(st.just("delete_cow"), st.integers(0, 9)),
        st.tuples(st.just("delete_mor"), st.integers(0, 9)),
        st.tuples(st.just("delete_eq"), st.integers(0, 9)),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("expire"), st.just(None)),
    ),
    min_size=1,
    max_size=6,
)

_N = [0]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS)
def test_export_fuzz_external_reader_matches_engine(spark, tmp_path_factory, ops):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("exp_fuzz")))
    _N[0] += 1
    t = wh.create_table(
        "db", f"xf{_N[0]}", "id int, v string",
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
        elif op == "expire":
            t.expire_snapshots(keep_last=1)
    if t.current_snapshot_id() is None:
        return  # nothing exported for an empty table
    engine = sorted((r.id, r.v) for r in t.read().collect())
    external = _independent_read(t.path, ["id", "v"])
    assert external == engine
    # the first-class distributed reader (sources/iceberg_reader.py)
    # agrees with both the engine and the pyarrow-only walk on every
    # fuzzed commit history
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    assert sorted(map(tuple, read_iceberg_table(spark, t.path).collect())) == engine
    _assert_sequence_numbers(t.path)


def test_orphan_removal_sweeps_crashed_eqpos_tmp(wh, spark):
    """A temp build dir left by an exporter that crashed before the
    publish rename matches no data-/delete-/eqpos- GC pattern; orphan
    removal must reclaim it (it holds full parquet copies)."""
    import os

    t = wh.create_table(
        "db", "eq_tmp_gc", "id int, v string",
        properties={
            "write.delete.mode": "merge-on-read-equality",
            "write.delete.equality-columns": "id",
        },
    )
    t.insert_values([(1, "a"), (2, "b")])
    t.delete_where("id = 2")
    crashed = os.path.join(t.path, ".eqpos-deadbeef.tmp-123-abc")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    # a FRESH unreferenced dir is protected by the age guard (it could
    # be an in-flight write about to be referenced)...
    assert t.remove_orphan_files() == 0
    assert os.path.isdir(crashed)
    # ...an old one is reclaimed
    os.utime(crashed, (0, 0))
    assert t.remove_orphan_files() == 1
    assert not os.path.isdir(crashed)
    # the live compiled dir survived
    assert [d for d in os.listdir(t.path) if d.startswith("eqpos-")]


def test_export_publishes_sort_order(spark, tmp_path):
    """WRITE ORDERED BY surfaces in the exported metadata as a real
    Iceberg sort order (order-id 1, identity/asc/nulls-first) and
    becomes the default; order 0 stays the unsorted order."""
    import json

    from minio_iceberg_polaris_lakehouse_spark import fsio
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        resolve_metadata_path,
    )
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "s", "a int, b string")
    t.insert_values([(1, "x")])
    md = json.loads(fsio.read_text(resolve_metadata_path(t.path)))
    assert md["default-sort-order-id"] == 0
    t.set_write_order("b", "a")
    t.insert_values([(2, "y")])
    md = json.loads(fsio.read_text(resolve_metadata_path(t.path)))
    assert md["default-sort-order-id"] == 1
    order = next(o for o in md["sort-orders"] if o["order-id"] == 1)
    ids = {f["name"]: f["id"] for f in md["schemas"][-1]["fields"]}
    assert [f["source-id"] for f in order["fields"]] == [ids["b"], ids["a"]]
    assert all(
        f["transform"] == "identity" and f["direction"] == "asc"
        for f in order["fields"]
    )


def test_alters_publish_at_once(wh, spark):
    """Every metadata-only ALTER publishes a new metadata version: the
    open metadata's current columns equal the engine's after each one,
    with no data commit in between."""
    import datetime

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    t = wh.create_table("db", "alt", "id int, v string")
    t.insert_values([(1, "a")])
    alters = [
        lambda: t.add_column("w", "int"),
        lambda: t.rename_column("v", "vv"),
        lambda: t.alter_column_type("id", "bigint"),
        lambda: t.add_column("d", "int", default="7"),
        lambda: t.add_column("day", "date", default="DATE '2024-02-03'"),
        lambda: t.set_column_default("d", "8"),
        lambda: t.drop_column("w"),
        lambda: t.evolve_partition_spec("id", "bucket4"),
        lambda: t.set_write_order("vv"),
        lambda: t.set_properties({"owner": "x"}),
        lambda: t.unset_properties(["owner"]),
    ]
    for alter in alters:
        before = _load_current_metadata(t.path)
        alter()
        md = _load_current_metadata(t.path)
        assert md != before
        ext = read_iceberg_table(spark, t.path)
        assert ext.dtypes == t.read().dtypes
    assert [tuple(r) for r in ext.collect()] == [(1, "a", 7, datetime.date(2024, 2, 3))]
    cur = md["schemas"][md["current-schema-id"]]
    assert {f["name"]: f.get("write-default") for f in cur["fields"]}["d"] == 8
    assert md["partition-specs"][md["default-spec-id"]]["fields"][0]["transform"] == "bucket[4]"
    assert md["default-sort-order-id"] == 1
    assert "owner" not in md["properties"]


def test_manifest_entries_carry_typed_column_bounds(wh, spark):
    """Data-file manifest entries carry footer [min, max] as spec fields
    125/128: keyed by field id, in the single-value binary encoding of
    the column's type (dates as days, timestamps as UTC micros, decimals
    as big-endian unscaled two's complement)."""
    import datetime
    import decimal

    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import _decode_bound

    t = wh.create_table("db", "bnd", "id bigint, d date, ts timestamp, amt decimal(10,2), s string")
    t.insert_values(
        [
            (3, datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5), decimal.Decimal("-1.50"), "b"),
            (9, datetime.date(2024, 3, 1), datetime.datetime(2024, 3, 1, 0, 0, 1), decimal.Decimal("12.25"), "q"),
        ]
    )
    md = _load_current_metadata(t.path)
    cur = next(s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"])
    schema = md["schemas"][md["current-schema-id"]]
    types = {f["id"]: (f["name"], f["type"]) for f in schema["fields"]}
    lo, hi = {}, {}
    for m in avro_io.read_container(cur["manifest-list"])[2]:
        for e in avro_io.read_container(m["manifest_path"])[2]:
            if e["data_file"]["record_count"] == 0:
                continue
            for side, out, pick in (("lower_bounds", lo, min), ("upper_bounds", hi, max)):
                for kv in e["data_file"][side]:
                    name, typ = types[kv["key"]]
                    v = _decode_bound(kv["value"], typ)
                    out[name] = v if name not in out else pick(out[name], v)
    epoch = datetime.datetime(2024, 1, 2, 3, 4, 5, tzinfo=datetime.timezone.utc).timestamp()
    assert lo["id"] == 3 and hi["id"] == 9
    assert lo["d"] == (datetime.date(2024, 1, 2) - datetime.date(1970, 1, 1)).days
    assert lo["ts"] == int(epoch) * 1_000_000
    assert lo["amt"] == decimal.Decimal("-1.50") and hi["amt"] == decimal.Decimal("12.25")
    assert lo["s"] == "b" and hi["s"] == "q"
