"""Foreign Iceberg append (sources/iceberg_writer.py): write to a table
the engine didn't create, through the open metadata — new data files +
manifest + vN+1 document; prior snapshots/sequence numbers untouched, so
equality-delete applicability and time travel are preserved. Includes
the REST-arbitrated mode (commitTable CAS decides the pointer swap)."""

from __future__ import annotations

import json

import pytest

from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    read_iceberg_table,
    resolve_metadata_path,
)
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
    append_iceberg_table,
)
from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse
from tests.test_iceberg_reader import _build_foreign_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_append_to_hand_authored_foreign_table(spark, tmp_path):
    """Append to the raw-equality-delete fixture: survivors (3,reborn),
    (4,d) plus the new rows — including a NEW id=2 row that the seq-2
    equality delete must NOT touch (its data sequence is higher), i.e.
    appends preserve every older snapshot's delete semantics."""
    root = _build_foreign_table(tmp_path)
    new = spark.createDataFrame([(2, "back"), (9, "nine")], "id int, name string")
    new_path = append_iceberg_table(spark, root, new)
    assert new_path.endswith("v2.metadata.json")
    got = read_iceberg_table(spark, root)
    assert _rows(got) == [(2, "back"), (3, "reborn"), (4, "d"), (9, "nine")]
    # prior snapshot still time-travels to the pre-append state
    md = json.loads(open(new_path).read())
    prev = md["snapshots"][0]["snapshot-id"]
    assert _rows(read_iceberg_table(spark, root, snapshot_id=prev)) == [
        (3, "reborn"),
        (4, "d"),
    ]


def test_append_to_engine_exported_table(spark, tmp_path):
    """Append to a table exported by (another) engine instance via its
    open metadata; missing nullable columns NULL-fill, order-insensitive
    name matching."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "src", "id int, v string, note string")
    t.insert_values([(1, "a", None)])
    out = append_iceberg_table(
        spark, t.path, spark.createDataFrame([("b", 2)], "v string, id int")
    )
    got = read_iceberg_table(spark, t.path)
    assert _rows(got) == [(1, "a", None), (2, "b", None)]
    assert resolve_metadata_path(t.path) == out  # hint advanced


def test_append_identity_partitioned_foreign_table(spark, tmp_path):
    """Identity-partitioned appends land grouped by partition value with
    TYPED values in the manifest entries (date → epoch days, NULL →
    null) under the spec's own field ids; derived transforms refuse —
    deriving them approximately would corrupt other engines' pruning."""
    import datetime

    from minio_iceberg_polaris_lakehouse_spark import avro_io

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "p", "id int, d date, v string", partition_by="d")
    t.insert_values([(1, datetime.date(2024, 1, 1), "a")])
    new = spark.createDataFrame(
        [(2, datetime.date(2024, 1, 2), "b"), (3, None, "c")],
        "id int, d date, v string",
    )
    new_path = append_iceberg_table(spark, t.path, new)
    assert _rows(read_iceberg_table(spark, t.path)) == [
        (1, datetime.date(2024, 1, 1), "a"),
        (2, datetime.date(2024, 1, 2), "b"),
        (3, None, "c"),
    ]
    md = json.loads(open(new_path).read())
    snap = md["snapshots"][-1]
    _s, _m, recs = avro_io.read_container(snap["manifest-list"])
    mine = [r for r in recs if r["added_snapshot_id"] == snap["snapshot-id"]]
    _s2, _m2, entries = avro_io.read_container(mine[0]["manifest_path"])
    values = sorted(
        (e["data_file"]["partition"]["_p_identity_d"] is None,
         e["data_file"]["partition"]["_p_identity_d"] or 0)
        for e in entries
    )
    epoch_days = (datetime.date(2024, 1, 2) - datetime.date(1970, 1, 1)).days
    assert values == [(False, epoch_days), (True, 0)]

    # derived transform: loud refusal
    t2 = wh.create_table("db", "pd", "id int, ts timestamp", partition_by="ts", transform="day")
    t2.insert_values([(1, datetime.datetime(2024, 1, 1, 12))])
    with pytest.raises(ValueError, match="identity"):
        append_iceberg_table(
            spark, t2.path,
            spark.createDataFrame([(2, datetime.datetime(2024, 1, 2, 1))], "id int, ts timestamp"),
        )


def test_rest_arbitrated_foreign_append(spark, tmp_path):
    """update_hint=False + commit_with_retry: the catalog's CAS decides
    the pointer swap; the committed location serves the appended rows."""
    from minio_iceberg_polaris_lakehouse_spark.rest_catalog import (
        RestCatalogClient,
        make_server,
    )

    srv, port = make_server(str(tmp_path), "cid", "sec")
    try:
        cli = RestCatalogClient(f"http://127.0.0.1:{port}", "cid", "sec")
        cli.create_catalog("cat", str(tmp_path / "cat"))
        cli.create_namespace("cat", "db")
        cli.create_table("cat", "db", "t", "id int")
        wh = Warehouse(spark, str(tmp_path / "cat"))
        wh.table("db", "t").insert_values([(1,)])
        cli.commit_with_retry(
            "cat", "db", "t",
            lambda cur: resolve_metadata_path(wh.table("db", "t").path),
        )

        def stage(cur):
            return append_iceberg_table(
                spark,
                cur["metadata-location"],
                spark.createDataFrame([(2,)], "id int"),
                update_hint=False,
            )

        cli.commit_with_retry("cat", "db", "t", stage)
        loc = cli.load_table("cat", "db", "t")["metadata-location"]
        assert _rows(read_iceberg_table(spark, loc)) == [(1,), (2,)]
    finally:
        srv.shutdown()


def test_sql_insert_into_registered_foreign_table(spark, tmp_path):
    """INSERT INTO a `CALL system.register_table` name routes through
    the open-metadata writer; the very next SELECT (re-resolved through
    version-hint) serves the appended rows."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    root = _build_foreign_table(tmp_path)
    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.ft', "
        f"metadata_file => '{root}')"
    )
    lake.sql("INSERT INTO polaris.ext.ft VALUES (9, 'nine'), (10, 'ten')")
    got = sorted(
        (r.id, r.name) for r in lake.sql("SELECT id, name FROM ext.ft").collect()
    )
    assert got == [(3, "reborn"), (4, "d"), (9, "nine"), (10, "ten")]


def test_fuzz_foreign_append_roundtrip(spark, tmp_path):
    """Model check: a random sequence of foreign appends (varied types:
    int/long/string/double/date columns, NULLs, empty frames) against a
    plain list model — after each append the reader must serve exactly
    model rows, and every prior snapshot must still time-travel to its
    own prefix."""
    import datetime
    import random

    rng = random.Random(74)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "fz", "id int, n bigint, s string, x double, d date")
    schema = "id int, n bigint, s string, x double, d date"
    model: list[tuple] = []
    snapshots: list[tuple[int, list[tuple]]] = []

    def rand_row(i):
        return (
            i,
            rng.randint(-(2**40), 2**40) if rng.random() > 0.2 else None,
            rng.choice(["alpha", "beta", None, "δγ"]),
            round(rng.uniform(-1e6, 1e6), 3) if rng.random() > 0.2 else None,
            datetime.date(2024, rng.randint(1, 12), rng.randint(1, 28))
            if rng.random() > 0.3
            else None,
        )

    # seed through the ENGINE (so the table has native metadata too)
    first = [rand_row(i) for i in range(3)]
    t.insert_values(first)
    model += first
    for step in range(4):
        rows = [rand_row(100 * (step + 1) + j) for j in range(rng.randint(1, 5))]
        path = append_iceberg_table(spark, t.path, spark.createDataFrame(rows, schema))
        model += rows
        md = json.loads(open(path).read())
        snapshots.append((md["current-snapshot-id"], list(model)))
        got = _rows(read_iceberg_table(spark, t.path))
        assert got == sorted(model), f"step {step}: mismatch"
    # every recorded snapshot still serves its own prefix
    for sid, expect in snapshots:
        assert _rows(read_iceberg_table(spark, t.path, snapshot_id=sid)) == sorted(expect)


# ---------------------------------------------------------------- DELETE


def test_delete_on_hand_authored_foreign_table(spark, tmp_path):
    """Row-level DELETE on the raw-equality-delete fixture: merge-on-read
    positional tombstones layer on top of the fixture's own equality
    deletes (already applied by the scan — no double tombstoning), old
    snapshots keep time-traveling to the pre-delete state."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        delete_iceberg_table_where,
    )

    root = _build_foreign_table(tmp_path)
    new_path = delete_iceberg_table_where(spark, root, "id = 4")
    assert new_path is not None and new_path.endswith("v2.metadata.json")
    assert _rows(read_iceberg_table(spark, root)) == [(3, "reborn")]
    md = json.loads(open(new_path).read())
    prev = md["snapshots"][0]["snapshot-id"]
    assert _rows(read_iceberg_table(spark, root, snapshot_id=prev)) == [
        (3, "reborn"),
        (4, "d"),
    ]
    assert md["snapshots"][-1]["summary"]["operation"] == "delete"


def test_delete_noop_and_append_after_delete(spark, tmp_path):
    """No match → no snapshot committed; rows appended AFTER a delete
    live in new files and are never touched by the older tombstones."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        delete_iceberg_table_where,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "src", "id int, v string")
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    assert delete_iceberg_table_where(spark, t.path, "id = 99") is None
    md = json.loads(open(resolve_metadata_path(t.path)).read())
    n_snaps = len(md["snapshots"])

    assert delete_iceberg_table_where(spark, t.path, "id = 2") is not None
    # re-insert the same logical row: positional deletes name exact
    # (file, pos) pairs, so the new file's row survives
    append_iceberg_table(spark, t.path, spark.createDataFrame([(2, "b2")], "id int, v string"))
    assert _rows(read_iceberg_table(spark, t.path)) == [(1, "a"), (2, "b2"), (3, "c")]
    md = json.loads(open(resolve_metadata_path(t.path)).read())
    assert len(md["snapshots"]) == n_snaps + 2  # delete + append only


def test_sql_delete_from_registered_foreign_table(spark, tmp_path):
    """DELETE FROM a `CALL system.register_table` name routes through
    the open-metadata delete writer; SELECT re-resolves the hint and
    serves the post-delete state; a WAP branch session refuses."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    root = _build_foreign_table(tmp_path)
    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.ft', "
        f"metadata_file => '{root}')"
    )
    lake.sql("DELETE FROM ext.ft WHERE name = 'd'")
    got = sorted((r.id, r.name) for r in lake.sql("SELECT id, name FROM ext.ft").collect())
    assert got == [(3, "reborn")]
    lake.sql("SET spark.wap.branch = 'audit'")
    try:
        with pytest.raises(WarehouseError, match="WAP"):
            lake.sql("DELETE FROM ext.ft WHERE id = 3")
    finally:
        lake.sql("RESET spark.wap.branch")


def test_rest_arbitrated_foreign_delete(spark, tmp_path):
    """update_hint=False delete under commitTable CAS: the catalog's
    pointer serves the tombstoned state."""
    from minio_iceberg_polaris_lakehouse_spark.rest_catalog import (
        RestCatalogClient,
        make_server,
    )
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        delete_iceberg_table_where,
    )

    srv, port = make_server(str(tmp_path), "cid", "sec")
    try:
        cli = RestCatalogClient(f"http://127.0.0.1:{port}", "cid", "sec")
        cli.create_catalog("cat", str(tmp_path / "cat"))
        cli.create_namespace("cat", "db")
        cli.create_table("cat", "db", "t", "id int")
        wh = Warehouse(spark, str(tmp_path / "cat"))
        wh.table("db", "t").insert_values([(1,), (2,), (3,)])
        cli.commit_with_retry(
            "cat", "db", "t",
            lambda cur: resolve_metadata_path(wh.table("db", "t").path),
        )

        def stage(cur):
            return delete_iceberg_table_where(
                spark, cur["metadata-location"], "id = 2", update_hint=False
            )

        cli.commit_with_retry("cat", "db", "t", stage)
        loc = cli.load_table("cat", "db", "t")["metadata-location"]
        assert _rows(read_iceberg_table(spark, loc)) == [(1,), (3,)]
    finally:
        srv.shutdown()


# ---------------------------------------------------------------- UPDATE


def test_update_on_foreign_table_single_snapshot(spark, tmp_path):
    """UPDATE = ONE open-metadata snapshot: matched rows tombstoned and
    rewritten together (never zero copies, never two); expressions see
    the pre-update values; unmatched rows untouched; prior snapshot
    still time-travels."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        update_iceberg_table_where,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "src", "id int, v string, amt double")
    t.insert_values([(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)])
    new_path = update_iceberg_table_where(
        spark, t.path, {"amt": "amt * 2", "v": "upper(v)"}, "id >= 2"
    )
    assert new_path is not None
    assert _rows(read_iceberg_table(spark, t.path)) == [
        (1, "a", 10.0),
        (2, "B", 40.0),
        (3, "C", 60.0),
    ]
    md = json.loads(open(new_path).read())
    assert [s["summary"]["operation"] for s in md["snapshots"]] == ["append", "overwrite"]
    prev = md["snapshots"][0]["snapshot-id"]
    assert _rows(read_iceberg_table(spark, t.path, snapshot_id=prev)) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
    ]
    # no-match update commits nothing; unknown column fails loudly
    assert update_iceberg_table_where(spark, t.path, {"amt": "0"}, "id = 99") is None
    with pytest.raises(ValueError, match="unknown columns"):
        update_iceberg_table_where(spark, t.path, {"nope": "1"}, "id = 1")


def test_sql_update_registered_foreign_table(spark, tmp_path):
    """UPDATE a `CALL system.register_table` name routes through the
    open-metadata writer; repeated updates stack correctly (each reads
    the prior merge-on-read state)."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    root = _build_foreign_table(tmp_path)
    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.ft', "
        f"metadata_file => '{root}')"
    )
    lake.sql("UPDATE ext.ft SET name = name || '!' WHERE id = 3")
    lake.sql("UPDATE ext.ft SET name = name || '?' WHERE id = 3")
    got = sorted((r.id, r.name) for r in lake.sql("SELECT id, name FROM ext.ft").collect())
    assert got == [(3, "reborn!?"), (4, "d")]


# ---------------------------------------------------------------- MERGE


def test_merge_into_foreign_table_upsert(spark, tmp_path):
    """MERGE USING src ON key UPDATE SET * / INSERT * on a registered
    foreign table: ONE overwrite snapshot — matched rows replaced by
    source versions, unmatched source rows inserted, unmatched target
    rows untouched (then dropped under the BY SOURCE DELETE arm)."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    wh = Warehouse(spark, str(tmp_path / "src_wh"))
    t = wh.create_table("db", "tgt", "id int, v string")
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])

    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.tgt', "
        f"metadata_file => '{t.path}')"
    )
    lake.sql("CREATE TABLE polaris.db.src (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO db.src VALUES (2, 'B'), (4, 'D')")
    lake.sql(
        "MERGE INTO ext.tgt t USING db.src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert _rows(read_iceberg_table(spark, t.path)) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
        (4, "D"),
    ]
    md = json.loads(open(resolve_metadata_path(t.path)).read())
    assert len(md["snapshots"]) == 2  # append + ONE merge snapshot
    # full two-way sync: BY SOURCE DELETE drops ids the source lacks
    lake.sql(
        "MERGE INTO ext.tgt t USING db.src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert _rows(read_iceberg_table(spark, t.path)) == [(2, "B"), (4, "D")]


def test_merge_foreign_delete_form_and_cardinality(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    wh = Warehouse(spark, str(tmp_path / "src_wh"))
    t = wh.create_table("db", "tgt", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.tgt', "
        f"metadata_file => '{t.path}')"
    )
    lake.sql("CREATE TABLE polaris.db.src (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO db.src VALUES (1, 'x'), (9, 'z')")
    lake.sql(
        "MERGE INTO ext.tgt t USING db.src s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE"
    )
    assert _rows(read_iceberg_table(spark, t.path)) == [(2, "b")]
    # duplicated source key that matches the target → loud cardinality error
    lake.sql("INSERT INTO db.src VALUES (2, 'dup1'), (2, 'dup2')")
    with pytest.raises(WarehouseError, match="cardinality"):
        lake.sql(
            "MERGE INTO ext.tgt t USING db.src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    # duplicate source keys that match NOTHING are legal inserts
    lake.sql("DELETE FROM db.src WHERE id = 2")
    lake.sql("INSERT INTO db.src VALUES (7, 'd1'), (7, 'd2')")
    lake.sql(
        "MERGE INTO ext.tgt t USING db.src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = _rows(read_iceberg_table(spark, t.path))
    assert sorted(v for _i, v in got if _i == 7) == ["d1", "d2"]


def _jobs(spark, statement) -> int:
    """Spark jobs ``statement()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    group = f"jobs-{id(statement)}"
    sc.setJobGroup(group, group)
    try:
        statement()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_foreign_two_arm_merge_job_count(spark, tmp_path):
    """A foreign MERGE runs the one MERGE plan: a tombstone write and a
    data write over the full outer join, the cardinality check inside
    the first — 7 jobs for the upsert scenario above (the key-only
    planner with its separate cardinality collect ran 9)."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    wh = Warehouse(spark, str(tmp_path / "src_wh"))
    t = wh.create_table("db", "tgt", "id int, v string")
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.tgt', "
        f"metadata_file => '{t.path}')"
    )
    lake.sql("CREATE TABLE polaris.db.src (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO db.src VALUES (2, 'B'), (4, 'D')")
    n = _jobs(
        spark,
        lambda: lake.sql(
            "MERGE INTO ext.tgt t USING db.src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ),
    )
    assert n <= 7
    assert _rows(read_iceberg_table(spark, t.path)) == [(1, "a"), (2, "B"), (3, "c"), (4, "D")]


def test_foreign_delete_files_cluster_by_data_file(spark, tmp_path):
    """Position deletes are hash-clustered on the data file and sorted
    within each task: every delete file is in (file_path, pos) order,
    one data file's tombstones sit in one delete file, and the DELETE
    runs 2 jobs (a global sort added a range-sampling job)."""
    import glob

    import pyarrow.parquet as pq

    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    wh = Warehouse(spark, str(tmp_path / "src_wh"))
    t = wh.create_table("db", "d", "id int, v string")
    for k in range(3):
        t.insert_values([(k * 200 + i, "x") for i in range(200)])
    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(f"CALL polaris.system.register_table(table => 'ext.d', metadata_file => '{t.path}')")
    assert _jobs(spark, lambda: lake.sql("DELETE FROM ext.d WHERE id % 3 <> 0")) <= 2
    seen: dict[str, str] = {}
    for path in glob.glob(f"{t.path}/data/delete-*/*.parquet"):
        got = [tuple(r.values()) for r in pq.read_table(path).to_pylist()]
        assert got == sorted(got), path
        for file_path, _pos in got:
            assert seen.setdefault(file_path, path) == path, file_path
    assert len(seen) >= 2
    assert sorted(r.id for r in lake.sql("SELECT id FROM ext.d").collect()) == list(range(0, 600, 3))


# ------------------------------------------------------------ COMPACTION


def test_rewrite_foreign_table_files(spark, tmp_path):
    """CALL system.rewrite_data_files on a registered foreign table:
    live rows land as fresh files under a `replace` snapshot — the
    tombstones are absorbed, the logical contents are identical, and
    prior snapshots still time-travel to the old layout."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        delete_iceberg_table_where,
    )

    wh = Warehouse(spark, str(tmp_path / "src_wh"))
    t = wh.create_table("db", "c", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    # several appends + a MOR delete → small files + tombstones to absorb
    append_iceberg_table(spark, t.path, spark.createDataFrame([(3, "c")], "id int, v string"))
    append_iceberg_table(spark, t.path, spark.createDataFrame([(4, "d")], "id int, v string"))
    delete_iceberg_table_where(spark, t.path, "id = 2")
    before = _rows(read_iceberg_table(spark, t.path))

    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.c', "
        f"metadata_file => '{t.path}')"
    )
    lake.sql("CALL polaris.system.rewrite_data_files(table => 'ext.c')")
    assert _rows(read_iceberg_table(spark, t.path)) == before  # logical no-op
    md = json.loads(open(resolve_metadata_path(t.path)).read())
    snap = md["snapshots"][-1]
    assert snap["summary"]["operation"] == "replace"
    # the replace snapshot references ONLY the rewritten manifest(s) —
    # no delete manifests survive (tombstones absorbed)
    _s, _m, recs = avro_io.read_container(snap["manifest-list"])
    assert all(r["added_snapshot_id"] == snap["snapshot-id"] for r in recs)
    assert all(r["content"] == 0 for r in recs)
    # prior snapshot still serves the pre-compaction state
    prev = md["snapshots"][-2]["snapshot-id"]
    assert _rows(read_iceberg_table(spark, t.path, snapshot_id=prev)) == before


# ---------------- foreign UPSERT (one snapshot: content=2 eq-delete + data) --


def test_upsert_foreign_table_replaces_by_identifier_fields(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        upsert_iceberg_table,
    )

    wh = Warehouse(spark, str(tmp_path / "wh_u"))
    t = wh.create_table("db", "src", "id int, v string")
    t.set_identifier_fields("id")
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])

    batch = spark.createDataFrame([(2, "B2"), (4, "d")], "id int, v string")
    new_path = upsert_iceberg_table(spark, t.path, batch)
    got = read_iceberg_table(spark, t.path)
    assert _rows(got) == [(1, "a"), (2, "B2"), (3, "c"), (4, "d")]

    # the committed snapshot carries a RAW content=2 manifest with
    # equality_ids — byte-level what a Flink upsert sink writes
    md = json.loads(open(new_path).read())
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"])
    assert snap["summary"]["upsert"] == "true"
    _s, _m, mans = avro_io.read_container(snap["manifest-list"])
    eq_mans = [m for m in mans if "eqdeletes" in m["manifest_path"]]
    assert len(eq_mans) == 1
    _s2, _m2, entries = avro_io.read_container(eq_mans[0]["manifest_path"])
    assert entries[0]["data_file"]["content"] == 2
    assert entries[0]["data_file"]["equality_ids"] == [1]  # id's field id

    # time travel to before the upsert
    prev = md["snapshots"][0]["snapshot-id"]
    assert _rows(read_iceberg_table(spark, t.path, snapshot_id=prev)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]

    # re-upsert the same key: latest wins (strict seq rule each commit)
    upsert_iceberg_table(spark, t.path, spark.createDataFrame([(2, "B3")], "id int, v string"))
    assert _rows(read_iceberg_table(spark, t.path)) == [
        (1, "a"),
        (2, "B3"),
        (3, "c"),
        (4, "d"),
    ]


def test_upsert_foreign_requires_keys_and_unique_batch(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        upsert_iceberg_table,
    )

    wh = Warehouse(spark, str(tmp_path / "wh_u2"))
    t = wh.create_table("db", "nokeys", "id int, v string")
    t.insert_values([(1, "a")])
    with pytest.raises(ValueError, match="identifier-field-ids"):
        upsert_iceberg_table(spark, t.path, spark.createDataFrame([(1, "x")], t.schema()))
    # explicit keys= works without declared identity
    upsert_iceberg_table(
        spark, t.path, spark.createDataFrame([(1, "x")], t.schema()), keys=["id"]
    )
    assert _rows(read_iceberg_table(spark, t.path)) == [(1, "x")]
    with pytest.raises(ValueError, match="multiple rows"):
        upsert_iceberg_table(
            spark,
            t.path,
            spark.createDataFrame([(5, "p"), (5, "q")], t.schema()),
            keys=["id"],
        )
    assert _rows(read_iceberg_table(spark, t.path)) == [(1, "x")], "nothing committed"


def test_registered_foreign_upsert_property_routes_insert(spark, tmp_path):
    """A foreign table whose OWN metadata declares write.upsert.enabled:
    registered INSERT INTO routes through the upsert shape."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    wh_src = Warehouse(spark, str(tmp_path / "wh_src"))
    t = wh_src.create_table("db", "inv", "sku int, qty int")
    t.set_identifier_fields("sku")
    t.set_properties({"write.upsert.enabled": "true"})
    t.insert_values([(1, 10), (2, 20)])  # engine-side: already upserts

    lake = LakehouseSQL(spark, str(tmp_path / "lake_f"))
    lake.sql(
        f"CALL polaris.system.register_table(table => 'ext.inv', "
        f"metadata_file => '{t.path}')"
    )
    lake.sql("INSERT INTO ext.inv VALUES (2, 25), (3, 30)")
    got = _rows(lake.sql("SELECT sku, qty FROM ext.inv"))
    assert got == [(1, 10), (2, 25), (3, 30)]


def test_upsert_foreign_identity_partitioned(spark, tmp_path):
    """Identity-partitioned foreign upsert: the data manifest carries the
    spec's typed partition values, the equality delete kills a key that
    MOVED partitions, and readers see latest-per-key."""
    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        upsert_iceberg_table,
    )

    wh = Warehouse(spark, str(tmp_path / "wh_up"))
    t = wh.create_table("db", "pups", "id int, lang string, v string", partition_by="lang")
    t.set_identifier_fields("id")
    t.insert_values([(1, "en", "a"), (2, "fr", "b")])

    # key 2 moves fr -> en; key 3 is new in de
    batch = spark.createDataFrame(
        [(2, "en", "B2"), (3, "de", "c")], "id int, lang string, v string"
    )
    new_path = upsert_iceberg_table(spark, t.path, batch)
    got = read_iceberg_table(spark, t.path)
    assert _rows(got.select("id", "lang", "v")) == [
        (1, "en", "a"),
        (2, "en", "B2"),
        (3, "de", "c"),
    ]
    # the data manifest's entries carry typed partition values under the
    # spec's own entry schema
    md = json.loads(open(new_path).read())
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"])
    _s, _m, mans = avro_io.read_container(snap["manifest-list"])
    data_man = next(
        m for m in mans if "upsert" in m["manifest_path"] and m["manifest_path"].endswith("-data.avro")
    )
    _s2, _m2, entries = avro_io.read_container(data_man["manifest_path"])
    spec_field = md["partition-specs"][0]["fields"][0]["name"]
    parts = {e["data_file"]["partition"][spec_field] for e in entries}
    assert parts == {"en", "de"}
    # the eq-delete manifest stays partition-empty (applies table-wide)
    eq_man = next(m for m in mans if "eqdeletes" in m["manifest_path"])
    _s3, _m3, eq_entries = avro_io.read_container(eq_man["manifest_path"])
    assert eq_entries[0]["data_file"]["partition"] == {}


def test_rest_arbitrated_foreign_upsert(spark, tmp_path):
    """Multi-writer upsert: update_hint=False + commitTable CAS — the
    catalog arbitrates the pointer swap; the committed location serves
    latest-per-key."""
    from minio_iceberg_polaris_lakehouse_spark.rest_catalog import (
        RestCatalogClient,
        make_server,
    )
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        upsert_iceberg_table,
    )

    srv, port = make_server(str(tmp_path), "cid", "sec")
    try:
        cli = RestCatalogClient(f"http://127.0.0.1:{port}", "cid", "sec")
        cli.create_catalog("cat", str(tmp_path / "cat"))
        cli.create_namespace("cat", "db")
        cli.create_table("cat", "db", "t", "id int, v string")
        wh = Warehouse(spark, str(tmp_path / "cat"))
        t = wh.table("db", "t")
        t.set_identifier_fields("id")
        t.insert_values([(1, "a"), (2, "b")])
        cli.commit_with_retry(
            "cat", "db", "t", lambda cur: resolve_metadata_path(t.path)
        )

        def stage(cur):
            return upsert_iceberg_table(
                spark,
                cur["metadata-location"],
                spark.createDataFrame([(2, "B2"), (3, "c")], "id int, v string"),
                update_hint=False,
            )

        cli.commit_with_retry("cat", "db", "t", stage)
        loc = cli.load_table("cat", "db", "t")["metadata-location"]
        assert _rows(read_iceberg_table(spark, loc)) == [(1, "a"), (2, "B2"), (3, "c")]
    finally:
        srv.shutdown()
