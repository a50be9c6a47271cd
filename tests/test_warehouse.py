"""Lifecycle tests for the warehouse table format — encodes the
reference's success criteria (SETUP_GUIDE_WIN.md:453-464: namespaces,
tables, INSERT, SELECT, persistence, time travel, schema evolution) plus
the golden Hello/World and users/orders fixtures."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse, WarehouseError


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def test_namespace_lifecycle(wh):
    wh.create_namespace("my_warehouse")
    assert "my_warehouse" in wh.list_namespaces()
    wh.create_table("my_warehouse", "t1", "id int, name string")
    assert wh.list_tables("my_warehouse") == ["t1"]
    with pytest.raises(WarehouseError):
        wh.drop_namespace("my_warehouse")
    wh.drop_namespace("my_warehouse", cascade=True)
    assert "my_warehouse" not in wh.list_namespaces()


def test_hello_world_roundtrip(wh):
    # reference golden: getting_started.ipynb:87-160
    t = wh.create_table("test_db", "test_table", "id int, name string")
    t.insert_values([(1, "Hello"), (2, "World")])
    rows = sorted(tuple(r) for r in t.read().collect())
    assert rows == [(1, "Hello"), (2, "World")]
    assert t.read().count() == 2
    props = t.properties()
    assert props["format-version"] == "2"
    assert props["write.parquet.compression-codec"] == "zstd"
    assert props["current-snapshot-id"] == "1"


def test_duplicate_append_semantics(wh):
    # INSERT is append-only; re-running duplicates (SETUP_GUIDE_WIN.md:362-371)
    t = wh.create_table("db", "dup", "id int, name string")
    t.insert_values([(1, "Hello"), (2, "World")])
    t.insert_values([(1, "Hello"), (2, "World")])
    assert t.read().count() == 4
    assert t.read().select("id").distinct().count() == 2


def test_snapshots_history_time_travel(wh, spark):
    t = wh.create_table("db", "tt", "id int, v string")
    v1 = t.insert_values([(1, "a")])
    time.sleep(0.01)
    mid_ms = int(time.time() * 1000)
    time.sleep(0.01)
    v2 = t.insert_values([(2, "b")])
    assert (v1, v2) == (1, 2)

    hist = t.history().collect()
    assert [r.snapshot_id for r in hist] == [1, 2]
    assert hist[0].parent_id is None and hist[1].parent_id == 1

    snaps = {r.snapshot_id: r for r in t.snapshots().collect()}
    assert snaps[1].operation == "append" and snaps[2].operation == "append"
    assert snaps[2].summary["added-records"] == "1"

    # VERSION AS OF
    assert t.read(version=1).count() == 1
    assert t.read(version=2).count() == 2
    # TIMESTAMP AS OF
    assert t.read(as_of_ms=mid_ms).count() == 1
    # snapshot isolation: current read unaffected by old version handles
    assert t.read().count() == 2


def test_schema_evolution_null_backfill(wh):
    # ADD COLUMN without rewriting files (README.md:132-133)
    t = wh.create_table("db", "evo", "id int, name string")
    t.insert_values([(1, "x")])
    t.add_column("email", "string")
    t.insert_values([(2, "y", "y@example.com")])
    rows = {r.id: r.email for r in t.read().collect()}
    assert rows == {1: None, 2: "y@example.com"}
    # time travel projects the SNAPSHOT's schema (Iceberg semantics):
    # snapshot 1 predates the ADD COLUMN, so no email column there
    assert t.read(version=1).columns == ["id", "name"]
    assert t.read(version=2).columns == ["id", "name", "email"]
    t.rename_column("email", "contact")
    assert [c for c, _ in t.describe()] == ["id", "name", "contact"]
    # values written under the OLD name survive the rename (files are not
    # rewritten; the read maps old physical names through the rename chain)
    vals = {r.id: r.contact for r in t.read().collect()}
    assert vals == {1: None, 2: "y@example.com"}
    # chained rename still resolves the original physical name
    t.rename_column("contact", "reach")
    vals2 = {r.id: r.reach for r in t.read().collect()}
    assert vals2 == {1: None, 2: "y@example.com"}
    # time travel to the pre-rename snapshot shows the era's name AND value
    old_read = t.read(version=2)
    assert "email" in old_read.columns
    assert {r.id: r.email for r in old_read.collect()}[2] == "y@example.com"
    # renaming the current partition source is refused (spec keyed by name)
    tp = wh.create_table("db", "evo_part", "id int, d date", partition_by="d")
    with pytest.raises(WarehouseError):
        tp.rename_column("d", "dt")


def test_time_travel_schema_after_drop_column(wh):
    # ADVICE r1: after drop_column, time travel to a pre-drop snapshot must
    # still show the dropped column (snapshot schema, not current schema)
    t = wh.create_table("db", "evodrop", "id int, name string, extra string")
    t.insert_values([(1, "x", "keepme")])
    t.drop_column("extra")
    t.insert_values([(2, "y")])
    assert t.read().columns == ["id", "name"]
    old = t.read(version=1)
    assert old.columns == ["id", "name", "extra"]
    assert old.collect()[0].extra == "keepme"


def test_overwrite_delete_merge(wh, spark):
    t = wh.create_table("db", "dml", "id int, amount double")
    t.insert_values([(1, 10.0), (2, 20.0), (3, 30.0)])
    t.delete_where("id = 2")
    assert sorted(r.id for r in t.read().collect()) == [1, 3]

    src = spark.createDataFrame([(1, 11.0), (9, 90.0)], "id int, amount double")
    t.merge_into(src, on="id")
    got = {r.id: r.amount for r in t.read().collect()}
    assert got == {1: 11.0, 3: 30.0, 9: 90.0}

    t.overwrite(spark.createDataFrame([(42, 1.0)], "id int, amount double"))
    assert [tuple(r) for r in t.read().collect()] == [(42, 1.0)]
    ops = [r.operation for r in t.snapshots().collect()]
    assert ops == ["append", "delete", "merge", "overwrite"]
    # time travel across DML: pre-delete snapshot still has id=2
    assert sorted(r.id for r in t.read(version=1).collect()) == [1, 2, 3]


def test_partitioned_table_hidden_pruning(wh, spark):
    # PARTITIONED BY day(ts) — filter on the raw column (README.md:126-127)
    t = wh.create_table(
        "db", "part", "id int, created_at timestamp", partition_by="created_at", transform="day"
    )
    df = spark.createDataFrame(
        [(1, "2024-11-25 10:00:00"), (2, "2024-11-26 11:00:00")], "id int, created_at string"
    ).select("id", F.col("created_at").cast("timestamp"))
    t.append(df)
    got = t.scan(eq={"created_at": "2024-11-25 10:00:00"}).collect()
    assert [r.id for r in got] == [1]
    # both days present without filter
    assert t.read().count() == 2


def test_compaction_and_expire(wh, spark):
    t = wh.create_table("db", "cmp", "id bigint")
    for i in range(4):
        t.append(spark.range(i * 10, (i + 1) * 10).repartition(4))
    files_before = t.data_file_count()
    assert files_before >= 8
    t.compact(target_partitions=1)
    assert t.read().count() == 40
    assert t.data_file_count() < files_before
    # expire old snapshots, GC unreferenced data dirs, current read intact
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 1
    assert t.read().count() == 40
    assert len(t.history().collect()) == 1


def test_pandas_export(wh):
    t = wh.create_table("db", "pd", "id int, name string")
    t.insert_values([(1, "a"), (2, "b")])
    pdf = t.to_pandas()
    assert len(pdf) == 2 and list(pdf.columns) == ["id", "name"]


def test_users_orders_fixture_join(wh, spark):
    # reference fixture: iceberg_queries.ipynb:93-100,254-270 + join :291-299
    users = wh.create_table(
        "my_warehouse", "users", "id int, name string, email string, created_date date",
        partition_by="created_date",
    )
    users.insert_values(
        [
            (1, "Alice", "alice@example.com", __import__("datetime").date(2025, 1, 1)),
            (2, "Bob", "bob@example.com", __import__("datetime").date(2025, 1, 2)),
            (3, "Charlie", "charlie@example.com", __import__("datetime").date(2025, 1, 3)),
            (4, "Diana", "diana@example.com", __import__("datetime").date(2025, 1, 4)),
        ]
    )
    orders = wh.create_table(
        "my_warehouse", "orders", "order_id int, user_id int, amount double, order_date date",
        partition_by="order_date",
    )
    orders.insert_values(
        [
            (101, 1, 150.50, __import__("datetime").date(2025, 1, 10)),
            (102, 2, 200.00, __import__("datetime").date(2025, 1, 11)),
            (103, 1, 75.25, __import__("datetime").date(2025, 1, 12)),
            (104, 3, 300.00, __import__("datetime").date(2025, 1, 13)),
        ]
    )
    joined = (
        users.read()
        .alias("u")
        .join(orders.read().alias("o"), F.col("u.id") == F.col("o.user_id"))
        .orderBy("o.order_id")
        .select("u.name", "o.order_id", "o.amount")
        .collect()
    )
    assert [r.name for r in joined] == ["Alice", "Bob", "Alice", "Charlie"]
    assert joined[0].amount == 150.50


def test_drop_column_metadata_only(wh, spark):
    t = wh.create_table("db", "dropc", "id int, name string, extra string")
    t.insert_values([(1, "a", "x"), (2, "b", "y")])
    files_before = t.data_file_count()
    t.drop_column("extra")
    assert t.describe() == [("id", "int"), ("name", "string")]
    assert t.data_file_count() == files_before  # nothing rewritten
    rows = sorted(tuple(r) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b")]
    # new writes don't need the dropped column
    t.insert_values([(3, "c")])
    assert t.read().count() == 3
    with pytest.raises(WarehouseError):
        t.drop_column("nope")


def test_partition_spec_evolution_without_rewrite(wh, spark):
    # unpartitioned history, then evolve to day(ts): old dirs stay put,
    # new writes are laid out by day, scans stay correct across both
    t = wh.create_table("db", "evo", "id int, ts timestamp")
    old = spark.createDataFrame(
        [(1, "2024-11-25 10:00:00"), (2, "2024-11-26 11:00:00")], "id int, ts string"
    ).select("id", F.col("ts").cast("timestamp"))
    t.append(old)
    files_before = t.data_file_count()
    t.evolve_partition_spec("ts", "day")
    assert t.data_file_count() == files_before  # metadata-only
    new = spark.createDataFrame(
        [(3, "2024-11-25 12:00:00"), (4, "2024-11-27 09:00:00")], "id int, ts string"
    ).select("id", F.col("ts").cast("timestamp"))
    t.append(new)
    # rows from BOTH eras must survive a pruned scan on the raw column
    got = sorted(
        r.id for r in t.scan(between={"ts": ("2024-11-25 00:00:00", "2024-11-25 23:59:59")}).collect()
    )
    assert got == [1, 3]
    assert t.read().count() == 4
    # evolving to an unknown column or transform is rejected
    with pytest.raises(WarehouseError):
        t.evolve_partition_spec("missing", "day")
    # partition source cannot be dropped
    with pytest.raises(WarehouseError):
        t.drop_column("ts")


# ---------------------------------------------------------------------------
# Round-2 additions: optimistic concurrency, single-execution writes,
# Iceberg metadata columns.
# ---------------------------------------------------------------------------
def test_concurrent_appends_both_survive(wh, spark):
    """Two writers appending concurrently: appends are commutative, so BOTH
    must land (no lost update) — the round-1 lost-update bug made the
    second writer silently discard the first's snapshot."""
    import threading

    t = wh.create_table("db", "race", "id int, v string")
    t.insert_values([(0, "base")])
    errs: list[Exception] = []

    def writer(n):
        try:
            # fresh Table handle per thread: separate metadata reads, same files
            wh.table("db", "race").append(
                spark.createDataFrame([(n, f"w{n}")], "id int, v string")
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]
    # every append got its own snapshot, parents chain linearly
    snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert [s.snapshot_id for s in snaps] == [1, 2, 3, 4, 5]
    assert [s.parent_id for s in snaps] == [None, 1, 2, 3, 4]
    # meta's per-dir records survived the race too: the dir_specs merge
    # happens under the commit lock, so no writer's entry is lost; per-file
    # stats live in each dir's immutable .stats.json sidecar (written
    # lock-free with the data), so every live data dir has footer stats
    # and the Iceberg export lists every dir with a non-empty data_files
    # list
    from minio_iceberg_polaris_lakehouse_spark.warehouse import _load_dir_stats

    meta = t._meta()
    live_dirs = t._snaps()[-1]["manifest"]
    assert len(live_dirs) == 5
    for d in live_dirs:
        assert d in meta["dir_specs"], f"lost dir_specs entry for {d}"
        assert _load_dir_stats(t.path, d, meta), f"lost stats sidecar for {d}"
    import json as _json
    import os as _os

    mdir = _os.path.join(t.path, "metadata")
    hint = open(_os.path.join(mdir, "version-hint.text")).read().strip()
    doc = _json.load(open(_os.path.join(mdir, f"v{hint}.metadata.json")))
    cur = [s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]][0]
    from minio_iceberg_polaris_lakehouse_spark import avro_io

    _s, _m, manifests = avro_io.read_container(cur["manifest-list"])
    assert len(manifests) == 5
    for man in manifests:
        _s2, _m2, entries = avro_io.read_container(man["manifest_path"])
        assert entries, f"export lists no data files for {man['manifest_path']}"


def test_read_modify_write_conflict_detected(wh, spark):
    """delete/merge read a snapshot and replace the manifest; if another
    writer commits in between, committing would drop their rows — the
    engine must raise a retryable CommitConflictError instead."""
    from minio_iceberg_polaris_lakehouse_spark.warehouse import CommitConflictError

    t = wh.create_table("db", "conflict", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])

    parent = t.current_snapshot_id()
    remaining = t.read().filter("id != 2")
    p = t._write_data(remaining)
    # another writer lands before our commit
    t.insert_values([(3, "c")])
    with pytest.raises(CommitConflictError):
        t._commit_replace("delete", [p], {"predicate": "id = 2"}, parent)
    # the concurrent writer's row is intact; retrying the delete succeeds
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    t.delete_where("id = 2")
    assert sorted(r.id for r in t.read().collect()) == [1, 3]


def test_append_executes_input_plan_once(wh, spark):
    """The commit summary's added-records must come from written-file
    footers, not a second df.count() execution of the (possibly expensive)
    input lineage."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def tracked(x):
        calls.add(1)
        return x

    t = wh.create_table("db", "once", "id int")
    src = spark.range(10).select(tracked(F.col("id").cast("int")).alias("id"))
    t.append(src)
    assert calls.value == 10  # exactly one pass over 10 rows
    snaps = t.snapshots().collect()
    assert snaps[-1].summary["added-records"] == "10"


def test_metadata_columns(wh, spark):
    """Iceberg metadata columns on scans (reference
    getting_started.ipynb:128-132): _spec_id, _partition, _file, _pos,
    _deleted."""
    t = wh.create_table(
        "db", "metacols", "id int, ts timestamp", partition_by="ts", transform="day"
    )
    df = spark.createDataFrame(
        [(1, "2024-11-25 10:00:00"), (2, "2024-11-26 11:00:00")], "id int, ts string"
    ).select("id", F.to_timestamp("ts").alias("ts"))
    t.append(df)
    got = t.read(metadata_columns=True)
    assert got.columns == ["id", "ts", "_file", "_pos", "_spec_id", "_partition", "_deleted"]
    rows = {r.id: r for r in got.collect()}
    assert rows[1]._file.endswith(".parquet") and rows[1]._file != rows[2]._file
    assert rows[1]._pos == 0 and rows[2]._pos == 0  # first row of each file
    assert rows[1]._spec_id == 0 and not rows[1]._deleted
    assert str(rows[1]._partition["_p_day_ts"]) == "2024-11-25"

    # across a copy-on-write delete: survivors rewritten, _deleted stays false
    t.delete_where("id = 1")
    after = t.read(metadata_columns=True).collect()
    assert [r.id for r in after] == [2]
    assert after[0]._deleted is False

    # spec evolution bumps _spec_id for new writes
    t.evolve_partition_spec("ts", "month")
    t.append(df.filter("id = 1"))
    by_id = {r.id: r._spec_id for r in t.read(metadata_columns=True).collect()}
    assert by_id[1] == 1 and by_id[2] == 0


def _process_appender(root, ns, name, writer_id, n_commits):
    """Runs in a separate PROCESS: drive the raw commit protocol (no Spark
    needed — _commit_add is pure file IO) against the shared table dir."""
    from types import SimpleNamespace

    from minio_iceberg_polaris_lakehouse_spark.warehouse import Table

    wh = SimpleNamespace(spark=None, root=root)
    t = Table(wh, ns, name)
    for i in range(n_commits):
        t._commit_add("append", [f"dir-w{writer_id}-{i}"], {"writer": writer_id, "i": i})


def test_cross_process_commit_protocol_no_lost_updates(wh):
    """The commit lock is an O_CREAT|O_EXCL FILE, so its guarantees must
    hold across PROCESSES, not just threads: N processes x M commits each
    must yield exactly N*M snapshots in one linear parent chain with every
    data dir present exactly once."""
    import multiprocessing as mp

    t = wh.create_table("db", "procrace", "id int")
    ctx = mp.get_context("spawn")
    procs = [
        ctx.Process(target=_process_appender, args=(wh.root, "db", "procrace", w, 5))
        for w in range(4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    snaps = t._snaps()
    assert len(snaps) == 20
    assert [s["snapshot_id"] for s in snaps] == list(range(1, 21))
    assert [s["parent_id"] for s in snaps] == [None] + list(range(1, 20))
    # the latest manifest accumulated every appended dir exactly once
    manifest = snaps[-1]["manifest"]
    assert sorted(manifest) == sorted(
        f"dir-w{w}-{i}" for w in range(4) for i in range(5)
    )


def test_metadata_read_survives_dropped_old_partition_source(wh, spark):
    """A dir written under an identity spec whose source column was LATER
    dropped (drop_column only protects the CURRENT spec's source) must not
    break metadata-column reads — the old spec's _partition field shows as
    null instead of raising on the schema lookup."""
    t = wh.create_table("db", "droppedsrc", "id int, region string", partition_by="region")
    t.insert_values([(1, "eu"), (2, "us")])
    t.evolve_partition_spec(None)  # unpartitioned going forward
    t.append(spark.createDataFrame([(3, "ap")], "id int, region string"))
    t.drop_column("region")  # legal now: region is no longer the current source
    got = t.read(metadata_columns=True)
    rows = {r.id: r for r in got.collect()}
    assert set(rows) == {1, 2, 3}
    # old-era rows keep a _partition struct slot for the dead spec, valued null
    assert rows[3]._partition["_p_identity_region"] is None


def test_export_default_spec_id_after_evolving_back(wh, spark, tmp_path):
    """Spec evolution A->B->A dedups spec_history, so the CURRENT spec sits
    at an earlier history index — default-spec-id must follow it (and match
    the spec_id stamped on new data files), not point at the last entry."""
    import json as _json
    import os as _os

    t = wh.create_table("db", "abba", "id int, d date", partition_by="d")
    t.insert_values([(1, datetime_date(2024, 1, 1))])
    t.evolve_partition_spec("id", "bucket16")  # B
    t.evolve_partition_spec("d", "identity")  # back to A
    t.insert_values([(2, datetime_date(2024, 1, 2))])
    meta = t._meta()
    assert t._current_spec_id(meta) == 0
    mdir = _os.path.join(t.path, "metadata")
    hint = open(_os.path.join(mdir, "version-hint.text")).read().strip()
    doc = _json.load(open(_os.path.join(mdir, f"v{hint}.metadata.json")))
    assert doc["default-spec-id"] == 0
    # and the latest-written dir carries the same spec id
    last_dir = t._snaps()[-1]["manifest"][-1]
    assert meta["dir_specs"][last_dir]["spec_id"] == 0


def datetime_date(y, m, d):
    import datetime

    return datetime.date(y, m, d)


def test_merge_on_read_positional_deletes(wh, spark):
    """Iceberg v2 merge-on-read: DELETE writes positional tombstones, data
    dirs stay untouched, reads apply the deletes, metadata scans surface
    the rows with _deleted=true, and time travel on either side of the
    delete stays correct."""
    t = wh.create_table(
        "db", "mor", "id int, v string", properties={"write.delete.mode": "merge-on-read"}
    )
    t.insert_values([(1, "a"), (2, "b"), (3, "c"), (4, "d")])
    files_before = t.data_file_count()

    t.delete_where("id IN (2, 4)")
    # data untouched, only tombstones added
    assert t.data_file_count() == files_before
    assert sorted(r.id for r in t.read().collect()) == [1, 3]
    # scan() (pruned path) applies the deletes too
    assert sorted(r.id for r in t.scan().collect()) == [1, 3]

    # metadata scan: tombstoned rows visible, flagged _deleted=true
    md = {r.id: r._deleted for r in t.read(metadata_columns=True).collect()}
    assert md == {1: False, 2: True, 3: False, 4: True}

    # snapshots table records the delete-file commit
    snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert snaps[-1].operation == "delete"
    assert snaps[-1].summary["added-delete-files"] == "1"
    assert snaps[-1].summary["added-position-deletes"] == "2"

    # time travel: before the delete all rows live; after, deletes apply
    assert sorted(r.id for r in t.read(version=1).collect()) == [1, 2, 3, 4]
    assert sorted(r.id for r in t.read(version=2).collect()) == [1, 3]

    # appends inherit the tombstones; a second MOR delete stacks
    t.append(spark.createDataFrame([(5, "e")], "id int, v string"))
    assert sorted(r.id for r in t.read().collect()) == [1, 3, 5]
    t.delete_where("id = 1")
    assert sorted(r.id for r in t.read().collect()) == [3, 5]
    md2 = {r.id: r._deleted for r in t.read(metadata_columns=True).collect()}
    assert md2 == {1: True, 2: True, 3: False, 4: True, 5: False}

    # copy-on-write compaction collapses the tombstones into rewritten data
    t.compact(target_partitions=1)
    assert sorted(r.id for r in t.read().collect()) == [3, 5]
    assert all(not r._deleted for r in t.read(metadata_columns=True).collect())


def test_mor_delete_export_and_expiry(wh, spark):
    """Delete files appear in the Avro export as POSITION_DELETES
    manifests (content=1), and snapshot expiry garbage-collects
    unreferenced delete dirs."""
    import json as _json
    import os as _os

    from minio_iceberg_polaris_lakehouse_spark import avro_io

    t = wh.create_table("db", "mor_exp", "id int")
    t.insert_values([(i,) for i in range(10)])
    t.delete_where("id >= 8", mode="merge-on-read")
    assert sorted(r.id for r in t.read().collect()) == list(range(8))

    mdir = _os.path.join(t.path, "metadata")
    hint = open(_os.path.join(mdir, "version-hint.text")).read().strip()
    doc = _json.load(open(_os.path.join(mdir, f"v{hint}.metadata.json")))
    cur = [s for s in doc["snapshots"] if s["snapshot-id"] == doc["current-snapshot-id"]][0]
    _s, _m, manifests = avro_io.read_container(cur["manifest-list"])
    by_content = {}
    for man in manifests:
        by_content.setdefault(man["content"], []).append(man)
    assert 0 in by_content and 1 in by_content
    dman = by_content[1][0]
    assert dman["added_rows_count"] == 2  # two tombstoned positions
    _s2, mmeta, entries = avro_io.read_container(dman["manifest_path"])
    assert mmeta["content"] == b"deletes"
    assert all(e["data_file"]["content"] == 1 for e in entries)

    # compact (collapses deletes), then expire: the delete dir is GC'd
    t.compact()
    delete_dirs = [d for d in _os.listdir(t.path) if d.startswith("delete-")]
    assert delete_dirs
    t.expire_snapshots(keep_last=1)
    assert not [d for d in _os.listdir(t.path) if d.startswith("delete-")]
    assert sorted(r.id for r in t.read().collect()) == list(range(8))


def test_merge_on_read_update(wh, spark):
    """MOR UPDATE: matched rows tombstoned AND their rewritten versions
    appended in one snapshot — O(matches) written, not O(table)."""
    t = wh.create_table(
        "db", "mor_upd", "id int, v string, amount double",
        properties={"write.update.mode": "merge-on-read"},
    )
    t.insert_values([(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)])
    files_before = t.data_file_count()
    t.update_where({"amount": "amount * 2"}, "id >= 2")
    got = {r.id: r.amount for r in t.read().collect()}
    assert got == {1: 10.0, 2: 40.0, 3: 60.0}
    # the original data files were not rewritten, only a small delta added
    snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert snaps[-1].operation == "update"
    assert snaps[-1].summary["added-position-deletes"] == "2"
    assert snaps[-1].summary["added-records"] == "2"
    assert t.data_file_count() > files_before  # delta dir appended
    # metadata scan: old versions visible as deleted, new versions live
    md = [(r.id, r.amount, r._deleted) for r in t.read(metadata_columns=True).collect()]
    assert (2, 20.0, True) in md and (2, 40.0, False) in md
    # time travel to pre-update
    assert {r.id: r.amount for r in t.read(version=1).collect()} == {1: 10.0, 2: 20.0, 3: 30.0}


def test_branches_and_tags(wh, spark):
    """Named refs: time travel by name, refs metadata table, expiry
    protection for pinned snapshots."""
    t = wh.create_table("db", "reft", "id int")
    t.insert_values([(1,)])
    t.insert_values([(2,)])
    t.create_ref("audit", "tag", snapshot_id=1)
    t.insert_values([(3,)])
    assert sorted(r.id for r in t.read(version="audit").collect()) == [1]
    refs = {r.name: (r.type, r.snapshot_id) for r in t.refs().collect()}
    assert refs["main"] == ("BRANCH", 3)
    assert refs["audit"] == ("TAG", 1)
    # expiry keeps the pinned snapshot (and its data) alive
    t.expire_snapshots(keep_last=1)
    assert sorted(r.id for r in t.read(version="audit").collect()) == [1]
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    snap_ids = [s["snapshot_id"] for s in t._snaps()]
    assert snap_ids == [1, 3]  # tail + pinned survive, middle expired
    t.drop_ref("audit")
    with pytest.raises(WarehouseError):
        t.read(version="audit")


def test_incremental_append_scan(wh, spark):
    """Incremental scan returns exactly the rows appended in the snapshot
    interval, applies MOR tombstones, and refuses replacing snapshots."""
    t = wh.create_table("db", "inc", "id int")
    t.insert_values([(1,), (2,)])  # v1
    t.insert_values([(3,)])  # v2
    t.insert_values([(4,), (5,)])  # v3
    assert sorted(r.id for r in t.incremental_scan(1).collect()) == [3, 4, 5]
    assert sorted(r.id for r in t.incremental_scan(1, 2).collect()) == [3]
    assert t.incremental_scan(3).collect() == []
    # MOR delete in the interval: tombstoned appended row excluded, the
    # delete snapshot itself is consumable (pure metadata, no rewrite)
    t.delete_where("id = 4", mode="merge-on-read")  # v4
    assert sorted(r.id for r in t.incremental_scan(1).collect()) == [3, 5]
    # a replacing snapshot (compaction) breaks append-only consumption
    t.compact()  # v5
    with pytest.raises(WarehouseError, match="replacing"):
        t.incremental_scan(1)
    # but consuming from AFTER the rewrite works again
    t.insert_values([(6,)])  # v6
    assert sorted(r.id for r in t.incremental_scan(5).collect()) == [6]


@pytest.mark.parametrize("version", [None, "v1"], ids=["current", "ref"])
def test_read_parses_table_meta_once(wh, monkeypatch, version):
    """`Table.read` reads `_meta.json` once and passes the document to
    ref resolution, the published-metadata check and the type casts."""
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Table

    t = wh.create_table("db", "meta_once", "id int, v tinyint")
    t.insert_values([(1, 2)])
    t.create_ref("v1")
    t.read(version=version)  # publishes the metadata once, outside the count
    reads = []
    orig = Table._meta
    monkeypatch.setattr(Table, "_meta", lambda self: reads.append(1) or orig(self))
    df = t.read(version=version)
    assert len(reads) == 1
    assert [tuple(r) for r in df.collect()] == [(1, 2)]
    assert df.schema["v"].dataType.simpleString() == "tinyint"
