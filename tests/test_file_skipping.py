"""Scan-time file skipping from manifest column bounds + write clustering.

The reference leans on Iceberg's manifest statistics for exactly this
("listing files, computing statistics ... fast even with billions of
files", reference README.md:138-139; file-skipping path README.md:178).
Here each commit publishes every data file's column [min,max] from its
parquet footer (metadata-only) in the Iceberg manifest entry, and
Table.scan() plans through the one scan planner, read_iceberg_table over
the table's published metadata: files whose bounds provably exclude the
predicate are dropped before Spark plans a single split. `ALTER TABLE
... WRITE ORDERED BY` range-clusters writes so those bounds are tight. At
100 TB this is the difference between reading a table and reading the
handful of files a selective predicate touches.
"""

from __future__ import annotations

import datetime

import pytest

from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse, WarehouseError


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _files_read(df) -> int:
    return len(df.inputFiles())


def test_bounds_recorded_in_files_table(wh):
    t = wh.create_table("db", "b1", "id int, v string")
    t.insert_values([(1, "a"), (2, "b"), (3, "c")])
    files = [f for f in t.files().collect() if f.record_count > 0]
    assert files
    assert all("id" in f.lower_bounds and "v" in f.lower_bounds for f in files)
    assert min(int(f.lower_bounds["id"]) for f in files) == 1
    assert max(int(f.upper_bounds["id"]) for f in files) == 3
    assert min(f.lower_bounds["v"] for f in files) == "a"
    assert max(f.upper_bounds["v"] for f in files) == "c"


def test_eq_scan_skips_nonmatching_commit_dirs(wh):
    t = wh.create_table("db", "sk1", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])   # dir 1: id in [1,2]
    t.insert_values([(10, "x"), (20, "y")])  # dir 2: id in [10,20]
    total = _files_read(t.read())
    out = t.scan(eq={"id": 15})
    assert [tuple(r) for r in out.collect()] == []
    assert _files_read(out) < total  # dir 1 pruned without being listed
    hit = t.scan(eq={"id": 10})
    assert [tuple(r) for r in hit.collect()] == [(10, "x")]


def test_between_scan_skips_files(wh, spark):
    t = wh.create_table("db", "sk2", "id bigint, payload string")
    t.set_write_order("id")
    # AQE would coalesce this tiny shuffle to one file; at real scale the
    # range shuffle yields many target-sized files. Pin it off to exercise
    # the multi-file clustered layout.
    coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.append(t.spark.range(0, 10000).selectExpr("id", "concat('p', id) as payload"))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
    total = _files_read(t.read())
    assert total > 1  # range-clustered write produced multiple files
    out = t.scan(between={"id": (100, 120)})
    assert out.count() == 21
    assert _files_read(out) < total


def test_write_order_survives_and_validates(wh):
    t = wh.create_table("db", "sk3", "a int, b string")
    with pytest.raises(WarehouseError):
        t.set_write_order("nope")
    t.set_write_order("a")
    t.insert_values([(5, "e"), (1, "a"), (3, "c")])
    assert sorted(r.a for r in t.read().collect()) == [1, 3, 5]
    t.set_write_order()  # clears
    t.insert_values([(2, "b")])
    assert t.read().count() == 4


def test_date_and_timestamp_bounds_skip(wh):
    t = wh.create_table("db", "sk4", "d date, ts timestamp, v int")
    jan = [(datetime.date(2024, 1, i), datetime.datetime(2024, 1, i, 12), i) for i in (1, 2, 3)]
    jul = [(datetime.date(2024, 7, i), datetime.datetime(2024, 7, i, 12), i) for i in (1, 2, 3)]
    t.insert_values(jan)
    t.insert_values(jul)
    total = _files_read(t.read())
    out = t.scan(between={"d": ("2024-06-01", "2024-08-01")})
    assert sorted(r.v for r in out.collect()) == [1, 2, 3]
    assert _files_read(out) < total
    out2 = t.scan(between={"ts": ("2024-01-01", "2024-02-01")})
    assert sorted(r.v for r in out2.collect()) == [1, 2, 3]
    assert _files_read(out2) < total


def test_skipping_disabled_under_renames_stays_correct(wh):
    t = wh.create_table("db", "sk5", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    t.insert_values([(10, "x")])
    t.rename_column("v", "w")
    out = t.scan(eq={"id": 10})
    assert [tuple(r) for r in out.collect()] == [(10, "x")]  # values survive


def test_skip_correct_with_nulls_in_column(wh):
    # parquet min/max exclude nulls; eq/between drop nulls too — a file of
    # (null, 5) bounds [5,5] may be skipped for id=1 even though it holds
    # a null row. Verify no wrong rows AND nulls stay visible to read().
    t = wh.create_table("db", "sk6", "id int, v string")
    t.insert_values([(None, "n"), (5, "e")])
    t.insert_values([(1, "a")])
    assert [tuple(r) for r in t.scan(eq={"id": 1}).collect()] == [(1, "a")]
    assert t.read().count() == 3


def test_mor_delete_composes_with_file_skipping(wh):
    t = wh.create_table("db", "sk7", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    t.insert_values([(10, "x"), (11, "y")])
    t.delete_where("id = 10", mode="merge-on-read")
    out = t.scan(between={"id": (9, 12)})
    assert [tuple(r) for r in out.collect()] == [(11, "y")]


def test_sql_write_ordered_by(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    fe = LakehouseSQL(spark, str(tmp_path / "wh"))
    fe.sql("CREATE NAMESPACE IF NOT EXISTS db")
    fe.sql("CREATE TABLE db.so (id INT, v STRING) USING iceberg")
    fe.sql("ALTER TABLE db.so WRITE ORDERED BY (id)")
    fe.sql("INSERT INTO db.so VALUES (3, 'c'), (1, 'a'), (2, 'b')")
    assert fe.sql("SELECT count(*) AS n FROM db.so").collect()[0].n == 3
    tab = fe.wh.table("db", "so")
    assert tab._meta().get("sort_order") == ["id"]


def test_stats_live_in_sidecars_not_central_meta(wh):
    # _meta.json must stay O(dirs): per-file stats live in each commit
    # dir's immutable .stats.json sidecar, written with the data (no
    # lock), so a 100 TB table's metadata file doesn't grow with file
    # count and readers parse only the dirs they scan.
    import json as _json
    import os as _os

    t = wh.create_table("db", "sc1", "id int, v string")
    t.insert_values([(1, "a"), (2, "b")])
    meta = _json.load(open(_os.path.join(t.path, "_meta.json")))
    assert "dir_stats" not in meta
    snap_dirs = t._resolve()["manifest"]
    for d in snap_dirs:
        side = _os.path.join(t.path, d, ".stats.json")
        assert _os.path.isfile(side)
        recs = _json.load(open(side))["files"]
        assert sum(r["rows"] for r in recs) == 2
    # consumers still see the stats: .files table and bounds pruning
    assert t.files().count() >= 1
    assert [tuple(r) for r in t.scan(eq={"id": 2}).collect()] == [(2, "b")]


def test_legacy_central_dir_stats_still_readable(wh):
    # tables written before sidecars keep working via the meta fallback
    import json as _json
    import os as _os

    t = wh.create_table("db", "sc2", "id int, v string")
    t.insert_values([(7, "g")])
    d = t._resolve()["manifest"][0]
    side = _os.path.join(t.path, d, ".stats.json")
    stats = _json.load(open(side))["files"]
    _os.remove(side)  # simulate a pre-sidecar table
    from minio_iceberg_polaris_lakehouse_spark import warehouse as W

    W._STATS_CACHE.clear()
    meta = _json.load(open(_os.path.join(t.path, "_meta.json")))
    meta["dir_stats"] = {d: stats}
    W._atomic_write_json(_os.path.join(t.path, "_meta.json"), meta)
    assert t.files().count() == len(stats)
    assert [tuple(r) for r in t.scan(eq={"id": 7}).collect()] == [(7, "g")]


def test_compact_rewrites_under_sort_order(wh, spark):
    # Iceberg's rewrite_data_files(strategy => 'sort'): compaction goes
    # through the same write path as appends, so a table-level WRITE
    # ORDERED BY re-clusters existing unordered data into tight-bounds
    # files a selective scan can skip.
    t = wh.create_table("db", "cso", "id bigint, v string")
    coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # interleaved ranges: every pre-compaction file spans ~the whole domain
        t.append(
            t.spark.range(0, 4000).selectExpr(
                "pmod(id * 2654435761, 4000) as id", "concat('v', id) as v"
            )
        )
        t.set_write_order("id")
        t.compact(target_partitions=8)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
    total = _files_read(t.read())
    assert total > 1
    out = t.scan(between={"id": (10, 30)})
    assert out.count() == t.read().filter("id between 10 and 30").count()
    assert _files_read(out) < total


# ---- manifest skipping through plain SQL (scan hints) ----------------------


def test_sql_select_prunes_files_on_clustered_table(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    fe = LakehouseSQL(spark, str(tmp_path / "wh"))
    fe.sql("CREATE NAMESPACE IF NOT EXISTS db")
    fe.sql("CREATE TABLE db.sq (id INT, v STRING) USING iceberg")
    fe.sql("INSERT INTO db.sq VALUES (1, 'a'), (2, 'b')")
    fe.sql("INSERT INTO db.sq VALUES (100, 'x'), (200, 'y')")
    total = len(fe.table("db.sq").inputFiles())
    out = fe.sql("SELECT id, v FROM db.sq WHERE id BETWEEN 90 AND 150 AND v = 'x'")
    assert [tuple(r) for r in out.collect()] == [(100, "x")]
    assert len(out.inputFiles()) < total  # first commit's files never planned


def test_sql_scan_hints_shape_gate(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    fe = LakehouseSQL(spark, str(tmp_path / "wh"))
    fe.sql("CREATE NAMESPACE IF NOT EXISTS db")
    fe.sql("CREATE TABLE db.g (id INT, v STRING) USING iceberg")
    fe.sql("CREATE TABLE db.h (id INT, w STRING) USING iceberg")
    fe.sql("INSERT INTO db.g VALUES (1, 'a')")
    # hints fire for the sound single-table shapes
    assert fe._scan_hints("SELECT v FROM db.g WHERE id = 1") == {
        ("db", "g"): {"eq": {"id": 1}, "between": None}
    }
    assert fe._scan_hints("SELECT v FROM db.g t WHERE t.id BETWEEN 1 AND 5") == {
        ("db", "g"): {"eq": None, "between": {"id": (1, 5)}}
    }
    assert fe._scan_hints(
        "SELECT v FROM db.g WHERE id = 1 AND v = 'x''y' ORDER BY v"
    ) == {("db", "g"): {"eq": {"id": 1, "v": "x'y"}, "between": None}}
    # and NEVER for shapes where the conjunct guarantee doesn't hold
    assert fe._scan_hints("SELECT v FROM db.g WHERE id = 1 OR v = 'x'") is None
    assert fe._scan_hints("SELECT v FROM db.g WHERE (id = 1)") is None
    assert (
        fe._scan_hints("SELECT * FROM db.g JOIN db.h ON db.g.id = db.h.id WHERE db.g.id = 1")
        is None
    )
    assert (
        fe._scan_hints("SELECT v FROM db.g WHERE id IN (SELECT id FROM db.h)") is None
    )
    assert (
        fe._scan_hints("SELECT (SELECT MAX(id) FROM db.h) FROM db.g WHERE id = 1") is None
    )
    # unknown column conjuncts are ignored, known ones still hint
    assert fe._scan_hints("SELECT v FROM db.g WHERE id = 1 AND nope = 2") == {
        ("db", "g"): {"eq": {"id": 1}, "between": None}
    }


def test_sql_hinted_results_match_unhinted(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    fe = LakehouseSQL(spark, str(tmp_path / "wh"))
    fe.sql("CREATE NAMESPACE IF NOT EXISTS db")
    fe.sql("CREATE TABLE db.eqv (id INT, v STRING) USING iceberg")
    fe.sql("INSERT INTO db.eqv VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    fe.sql("INSERT INTO db.eqv VALUES (10, 'x'), (20, 'a')")
    stmts = [
        "SELECT id, v FROM db.eqv WHERE id = 10",
        "SELECT id, v FROM db.eqv WHERE v = 'a' AND id BETWEEN 1 AND 25 ORDER BY id",
        "SELECT count(*) AS n FROM db.eqv WHERE id BETWEEN 2 AND 19",
        "SELECT v FROM db.eqv WHERE id = 99",
    ]
    for stmt in stmts:
        got = sorted(map(tuple, fe.sql(stmt).collect()))
        want = sorted(map(tuple, spark.sql(fe._rewrite_query(stmt)).collect()))
        assert got == want, stmt


def test_sql_inequality_hints_prune(spark, tmp_path):
    # the reference's own `WHERE id > 2` shape (iceberg_queries.ipynb:171)
    # now prunes: strict ops relax to inclusive bounds for the view and
    # the statement re-applies the exact predicate on top
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    fe = LakehouseSQL(spark, str(tmp_path / "wh"))
    fe.sql("CREATE NAMESPACE IF NOT EXISTS db")
    fe.sql("CREATE TABLE db.iq (id INT, v STRING) USING iceberg")
    fe.sql("INSERT INTO db.iq VALUES (1, 'a'), (2, 'b')")
    fe.sql("INSERT INTO db.iq VALUES (100, 'x'), (200, 'y')")
    total = len(fe.table("db.iq").inputFiles())
    out = fe.sql("SELECT id, v FROM db.iq WHERE id > 50 ORDER BY id")
    assert [(r.id, r.v) for r in out.collect()] == [(100, "x"), (200, "y")]
    assert len(out.inputFiles()) < total
    # strictness preserved at the row level
    edge = fe.sql("SELECT id FROM db.iq WHERE id > 100")
    assert [r.id for r in edge.collect()] == [200]
    # conjunct ranges tighten: > and <= combine into one interval
    hint = fe._scan_hints("SELECT v FROM db.iq WHERE id > 50 AND id <= 150")
    assert hint == {("db", "iq"): {"eq": None, "between": {"id": (50, 150)}}}
    # open-ended Python-side scan API agrees
    tab = fe.wh.table("db", "iq")
    assert sorted(r.id for r in tab.scan(between={"id": (None, 99)}).collect()) == [1, 2]


def test_scan_never_serves_stale_published_metadata(wh, monkeypatch):
    """scan plans from the published Iceberg metadata. A commit whose
    export failed after `_snapshots.json` was written leaves that
    metadata one snapshot behind: scan re-exports (or raises), and never
    returns the previous snapshot's rows."""
    from minio_iceberg_polaris_lakehouse_spark import iceberg_export

    t = wh.create_table("db", "stale", "id int")
    t.insert_values([(1,)])
    real = iceberg_export.write_iceberg_metadata

    def failing_export(table):
        raise OSError("metadata store unavailable")

    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", failing_export)
    with pytest.raises(OSError):
        t.insert_values([(2,)])
    assert t.current_snapshot_id() == 2  # the commit itself is durable
    with pytest.raises(OSError):
        t.scan(eq={"id": 2}).collect()  # cannot publish: no stale answer
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", real)
    assert [tuple(r) for r in t.scan(eq={"id": 2}).collect()] == [(2,)]
    assert sorted(tuple(r) for r in t.scan(between={"id": (0, 9)}).collect()) == [(1,), (2,)]
    # the same for a metadata-only ALTER whose export failed
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", failing_export)
    with pytest.raises(OSError):
        t.add_column("w", "int")
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", real)
    assert [tuple(r) for r in t.scan(eq={"id": 2}).collect()] == [(2, None)]
    # and for a BRANCH commit whose export failed: main's head did not
    # move, but a branch read and merge-on-read DML on the branch plan
    # from the published refs, so they must see the staged snapshot
    t.create_ref("audit", "branch")
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", failing_export)
    with pytest.raises(OSError):
        t.insert_values([(3, 3)], branch="audit")
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", real)
    staged = t._resolve("audit")["snapshot_id"]
    assert sorted(tuple(r) for r in t.read(version="audit").collect()) == [
        (1, None), (2, None), (3, 3)
    ]
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", failing_export)
    with pytest.raises(OSError):
        t.insert_values([(4, 4)], branch="audit")
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", real)
    t.delete_where("id >= 3", mode="merge-on-read", branch="audit")
    assert sorted(tuple(r) for r in t.read(version="audit").collect()) == [(1, None), (2, None)]
    assert sorted(tuple(r) for r in t.read(version=staged).collect()) == [
        (1, None), (2, None), (3, 3)
    ]


def test_manifest_first_written_after_rename_keeps_values(wh, monkeypatch):
    """A commit whose export failed gets its manifest from the next
    export. When a RENAME COLUMN comes first, that manifest must still
    name the column its files were written with."""
    from minio_iceberg_polaris_lakehouse_spark import iceberg_export

    t = wh.create_table("db", "late", "id int, v string")
    t.insert_values([(1, "a")])
    real = iceberg_export.write_iceberg_metadata
    monkeypatch.setattr(
        iceberg_export, "write_iceberg_metadata", lambda table: (_ for _ in ()).throw(OSError())
    )
    with pytest.raises(OSError):
        t.insert_values([(2, "b")])
    monkeypatch.setattr(iceberg_export, "write_iceberg_metadata", real)
    t.rename_column("v", "w")
    got = sorted(tuple(r) for r in t.scan(between={"id": (0, 9)}).collect())
    assert got == sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_scan_keeps_narrow_integer_types(wh):
    """Iceberg has no 8/16-bit integers; scan still returns the table's
    own SMALLINT/TINYINT columns."""
    t = wh.create_table("db", "narrow", "s smallint, b tinyint, v string")
    t.insert_values([(1, 2, "a"), (300, 7, "b")])
    out = t.scan(eq={"s": 300})
    assert out.dtypes == t.read().dtypes
    assert [tuple(r) for r in out.collect()] == [(300, 7, "b")]
