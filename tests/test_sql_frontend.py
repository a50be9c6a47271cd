"""Replay of the reference notebooks' SQL transcripts against the engine's
SQL front-end — statement for statement, asserting the committed golden
outputs (getting_started.ipynb:87-169; iceberg_queries.ipynb:53-341;
warehouse_helpers.py usage surface)."""

from __future__ import annotations

import datetime
import decimal

import pytest

from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError


@pytest.fixture()
def lake(spark, tmp_path):
    return LakehouseSQL(spark, str(tmp_path / "warehouse"))


def test_getting_started_transcript(lake):
    # getting_started.ipynb:87-96 — DDL + INSERT
    lake.sql(
        """
        CREATE TABLE IF NOT EXISTS polaris.test_db.test_table (
            id INT,
            name STRING
        )
        USING ICEBERG
        """
    )
    lake.sql("INSERT INTO polaris.test_db.test_table VALUES (1, 'Hello'), (2, 'World')")

    # :102 SELECT * → Hello/World golden
    rows = sorted(tuple(r) for r in lake.sql("SELECT * FROM polaris.test_db.test_table").collect())
    assert rows == [(1, "Hello"), (2, "World")]

    # :160 COUNT(*) as total → 2
    total = lake.sql("SELECT COUNT(*) as total FROM polaris.test_db.test_table").collect()
    assert total[0].total == 2

    # :163 DESCRIBE EXTENDED — schema + metadata columns + detailed info
    desc = lake.sql("DESCRIBE EXTENDED polaris.test_db.test_table").collect()
    names = [r.col_name for r in desc]
    assert names[:2] == ["id", "name"]
    assert "# Metadata Columns" in names and "_deleted" in names
    assert "# Detailed Table Information" in names

    # :166-169 history + snapshots metadata tables
    hist = lake.sql("SELECT * FROM polaris.test_db.test_table.history").collect()
    assert [r.snapshot_id for r in hist] == [1]
    snaps = lake.sql("SELECT * FROM polaris.test_db.test_table.snapshots").collect()
    assert snaps[0].operation == "append"
    assert snaps[0].summary["added-records"] == "2"

    # duplicate INSERT duplicates rows by design (SETUP_GUIDE_WIN.md:362-371)
    lake.sql("INSERT INTO polaris.test_db.test_table VALUES (1, 'Hello'), (2, 'World')")
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.test_db.test_table").collect()[0].n == 4


def test_iceberg_queries_transcript(lake):
    # iceberg_queries.ipynb:53 SHOW CATALOGS
    assert [r.catalog for r in lake.sql("SHOW CATALOGS").collect()] == ["polaris"]

    # :72-78 namespace
    lake.sql("CREATE NAMESPACE IF NOT EXISTS polaris.my_warehouse")
    assert "my_warehouse" in [r.namespace for r in lake.sql("SHOW NAMESPACES IN polaris").collect()]

    # :93-100 users table, hidden-partitioned by created_date
    lake.sql(
        """
        CREATE TABLE IF NOT EXISTS polaris.my_warehouse.users (
            id INT,
            name STRING,
            email STRING,
            created_date DATE
        )
        USING ICEBERG
        PARTITIONED BY (created_date)
        """
    )

    # :125-129 INSERT with implicit string→DATE coercion
    lake.sql(
        """
        INSERT INTO polaris.my_warehouse.users VALUES
        (1, 'Alice', 'alice@example.com', '2025-01-01'),
        (2, 'Bob', 'bob@example.com', '2025-01-02'),
        (3, 'Charlie', 'charlie@example.com', '2025-01-03'),
        (4, 'Diana', 'diana@example.com', '2025-01-04')
        """
    )

    # :151 two-part name under the default catalog
    res = lake.sql("SELECT * FROM my_warehouse.users")
    assert res.count() == 4
    assert dict(res.dtypes)["created_date"] == "date"

    # :171 three-part name + filter
    res = lake.sql("SELECT * FROM polaris.my_warehouse.users WHERE id > 2")
    assert sorted(r.name for r in res.collect()) == ["Charlie", "Diana"]

    # :191 SHOW TABLES
    tbls = lake.sql("SHOW TABLES IN polaris.my_warehouse").collect()
    assert [(r.namespace, r.tableName, r.isTemporary) for r in tbls] == [
        ("my_warehouse", "users", False)
    ]

    # :210-214 DESCRIBE + TBLPROPERTIES
    desc = lake.sql("DESCRIBE TABLE polaris.my_warehouse.users").collect()
    assert [(r.col_name, r.data_type) for r in desc[:4]] == [
        ("id", "int"),
        ("name", "string"),
        ("email", "string"),
        ("created_date", "date"),
    ]
    props = {r.key: r.value for r in lake.sql("SHOW TBLPROPERTIES polaris.my_warehouse.users").collect()}
    assert props["format-version"] == "2"
    assert props["write.parquet.compression-codec"] == "zstd"

    # :233-234 DataFrame API entry point
    df = lake.table("my_warehouse.users")
    got = sorted(tuple(r) for r in df.filter(df.id > 1).select("name", "email").collect())
    assert got[0] == ("Bob", "bob@example.com")

    # :254-270 orders with DECIMAL(10,2)
    lake.sql(
        """
        CREATE TABLE IF NOT EXISTS polaris.my_warehouse.orders (
            order_id INT,
            user_id INT,
            amount DECIMAL(10,2),
            order_date DATE
        )
        USING ICEBERG
        PARTITIONED BY (order_date)
        """
    )
    lake.sql(
        """
        INSERT INTO polaris.my_warehouse.orders VALUES
        (101, 1, 150.50, '2025-01-10'),
        (102, 2, 200.00, '2025-01-11'),
        (103, 1, 75.25, '2025-01-12'),
        (104, 3, 300.00, '2025-01-13')
        """
    )
    assert dict(lake.table("my_warehouse.orders").dtypes)["amount"] == "decimal(10,2)"

    # :291-299 the join golden, ordered by order_id
    joined = lake.sql(
        """
        SELECT u.name, u.email, o.order_id, o.amount
        FROM my_warehouse.users u
        JOIN my_warehouse.orders o ON u.id = o.user_id
        ORDER BY o.order_id
        """
    ).collect()
    assert [r.order_id for r in joined] == [101, 102, 103, 104]
    assert joined[0].name == "Alice" and joined[0].amount == decimal.Decimal("150.50")

    # :318-321 history + VERSION AS OF
    hist = lake.sql("SELECT * FROM polaris.my_warehouse.users.history").collect()
    assert len(hist) == 1
    v1 = lake.sql("SELECT * FROM polaris.my_warehouse.users VERSION AS OF 1")
    assert v1.count() == 4


def test_helpers_surface(lake, spark):
    # warehouse_helpers.py:40-49 — day transform via CAST(ts AS DATE)
    lake.sql(
        """
        CREATE TABLE IF NOT EXISTS polaris.demo.users (
            id INT, name STRING, email STRING, created_at TIMESTAMP
        ) USING ICEBERG
        PARTITIONED BY (CAST(created_at AS DATE))
        """
    )
    # :55-61 INSERT with CAST literals
    lake.sql(
        """
        INSERT INTO polaris.demo.users VALUES
        (1, 'Alice', 'alice@example.com', CAST('2025-01-01 10:00:00' AS TIMESTAMP)),
        (2, 'Bob', 'bob@example.com', CAST('2025-01-02 11:00:00' AS TIMESTAMP)),
        (3, 'Charlie', 'charlie@example.com', CAST('2025-01-03 12:00:00' AS TIMESTAMP)),
        (4, 'Diana', 'diana@example.com', CAST('2025-01-04 13:00:00' AS TIMESTAMP))
        """
    )
    # :85 row count
    n = lake.sql("SELECT COUNT(*) as row_count FROM polaris.demo.users").collect()[0].row_count
    assert n == 4

    # :201 filter example
    assert lake.sql("SELECT * FROM demo.users WHERE id > 2").count() == 2

    # second snapshot for time travel
    lake.sql(
        "INSERT INTO polaris.demo.users VALUES "
        "(5, 'Eve', 'eve@example.com', CAST('2025-01-05 14:00:00' AS TIMESTAMP))"
    )
    # :134 VERSION AS OF
    assert lake.sql("SELECT * FROM polaris.demo.users VERSION AS OF 1").count() == 4
    assert lake.sql("SELECT * FROM polaris.demo.users VERSION AS OF 2").count() == 5
    # :136 TIMESTAMP AS OF (far future = current state)
    future = (
        datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(days=1)
    ).strftime("%Y-%m-%d %H:%M:%S")
    assert lake.sql(f"SELECT * FROM polaris.demo.users TIMESTAMP AS OF '{future}'").count() == 5

    # :145 ALTER TABLE COMPACT (reference's invalid-SQL intent → rewrite_data_files)
    lake.sql("ALTER TABLE polaris.demo.users COMPACT")
    snaps = lake.sql("SELECT * FROM polaris.demo.users.snapshots").collect()
    assert snaps[-1].operation == "replace"
    assert lake.sql("SELECT * FROM demo.users").count() == 5

    # valid compaction form too
    out = lake.sql("CALL polaris.system.rewrite_data_files(table => 'demo.users')").collect()
    assert out[0].added_data_files_count >= 1

    # schema evolution success criterion (SETUP_GUIDE_WIN.md:464)
    lake.sql("ALTER TABLE polaris.demo.users ADD COLUMN status STRING")
    assert lake.sql("SELECT * FROM demo.users").columns[-1] == "status"
    lake.sql(
        "INSERT INTO polaris.demo.users VALUES "
        "(6, 'Frank', 'frank@example.com', CAST('2025-01-06 09:00:00' AS TIMESTAMP), 'active')"
    )
    by_id = {r.id: r.status for r in lake.sql("SELECT id, status FROM demo.users").collect()}
    assert by_id[1] is None and by_id[6] == "active"

    # DELETE (M1, SETUP_GUIDE_WIN.md:368)
    lake.sql("DELETE FROM polaris.demo.users WHERE id = 2")
    assert lake.sql("SELECT COUNT(*) AS n FROM demo.users").collect()[0].n == 5

    # INSERT INTO ... SELECT round-trips through the rewriter
    lake.sql(
        """
        CREATE TABLE polaris.demo.vips (id INT, name STRING, email STRING, created_at TIMESTAMP, status STRING)
        USING ICEBERG
        """
    )
    lake.sql("INSERT INTO polaris.demo.vips SELECT * FROM demo.users WHERE id > 4")
    assert lake.sql("SELECT COUNT(*) AS n FROM demo.vips").collect()[0].n == 2

    # :101 DROP TABLE IF EXISTS + DROP NAMESPACE CASCADE (helpers :34)
    lake.sql("DROP TABLE IF EXISTS polaris.demo.vips")
    assert [r.tableName for r in lake.sql("SHOW TABLES IN polaris.demo").collect()] == ["users"]
    lake.sql("DROP NAMESPACE IF EXISTS polaris.demo CASCADE")
    assert "demo" not in [r.namespace for r in lake.sql("SHOW NAMESPACES").collect()]


def test_rename_and_errors(lake):
    lake.sql("CREATE TABLE polaris.db.t (id INT, email STRING) USING ICEBERG")
    lake.sql("ALTER TABLE polaris.db.t RENAME COLUMN email TO contact")
    assert lake.sql("SELECT * FROM db.t").columns == ["id", "contact"]
    lake.sql("ALTER TABLE polaris.db.t DROP COLUMN contact")
    assert lake.sql("SELECT * FROM db.t").columns == ["id"]

    # unknown names are left for Spark to reject (they are not warehouse tables)
    with pytest.raises(Exception):
        lake.sql("SELECT * FROM wrong_catalog.db.t VERSION AS OF 99").collect()
    # time travel to a missing snapshot is a warehouse error at rewrite time
    with pytest.raises(WarehouseError):
        lake.sql("SELECT * FROM polaris.db.t VERSION AS OF 99")
    with pytest.raises(WarehouseError):
        lake.sql("FROBNICATE ALL THE THINGS")


def test_merge_into_sql(lake, spark):
    """MERGE INTO ... WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *
    (SETUP_GUIDE_WIN.md:368) — both source forms: inline SELECT and a
    warehouse table."""
    lake.sql("CREATE TABLE polaris.m.t (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.m.t VALUES (1, 'a'), (2, 'b')")

    lake.sql(
        """
        MERGE INTO polaris.m.t t
        USING (SELECT * FROM (VALUES (2, 'B'), (3, 'c')) AS s(id, v)) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    got = {r.id: r.v for r in lake.sql("SELECT * FROM m.t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}

    lake.sql("CREATE TABLE polaris.m.src (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.m.src VALUES (3, 'C'), (4, 'd')")
    lake.sql(
        "MERGE INTO polaris.m.t t USING m.src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.id: r.v for r in lake.sql("SELECT * FROM m.t").collect()}
    assert got == {1: "a", 2: "B", 3: "C", 4: "d"}
    ops = [r.operation for r in lake.sql("SELECT * FROM m.t.snapshots").collect()]
    assert ops == ["append", "merge", "merge"]


def test_table_name_inside_string_literal_not_rewritten(lake):
    lake.sql("CREATE TABLE polaris.lit.t (id INT, note STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.lit.t VALUES (1, 'see lit.t for details'), (2, 'plain')")
    rows = lake.sql("SELECT id FROM lit.t WHERE note = 'see lit.t for details'").collect()
    assert [r.id for r in rows] == [1]


def test_identity_partition_prunes_through_sql_path(lake):
    """Hidden partitioning through the SQL front-end: a filter on the
    source column of an identity-partitioned table prunes directories —
    the scan planner maps the typed literal through the partition
    transform, so only the matching partition's files are planned."""
    lake.sql(
        "CREATE TABLE polaris.prune.t (id INT, created_date DATE) "
        "USING ICEBERG PARTITIONED BY (created_date)"
    )
    lake.sql(
        "INSERT INTO polaris.prune.t VALUES (1, '2025-01-01'), (2, '2025-01-02'), (3, '2025-01-03')"
    )
    df = lake.sql("SELECT * FROM prune.t WHERE created_date = DATE '2025-01-02'")
    assert [r.id for r in df.collect()] == [2]
    dirs = {f.split("/")[-2] for f in df.inputFiles()}
    assert dirs == {"_p_identity_created_date=2025-01-02"}, dirs


def test_update_and_ctas_sql(lake):
    lake.sql("CREATE TABLE polaris.u.t (id INT, status STRING, amount DECIMAL(10,2)) USING ICEBERG")
    lake.sql("INSERT INTO polaris.u.t VALUES (1, 'new', 10.00), (2, 'new', 20.00), (3, 'old', 30.00)")

    # row-level UPDATE: copy-on-write, snapshot recorded
    lake.sql("UPDATE polaris.u.t SET status = 'archived', amount = amount * 2 WHERE id <= 2")
    got = {r.id: (r.status, str(r.amount)) for r in lake.sql("SELECT * FROM u.t").collect()}
    assert got == {1: ("archived", "20.00"), 2: ("archived", "40.00"), 3: ("old", "30.00")}
    snaps = lake.sql("SELECT * FROM u.t.snapshots").collect()
    assert snaps[-1].operation == "update"
    # time travel still sees the pre-UPDATE rows
    assert {r.status for r in lake.sql("SELECT * FROM u.t VERSION AS OF 1").collect()} == {"new", "old"}

    # CTAS infers schema (incl. decimal) and lands the data
    lake.sql("CREATE TABLE polaris.u.archived AS SELECT id, amount FROM u.t WHERE status = 'archived'")
    rows = lake.sql("SELECT * FROM u.archived ORDER BY id").collect()
    assert [(r.id, str(r.amount)) for r in rows] == [(1, "20.00"), (2, "40.00")]
    # UPDATE writes cast back to the declared column type, so CTAS inherits it
    assert dict(lake.table("u.archived").dtypes)["amount"] == "decimal(10,2)"


def test_partition_spec_evolution_sql(lake, spark):
    """ALTER TABLE ... ADD/DROP PARTITION FIELD — spec evolution through
    the SQL front-end, metadata-only, old data still readable and pruned
    under its original spec."""
    lake.sql("CREATE TABLE polaris.evo.t (id INT, ts TIMESTAMP) USING ICEBERG")
    lake.sql(
        "INSERT INTO polaris.evo.t VALUES (1, CAST('2024-11-25 10:00:00' AS TIMESTAMP))"
    )
    lake.sql("ALTER TABLE polaris.evo.t ADD PARTITION FIELD days(ts)")
    lake.sql(
        "INSERT INTO polaris.evo.t VALUES (2, CAST('2024-11-26 11:00:00' AS TIMESTAMP))"
    )
    assert lake.sql("SELECT COUNT(*) AS n FROM evo.t").collect()[0].n == 2
    t = lake.wh.table("evo", "t")
    assert t.partition_spec().transform == "day"
    # spec id advanced for the new write only
    by_id = {r.id: r._spec_id for r in t.read(metadata_columns=True).collect()}
    assert by_id[1] == 0 and by_id[2] == 1
    lake.sql("ALTER TABLE polaris.evo.t DROP PARTITION FIELD days(ts)")
    assert t.partition_spec().source is None
    assert lake.sql("SELECT COUNT(*) AS n FROM evo.t").collect()[0].n == 2


def test_metadata_columns_selectable_in_sql(lake):
    """Iceberg metadata columns usable in SQL queries: per-file row counts
    via GROUP BY _file (reference getting_started.ipynb:128-132 lists the
    columns; real Iceberg exposes them to SELECT)."""
    lake.sql("CREATE TABLE polaris.mc.t (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.mc.t VALUES (1), (2)")
    lake.sql("INSERT INTO polaris.mc.t VALUES (3)")
    per_file = lake.sql(
        "SELECT _file, COUNT(*) AS n FROM mc.t GROUP BY _file ORDER BY n"
    ).collect()
    assert len(per_file) >= 2  # two commits → at least two files
    assert sum(r.n for r in per_file) == 3
    assert all(r._file.endswith(".parquet") for r in per_file)
    live = lake.sql("SELECT id FROM mc.t WHERE _deleted = false ORDER BY id").collect()
    assert [r.id for r in live] == [1, 2, 3]
    # plain statements stay metadata-free
    assert lake.sql("SELECT * FROM mc.t").columns == ["id"]


def test_ctas_if_not_exists_is_noop_on_existing_table(lake):
    """ADVICE r2: re-running CREATE TABLE IF NOT EXISTS ... AS SELECT on an
    existing table must be a no-op (Spark/Iceberg CTAS semantics), not an
    append that duplicates rows."""
    lake.sql("CREATE TABLE polaris.db.src (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.src VALUES (1, 'a'), (2, 'b')")
    lake.sql("CREATE TABLE IF NOT EXISTS polaris.db.ctas AS SELECT * FROM polaris.db.src")
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.ctas").collect()[0].n == 2
    # re-run: table exists -> no-op, still 2 rows and still 1 snapshot
    lake.sql("CREATE TABLE IF NOT EXISTS polaris.db.ctas AS SELECT * FROM polaris.db.src")
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.ctas").collect()[0].n == 2
    snaps = lake.sql("SELECT snapshot_id FROM polaris.db.ctas.snapshots").collect()
    assert len(snaps) == 1
    # plain CTAS without IF NOT EXISTS still errors on an existing table
    with pytest.raises(WarehouseError):
        lake.sql("CREATE TABLE polaris.db.ctas AS SELECT * FROM polaris.db.src")


def test_merge_on_read_delete_through_sql(lake):
    """Table property write.delete.mode=merge-on-read drives DELETE FROM
    through the positional-delete path; metadata scans surface tombstoned
    rows as _deleted=true (reference getting_started.ipynb:128-132 lists
    _deleted as a live metadata column)."""
    lake.sql(
        "CREATE TABLE polaris.db.mor_sql (id INT, v STRING) USING ICEBERG "
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    lake.sql("INSERT INTO polaris.db.mor_sql VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    lake.sql("DELETE FROM polaris.db.mor_sql WHERE id = 2")
    # normal reads exclude the tombstoned row
    rows = sorted(r.id for r in lake.sql("SELECT id FROM polaris.db.mor_sql").collect())
    assert rows == [1, 3]
    # metadata scan shows it flagged deleted
    got = {
        r.id: r._deleted
        for r in lake.sql("SELECT id, _deleted FROM polaris.db.mor_sql").collect()
    }
    assert got == {1: False, 2: True, 3: False}
    # snapshots metadata table records the delete-file commit
    ops = [
        (r.operation, r.summary.get("added-delete-files"))
        for r in lake.sql(
            "SELECT operation, summary FROM polaris.db.mor_sql.snapshots ORDER BY snapshot_id"
        ).collect()
    ]
    assert ops == [("append", None), ("delete", "1")]


def test_insert_overwrite(lake):
    lake.sql("CREATE TABLE polaris.db.iow (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.iow VALUES (1, 'a'), (2, 'b')")
    lake.sql("INSERT OVERWRITE TABLE polaris.db.iow VALUES (9, 'z')")
    assert [tuple(r) for r in lake.sql("SELECT * FROM polaris.db.iow").collect()] == [(9, "z")]
    # bare form without TABLE keyword + SELECT source
    lake.sql("INSERT OVERWRITE polaris.db.iow SELECT id + 1, v FROM polaris.db.iow")
    assert [tuple(r) for r in lake.sql("SELECT * FROM polaris.db.iow").collect()] == [(10, "z")]
    # overwrite is a snapshot like any other: time travel sees the old rows
    rows = lake.sql("SELECT id FROM polaris.db.iow VERSION AS OF 1 ORDER BY id").collect()
    assert [r.id for r in rows] == [1, 2]


def test_show_create_table_round_trips(lake):
    """SHOW CREATE TABLE output re-executes through the front-end and
    reproduces schema, partition transform, and properties."""
    lake.sql(
        """
        CREATE TABLE polaris.db.sct (
            id INT, amount DECIMAL(10,2), created_at TIMESTAMP
        ) USING ICEBERG PARTITIONED BY (days(created_at))
        TBLPROPERTIES ('write.delete.mode'='merge-on-read')
        """
    )
    stmt = lake.sql("SHOW CREATE TABLE polaris.db.sct").collect()[0].createtab_stmt
    assert "PARTITIONED BY (days(created_at))" in stmt
    assert "'write.delete.mode' = 'merge-on-read'" in stmt
    # round-trip: execute the emitted DDL for a clone table
    clone = stmt.replace("polaris.db.sct", "polaris.db.sct2")
    lake.sql(clone)
    t1 = lake.wh.table("db", "sct")
    t2 = lake.wh.table("db", "sct2")
    assert t2.schema() == t1.schema()
    assert t2.partition_spec() == t1.partition_spec()
    assert t2._meta()["properties"]["write.delete.mode"] == "merge-on-read"


def test_explain_select(lake):
    lake.sql("CREATE TABLE polaris.db.exp (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.exp VALUES (1, 'a')")
    plan = lake.sql("EXPLAIN SELECT v, COUNT(*) AS n FROM polaris.db.exp GROUP BY v").collect()
    text = "\n".join(r[0] for r in plan)
    assert "Aggregate" in text or "HashAggregate" in text
    ftext = "\n".join(
        r[0] for r in lake.sql("EXPLAIN FORMATTED SELECT id FROM polaris.db.exp WHERE id > 0").collect()
    )
    assert "Filter" in ftext


def test_partitioned_by_cast_timestamp_as_date(lake):
    """The reference helper's exact spelling (warehouse_helpers.py:48):
    PARTITIONED BY (CAST(created_at AS DATE)) on a TIMESTAMP column — a
    day transform. Create, insert, and prune-scan through the engine."""
    lake.sql(
        """
        CREATE TABLE polaris.db.cast_part (
            id INT, name STRING, created_at TIMESTAMP
        ) USING ICEBERG PARTITIONED BY (CAST(created_at AS DATE))
        """
    )
    tab = lake.wh.table("db", "cast_part")
    spec = tab.partition_spec()
    assert (spec.source, spec.transform) == ("created_at", "day")
    lake.sql(
        """
        INSERT INTO polaris.db.cast_part VALUES
        (1, 'a', CAST('2024-11-25 10:00:00' AS TIMESTAMP)),
        (2, 'b', CAST('2024-11-26 11:00:00' AS TIMESTAMP))
        """
    )
    # hidden partitioning: filter the RAW column, prune by the derived day
    got = tab.scan(eq={"created_at": "2024-11-25 10:00:00"}).collect()
    assert [r.id for r in got] == [1]
    # the data landed in day-partitioned hive dirs
    import os as _os

    dirs = [
        d
        for root, ds, _ in _os.walk(tab.path)
        for d in ds
        if d.startswith("_p_day_created_at=")
    ]
    assert sorted(dirs) == ["_p_day_created_at=2024-11-25", "_p_day_created_at=2024-11-26"]
    rows = lake.sql("SELECT id FROM polaris.db.cast_part ORDER BY id").collect()
    assert [r.id for r in rows] == [1, 2]


def test_files_manifests_refs_metadata_tables(lake):
    """Iceberg's .files/.manifests/.refs metadata tables through SQL."""
    lake.sql("CREATE TABLE polaris.db.meta3 (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.meta3 VALUES (1), (2)")
    lake.sql("INSERT INTO polaris.db.meta3 VALUES (3)")
    files = lake.sql(
        "SELECT content, file_format, record_count FROM polaris.db.meta3.files ORDER BY file_path"
    ).collect()
    assert all(f.content == 0 and f.file_format == "PARQUET" for f in files)
    assert sum(f.record_count for f in files) == 3
    mans = lake.sql("SELECT * FROM polaris.db.meta3.manifests").collect()
    assert len(mans) == 2  # one manifest per commit dir
    assert sorted(m.added_snapshot_id for m in mans) == [1, 2]
    assert all(m.length and m.path.endswith(".avro") for m in mans)
    refs = lake.sql("SELECT * FROM polaris.db.meta3.refs").collect()
    assert [(r.name, r.type, r.snapshot_id) for r in refs] == [("main", "BRANCH", 2)]


def test_rollback_truncate_and_procedures(lake):
    lake.sql("CREATE TABLE polaris.db.proc (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.proc VALUES (1), (2)")
    lake.sql("INSERT INTO polaris.db.proc VALUES (3)")
    # rollback to snapshot 1: state reverts, history preserved
    out = lake.sql(
        "CALL polaris.system.rollback_to_snapshot(table => 'db.proc', snapshot_id => 1)"
    ).collect()[0]
    assert (out.previous_snapshot_id, out.current_snapshot_id) == (2, 1)
    assert sorted(r.id for r in lake.sql("SELECT * FROM polaris.db.proc").collect()) == [1, 2]
    # in-between snapshot still time-travels
    rows = lake.sql("SELECT id FROM polaris.db.proc VERSION AS OF 2 ORDER BY id").collect()
    assert [r.id for r in rows] == [1, 2, 3]
    # truncate: empty table, new snapshot, old ones intact
    lake.sql("TRUNCATE TABLE polaris.db.proc")
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.proc").collect()[0].n == 0
    assert (
        lake.sql("SELECT COUNT(*) AS n FROM polaris.db.proc VERSION AS OF 3").collect()[0].n
        == 2
    )
    # expire down to the latest snapshot, then remove orphans (none expected
    # beyond what expire already GC'd)
    lake.sql("CALL polaris.system.expire_snapshots(table => 'db.proc', retain_last => 1)")
    hist = lake.sql("SELECT * FROM polaris.db.proc.history").collect()
    assert len(hist) == 1
    orphans = lake.sql(
        "CALL polaris.system.remove_orphan_files(table => 'db.proc')"
    ).collect()[0]
    assert orphans.orphan_file_location_count == 0
    assert lake.sql("SELECT COUNT(*) AS n FROM polaris.db.proc").collect()[0].n == 0


def test_rollback_to_timestamp(lake):
    import datetime

    lake.sql("CREATE TABLE polaris.db.rbts (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.rbts VALUES (1)")
    t = lake.wh.table("db", "rbts")
    after_first = t._resolve(1)["committed_at_ms"]
    lake.sql("INSERT INTO polaris.db.rbts VALUES (2)")
    # a timestamp between commit 1 and commit 2 resolves to snapshot 1
    ts = datetime.datetime.fromtimestamp((after_first + 1) / 1000).isoformat()
    out = lake.sql(
        f"CALL polaris.system.rollback_to_timestamp(table => 'db.rbts', "
        f"timestamp => TIMESTAMP '{ts}')"
    ).collect()[0]
    assert (out.previous_snapshot_id, out.current_snapshot_id) == (2, 1)
    assert [r.id for r in lake.sql("SELECT id FROM db.rbts").collect()] == [1]


def test_show_partitions(lake):
    lake.sql(
        "CREATE TABLE polaris.db.parts (id INT, d DATE) USING ICEBERG PARTITIONED BY (d)"
    )
    lake.sql(
        "INSERT INTO polaris.db.parts VALUES (1, DATE '2024-01-01'), (2, DATE '2024-01-02')"
    )
    parts = [r.partition for r in lake.sql("SHOW PARTITIONS polaris.db.parts").collect()]
    assert parts == ["_p_identity_d=2024-01-01", "_p_identity_d=2024-01-02"]
    # unpartitioned table -> empty result, not an error
    lake.sql("CREATE TABLE polaris.db.nopart (id INT) USING ICEBERG")
    assert lake.sql("SHOW PARTITIONS polaris.db.nopart").collect() == []


def test_branch_tag_sql_and_ref_time_travel(lake):
    lake.sql("CREATE TABLE polaris.db.refsql (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.refsql VALUES (1)")
    lake.sql("INSERT INTO polaris.db.refsql VALUES (2)")
    lake.sql("ALTER TABLE polaris.db.refsql CREATE TAG audit AS OF VERSION 1")
    lake.sql("INSERT INTO polaris.db.refsql VALUES (3)")
    # time travel by ref name (string literal)
    rows = lake.sql("SELECT id FROM polaris.db.refsql VERSION AS OF 'audit'").collect()
    assert [r.id for r in rows] == [1]
    refs = {
        r.name: (r.type, r.snapshot_id)
        for r in lake.sql("SELECT * FROM polaris.db.refsql.refs").collect()
    }
    assert refs == {"main": ("BRANCH", 3), "audit": ("TAG", 1)}
    lake.sql("ALTER TABLE polaris.db.refsql DROP TAG audit")
    assert [r.name for r in lake.sql("SELECT * FROM polaris.db.refsql.refs").collect()] == ["main"]


# --------------------------------------------------------------------------
# Property fuzz of the SELECT rewriter's masking / name-resolution edges
# (literal masking at sql_frontend.py:161-167, name pattern :172-180).
# Oracle: the same query template executed against plain temp views — the
# rewriter must agree with Catalyst on every generated spelling.
# --------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.fixture()
def fuzz_lake(lake):
    lake.sql("CREATE TABLE polaris.wh.users (id INT, name STRING) USING ICEBERG")
    lake.sql("INSERT INTO wh.users VALUES (1, 'alice'), (2, 'bob'), (3, 'wh.users')")
    lake.sql("CREATE TABLE polaris.wh.orders (id INT, amount DOUBLE) USING ICEBERG")
    lake.sql("INSERT INTO wh.orders VALUES (1, 10.0), (2, 20.0)")
    # oracle views over the same data, names no rewriter would touch
    lake.wh.table("wh", "users").read().createOrReplaceTempView("exp_users")
    lake.wh.table("wh", "orders").read().createOrReplaceTempView("exp_orders")
    return lake


def _casing(rng_choice, word):
    return {
        "lower": word.lower(),
        "upper": word.upper(),
        "title": word.title(),
        "alternating": "".join(
            c.upper() if i % 2 else c.lower() for i, c in enumerate(word)
        ),
    }[rng_choice]


_KW_CASE = st.sampled_from(["lower", "upper", "title", "alternating"])
_TABLE_SPELLING = st.sampled_from(["wh.users", "polaris.wh.users"])
# aliases that shadow namespace/table/other-table names on purpose
_ALIAS = st.sampled_from([None, "u", "users", "orders", "wh"])
_LITERAL = st.sampled_from(
    [
        "plain",
        "wh.users",
        "see polaris.wh.orders now",
        "it''s wh.users",
        "SELECT * FROM wh.users",
        "wh.users VERSION AS OF 1",
        "",
    ]
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kw=_KW_CASE,
    tbl=_TABLE_SPELLING,
    alias=_ALIAS,
    lit=_LITERAL,
    qualify=st.booleans(),
    extra_pred=st.booleans(),
)
def test_rewriter_fuzz_matches_direct_views(fuzz_lake, kw, tbl, alias, lit, qualify, extra_pred):
    k = lambda w: _casing(kw, w)
    prefix = f"{alias}." if (alias and qualify) else ""
    template = (
        f"{k('select')} {prefix}id {k('as')} id, name {k('from')} {{t}}"
        + (f" {k('as')} {alias}" if alias else "")
        + f" {k('where')} name <> '{lit}'"
        + (f" {k('and')} {prefix}id > 0" if extra_pred else "")
        + f" {k('order')} {k('by')} {prefix}id"
    )
    got = [tuple(r) for r in fuzz_lake.sql(template.format(t=tbl)).collect()]
    exp = [
        tuple(r)
        for r in fuzz_lake.spark.sql(template.format(t="exp_users")).collect()
    ]
    assert got == exp
    # the literal must survive the mask/unmask round-trip verbatim
    rewritten = fuzz_lake._rewrite_query(template.format(t=tbl))
    assert f"'{lit}'" in rewritten
    assert "\x00" not in rewritten


def test_rewriter_alias_shadowing_other_table(fuzz_lake):
    # alias `orders` shadows wh.orders; qualified refs must resolve to the
    # alias (users columns), not rewrite into the orders view
    rows = fuzz_lake.sql(
        "SELECT orders.id, orders.name FROM wh.users AS orders WHERE orders.id = 2"
    ).collect()
    assert [tuple(r) for r in rows] == [(2, "bob")]


def test_rewriter_literal_with_escaped_quote_and_table_name(fuzz_lake):
    rows = fuzz_lake.sql(
        "SELECT id FROM wh.users WHERE name = 'wh.users' AND 'it''s wh.users' <> name"
    ).collect()
    assert [r.id for r in rows] == [3]


def test_set_unset_tblproperties(lake):
    lake.sql("CREATE TABLE polaris.db.props (id INT) USING ICEBERG")
    lake.sql(
        "ALTER TABLE polaris.db.props SET TBLPROPERTIES "
        "('write.delete.mode'='merge-on-read', 'owner'='etl')"
    )
    props = {
        r.key: r.value
        for r in lake.sql("SHOW TBLPROPERTIES polaris.db.props").collect()
    }
    assert props["write.delete.mode"] == "merge-on-read"
    assert props["owner"] == "etl"
    # the knob actually takes effect: DELETE now goes merge-on-read
    lake.sql("INSERT INTO polaris.db.props VALUES (1), (2)")
    lake.sql("DELETE FROM polaris.db.props WHERE id = 1")
    tab = lake.wh.table("db", "props")
    assert tab._resolve().get("delete_dirs"), "expected positional-delete files"
    lake.sql("ALTER TABLE polaris.db.props UNSET TBLPROPERTIES ('owner')")
    props = {
        r.key: r.value
        for r in lake.sql("SHOW TBLPROPERTIES polaris.db.props").collect()
    }
    assert "owner" not in props
    # UNSET of a missing key is a no-op (Spark IF EXISTS semantics)
    lake.sql("ALTER TABLE polaris.db.props UNSET TBLPROPERTIES IF EXISTS ('nope')")


def test_partitions_metadata_table(lake):
    lake.sql(
        "CREATE TABLE polaris.db.ptab (id INT, d DATE) USING ICEBERG PARTITIONED BY (d)"
    )
    lake.sql(
        "INSERT INTO polaris.db.ptab VALUES "
        "(1, '2024-01-01'), (2, '2024-01-01'), (3, '2024-01-02')"
    )
    rows = lake.sql(
        "SELECT partition, record_count, file_count FROM polaris.db.ptab.partitions "
        "ORDER BY partition"
    ).collect()
    by_part = {r.partition: (r.record_count, r.file_count) for r in rows}
    assert len(by_part) == 2
    counts = sorted(v[0] for v in by_part.values())
    assert counts == [1, 2]
    assert all(v[1] >= 1 for v in by_part.values())
    # unpartitioned table: one null-partition row covering everything
    lake.sql("CREATE TABLE polaris.db.unpart (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.unpart VALUES (1), (2), (3)")
    rows = lake.sql(
        "SELECT partition, record_count FROM polaris.db.unpart.partitions"
    ).collect()
    assert len(rows) == 1 and rows[0].partition is None and rows[0].record_count == 3


def test_create_view_lifecycle(lake):
    lake.sql("CREATE TABLE polaris.db.vt (id INT, amount DOUBLE) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.vt VALUES (1, 10.0), (2, 20.0)")
    lake.sql(
        "CREATE VIEW polaris.db.big_vt AS SELECT id, amount FROM db.vt WHERE amount > 15"
    )
    assert [tuple(r) for r in lake.sql("SELECT id FROM db.big_vt ORDER BY id").collect()] == [(2,)]
    # views re-resolve at query time: later INSERTs show through
    lake.sql("INSERT INTO polaris.db.vt VALUES (3, 30.0)")
    assert [
        tuple(r) for r in lake.sql("SELECT id FROM db.big_vt ORDER BY id").collect()
    ] == [(2,), (3,)]
    # views over views
    lake.sql(
        "CREATE VIEW polaris.db.vv AS SELECT COUNT(*) AS n FROM db.big_vt"
    )
    assert lake.sql("SELECT n FROM db.vv").collect()[0].n == 2
    views = {r.viewName for r in lake.sql("SHOW VIEWS IN polaris.db").collect()}
    assert views == {"big_vt", "vv"}
    # duplicate create fails; OR REPLACE and IF NOT EXISTS don't
    import pytest as _pytest

    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    with _pytest.raises(WarehouseError):
        lake.sql("CREATE VIEW polaris.db.vv AS SELECT 1 AS one")
    lake.sql("CREATE VIEW IF NOT EXISTS polaris.db.vv AS SELECT 1 AS one")
    assert lake.sql("SELECT n FROM db.vv").collect()[0].n == 2  # unchanged
    lake.sql("CREATE OR REPLACE VIEW polaris.db.vv AS SELECT 99 AS n")
    assert lake.sql("SELECT n FROM db.vv").collect()[0].n == 99
    lake.sql("DROP VIEW polaris.db.vv")
    assert {r.viewName for r in lake.sql("SHOW VIEWS").collect()} == {"big_vt"}
    lake.sql("DROP VIEW IF EXISTS polaris.db.vv")  # no-op
    with _pytest.raises(WarehouseError):
        lake.sql("DROP VIEW polaris.db.vv")


def test_merge_when_matched_delete(lake):
    """MERGE ... WHEN MATCHED THEN DELETE [WHEN NOT MATCHED THEN INSERT *]
    — matched target rows drop; without the INSERT clause source-only rows
    are ignored, with it they land."""
    lake.sql("CREATE TABLE polaris.db.md (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.md VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    # delete-only: ids 2 and 9; 2 matches (drops), 9 doesn't (ignored)
    lake.sql(
        "MERGE INTO polaris.db.md t USING (SELECT * FROM VALUES (2, 'x'), (9, 'y') AS s(id, v)) s "
        "ON t.id = s.id WHEN MATCHED THEN DELETE"
    )
    assert [tuple(r) for r in lake.sql("SELECT * FROM db.md ORDER BY id").collect()] == [
        (1, "a"),
        (3, "c"),
    ]
    # delete + insert: 3 drops, 7 inserts
    lake.sql(
        "MERGE INTO polaris.db.md t USING (SELECT * FROM VALUES (3, 'z'), (7, 'n') AS s(id, v)) s "
        "ON t.id = s.id WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *"
    )
    assert [tuple(r) for r in lake.sql("SELECT * FROM db.md ORDER BY id").collect()] == [
        (1, "a"),
        (7, "n"),
    ]


def test_view_table_name_collisions_rejected_both_ways(lake):
    """A view may not take an existing table's name and a table may not
    take an existing view's name — either way one statement kind would
    resolve to the view and the other to the table, a silent split-brain."""
    import pytest as _pytest

    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    lake.sql("CREATE TABLE polaris.db.clash (id INT) USING ICEBERG")
    with _pytest.raises(WarehouseError, match="is a table"):
        lake.sql("CREATE VIEW polaris.db.clash AS SELECT 1 AS one")
    lake.sql("CREATE VIEW polaris.db.vclash AS SELECT 1 AS one")
    with _pytest.raises(WarehouseError, match="is a view"):
        lake.sql("CREATE TABLE polaris.db.vclash (id INT) USING ICEBERG")
    # CTAS takes the same guard path
    with _pytest.raises(WarehouseError, match="is a view"):
        lake.sql("CREATE TABLE polaris.db.vclash AS SELECT 2 AS two")


_VIEW_KW = st.sampled_from(["lower", "upper", "title", "alternating"])
_VIEW_TBL = st.sampled_from(["wh.users", "polaris.wh.users"])
# view body aliases that shadow the catalog, namespace, another table, or
# the VIEW's own name — the stored SQL must re-resolve correctly anyway
_VIEW_ALIAS = st.sampled_from([None, "users", "orders", "wh", "polaris", "fuzzview"])
_VIEW_LIT = st.sampled_from(
    ["plain", "wh.users", "SELECT * FROM wh.users", "wh.users VERSION AS OF 1", ""]
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(kw=_VIEW_KW, tbl=_VIEW_TBL, alias=_VIEW_ALIAS, lit=_VIEW_LIT, replace=st.booleans())
def test_view_definition_fuzz_matches_direct(fuzz_lake, kw, tbl, alias, lit, replace):
    """Property fuzz of CREATE [OR REPLACE] VIEW bodies: keyword casing,
    table spellings, shadowing aliases, and literals that LOOK like table
    references or time travel must all store + re-resolve to exactly what
    Catalyst computes on plain temp views; querying the view with time
    travel always raises."""
    k = lambda w: _casing(kw, w)
    prefix = f"{alias}." if alias else ""
    body = (
        f"{k('select')} {prefix}id {k('as')} id, name {k('from')} {tbl}"
        + (f" {k('as')} {alias}" if alias else "")
        + f" {k('where')} name <> '{lit}'"
    )
    fuzz_lake.sql("DROP VIEW IF EXISTS polaris.wh.fuzzview")
    stmt = "CREATE OR REPLACE VIEW" if replace else "CREATE VIEW"
    fuzz_lake.sql(f"{stmt} polaris.wh.fuzzview AS {body}")
    if replace:  # replace must actually swap the definition
        fuzz_lake.sql(
            f"CREATE OR REPLACE VIEW polaris.wh.fuzzview AS {body}"
        )
    got = [tuple(r) for r in fuzz_lake.sql("SELECT id, name FROM wh.fuzzview ORDER BY id").collect()]
    exp_body = body.replace(tbl, "exp_users", 1)
    exp = [
        tuple(r)
        for r in fuzz_lake.spark.sql(
            f"SELECT id, name FROM ({exp_body}) ORDER BY id"
        ).collect()
    ]
    assert got == exp
    # the stored definition survives verbatim (literal not mangled)
    assert f"'{lit}'" in fuzz_lake.wh.views()["wh.fuzzview"]
    # time travel on a view is always an error, never a silent table read
    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    with pytest.raises(WarehouseError):
        fuzz_lake.sql("SELECT * FROM wh.fuzzview VERSION AS OF 1")


def test_alter_view_redefine_and_rename(lake):
    import pytest as _pytest

    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    lake.sql("CREATE TABLE polaris.db.avt (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.avt VALUES (1), (2), (3)")
    lake.sql("CREATE VIEW polaris.db.av AS SELECT COUNT(*) AS n FROM db.avt")
    assert lake.sql("SELECT n FROM db.av").collect()[0].n == 3
    # redefine the body
    lake.sql("ALTER VIEW polaris.db.av AS SELECT COUNT(*) AS n FROM db.avt WHERE id > 1")
    assert lake.sql("SELECT n FROM db.av").collect()[0].n == 2
    # unlike CREATE OR REPLACE, ALTER refuses to create
    with _pytest.raises(WarehouseError, match="does not exist"):
        lake.sql("ALTER VIEW polaris.db.nope AS SELECT 1 AS one")
    # a body that doesn't analyze is rejected and the old body survives
    with _pytest.raises(Exception):
        lake.sql("ALTER VIEW polaris.db.av AS SELECT no_such_col FROM db.avt")
    assert lake.sql("SELECT n FROM db.av").collect()[0].n == 2
    # rename; old name gone, new name resolves, collisions refused
    lake.sql("ALTER VIEW polaris.db.av RENAME TO av2")
    assert lake.sql("SELECT n FROM db.av2").collect()[0].n == 2
    with _pytest.raises(Exception):  # old name unresolvable (Spark's not-found)
        lake.sql("SELECT n FROM db.av")
    lake.sql("CREATE VIEW polaris.db.av3 AS SELECT 1 AS one")
    with _pytest.raises(WarehouseError, match="exists"):
        lake.sql("ALTER VIEW polaris.db.av3 RENAME TO av2")
    with _pytest.raises(WarehouseError, match="is a table"):
        lake.sql("ALTER VIEW polaris.db.av3 RENAME TO avt")
    # cross-namespace renames are rejected like Iceberg/Spark (the old
    # code silently dropped the qualifier and renamed within db)
    lake.sql("CREATE NAMESPACE IF NOT EXISTS polaris.db_other")
    with _pytest.raises(WarehouseError, match="across namespaces"):
        lake.sql("ALTER VIEW polaris.db.av3 RENAME TO db_other.av9")
    with _pytest.raises(WarehouseError, match="across namespaces"):
        lake.sql("ALTER VIEW polaris.db.av3 RENAME TO polaris.db_other.av9")
    # ...but a SAME-namespace qualified target is fine
    lake.sql("ALTER VIEW polaris.db.av3 RENAME TO db.av4")
    assert lake.sql("SELECT one FROM db.av4").collect()[0].one == 1


def test_rollback_to_timestamp_honors_session_timezone(lake):
    """Naive TIMESTAMP literals follow spark.sql.session.timeZone, not
    the OS timezone: the same wall-clock string must resolve to a
    different snapshot under a different session zone."""
    import datetime

    lake.sql("CREATE TABLE polaris.db.rbtz (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.rbtz VALUES (1)")
    t = lake.wh.table("db", "rbtz")
    after_first = t._resolve(1)["committed_at_ms"]
    lake.sql("INSERT INTO polaris.db.rbtz VALUES (2)")
    # wall-clock string for (first commit + 1ms) in a UTC-8 zone: as a
    # UTC instant it would predate every snapshot and the CALL would fail
    wall = datetime.datetime.fromtimestamp(
        (after_first + 1) / 1000,
        tz=datetime.timezone(datetime.timedelta(hours=-8)),
    ).replace(tzinfo=None).isoformat()
    prev_tz = lake.spark.conf.get("spark.sql.session.timeZone")
    lake.spark.conf.set("spark.sql.session.timeZone", "-08:00")
    try:
        out = lake.sql(
            f"CALL polaris.system.rollback_to_timestamp(table => 'db.rbtz', "
            f"timestamp => TIMESTAMP '{wall}')"
        ).collect()[0]
    finally:
        lake.spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert (out.previous_snapshot_id, out.current_snapshot_id) == (2, 1)
    # an explicit-offset literal is honored as written, any session zone
    aware = datetime.datetime.fromtimestamp(
        (after_first + 1) / 1000, tz=datetime.timezone.utc
    ).isoformat()
    out2 = lake.sql(
        f"CALL polaris.system.rollback_to_timestamp(table => 'db.rbtz', "
        f"timestamp => TIMESTAMP '{aware}')"
    ).collect()[0]
    assert out2.current_snapshot_id == 1


def test_view_body_time_travel_resolves_at_query_time(lake):
    """Time travel INSIDE a view body is legal (it pins a table snapshot,
    not a view version) and keeps resolving after the table advances."""
    lake.sql("CREATE TABLE polaris.db.ttv (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.ttv VALUES (1)")
    lake.sql("INSERT INTO polaris.db.ttv VALUES (2)")
    lake.sql(
        "CREATE VIEW polaris.db.v1only AS "
        "SELECT COUNT(*) AS n FROM db.ttv VERSION AS OF 1"
    )
    assert lake.sql("SELECT n FROM db.v1only").collect()[0].n == 1
    lake.sql("INSERT INTO polaris.db.ttv VALUES (3)")
    assert lake.sql("SELECT n FROM db.v1only").collect()[0].n == 1  # still pinned
    assert lake.sql("SELECT COUNT(*) AS n FROM db.ttv").collect()[0].n == 3


def test_view_time_travel_rejected_and_persistence(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError
    import pytest as _pytest

    wh_dir = str(tmp_path / "wh")
    lake = LakehouseSQL(spark, wh_dir)
    lake.sql("CREATE TABLE polaris.db.t (id INT) USING ICEBERG")
    lake.sql("INSERT INTO polaris.db.t VALUES (1)")
    lake.sql("CREATE VIEW polaris.db.v AS SELECT id FROM db.t")
    with _pytest.raises(WarehouseError):
        lake.sql("SELECT * FROM db.v VERSION AS OF 1")
    # view definitions are catalog state: a NEW session over the same
    # warehouse dir resolves them
    lake2 = LakehouseSQL(spark, wh_dir)
    assert lake2.sql("SELECT id FROM db.v").collect()[0].id == 1


def test_show_tblproperties_and_create_table_like(lake):
    lake.sql(
        "CREATE TABLE polaris.db.src_like (id INT, d DATE, v STRING) USING ICEBERG "
        "PARTITIONED BY (d) TBLPROPERTIES ('write.delete.mode'='merge-on-read', 'owner'='etl')"
    )
    # all-properties form
    props = {r.key: r.value for r in lake.sql("SHOW TBLPROPERTIES db.src_like").collect()}
    assert props["write.delete.mode"] == "merge-on-read" and props["owner"] == "etl"
    # single-key form returns just the value
    got = lake.sql("SHOW TBLPROPERTIES db.src_like ('owner')").collect()
    assert [r.value for r in got] == ["etl"]
    with pytest.raises(WarehouseError, match="not set"):
        lake.sql("SHOW TBLPROPERTIES db.src_like ('nope')")

    # LIKE: schema + partition spec + properties + identity declarations
    lake.sql("INSERT INTO db.src_like VALUES (1, DATE '2024-01-01', 'a')")
    lake.sql("ALTER TABLE db.src_like SET IDENTIFIER FIELDS id")
    lake.sql("CREATE TABLE db.dst_like LIKE db.src_like")
    dst = lake.wh.table("db", "dst_like")
    src = lake.wh.table("db", "src_like")
    assert dst.schema() == src.schema()
    assert dst.properties()["write.delete.mode"] == "merge-on-read"
    assert dst._meta()["partition"] == src._meta()["partition"]
    assert dst.identifier_fields() == ["id"], "CDC-mirror templates keep identity"
    assert lake.sql("SELECT * FROM db.dst_like").count() == 0
    # duplicate refused; IF NOT EXISTS no-op
    with pytest.raises(WarehouseError, match="exists"):
        lake.sql("CREATE TABLE db.dst_like LIKE db.src_like")
    lake.sql("CREATE TABLE IF NOT EXISTS db.dst_like LIKE db.src_like")
    # the copy is a REAL table: partitioned writes land and MOR deletes work
    lake.sql("INSERT INTO db.dst_like VALUES (2, DATE '2024-01-02', 'b')")
    lake.sql("DELETE FROM db.dst_like WHERE id = 2")
    assert lake.sql("SELECT * FROM db.dst_like").count() == 0
