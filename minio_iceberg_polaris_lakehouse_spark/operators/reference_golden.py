"""Golden regression cases reproduced from the reference's own notebooks —
routed through the engine's SQL FRONT-END, exactly the way the reference
runs them (spark.sql DDL + INSERT + SELECT against catalog tables), so the
driver's oracle gate verifies the whole SQL path end-to-end.

These encode the exact fixtures + expected results the reference treats as
its de-facto regression suite (SURVEY.md §5): the Hello/World roundtrip,
COUNT(*)=2, the `WHERE id > 2` filter, `filter(id>1).select(name,email)`,
the users⋈orders join ordered by order_id, duplicate-append semantics, and
a DECIMAL(10,2) aggregate. Fixture rows come from:
- test_table (1,'Hello'),(2,'World') — reference:
  workspace/notebooks/getting_started.ipynb:87-96
- users Alice/Bob/Charlie/Diana — reference:
  workspace/notebooks/iceberg_queries.ipynb:125-129
- orders 101..104 with amount DECIMAL(10,2) — reference:
  workspace/notebooks/iceberg_queries.ipynb:254-270
- duplicate INSERT duplicates rows by design — reference:
  SETUP_GUIDE_WIN.md:362-371
"""

from __future__ import annotations

import os
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

from minio_iceberg_polaris_lakehouse_spark.registry import register

_USERS_DUCK = """
    (VALUES (1, 'Alice', 'alice@example.com', DATE '2025-01-01'),
            (2, 'Bob', 'bob@example.com', DATE '2025-01-02'),
            (3, 'Charlie', 'charlie@example.com', DATE '2025-01-03'),
            (4, 'Diana', 'diana@example.com', DATE '2025-01-04'))
        AS users(id, name, email, created_date)
"""
_ORDERS_DEC_DUCK = """
    (VALUES (101, 1, CAST(150.50 AS DECIMAL(10,2)), DATE '2025-01-10'),
            (102, 2, CAST(200.00 AS DECIMAL(10,2)), DATE '2025-01-11'),
            (103, 1, CAST(75.25 AS DECIMAL(10,2)), DATE '2025-01-12'),
            (104, 3, CAST(300.00 AS DECIMAL(10,2)), DATE '2025-01-13'))
        AS o(order_id, user_id, amount, order_date)
"""
_TEST_TABLE_DUCK = "(VALUES (1, 'Hello'), (2, 'World')) AS test_table(id, name)"

# One fixture warehouse per Spark application, built by replaying the
# reference notebooks' DDL/INSERT transcript through the SQL front-end.
# _FIXTURE_LOCK serializes every check-then-build on the stateful
# fixture caches (_LAKES and the mode caches below): if the driver ever
# invokes queries() callables concurrently on one session, unlocked
# builds would race (duplicate warehouses; interleaved CREATE/INSERT
# sequences in the MV setups). RLock because the MV builders call
# _lake() while holding it.
_FIXTURE_LOCK = threading.RLock()
_LAKES: dict[str, object] = {}


def _lake(spark: SparkSession):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key in _LAKES:
            return _LAKES[key]
        return _build_lake(spark, key)


def _build_lake(spark: SparkSession, key: str):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    lake = LakehouseSQL(spark, tempfile.mkdtemp(prefix="lh_golden_"))
    # getting_started.ipynb:87-96
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.test_table (id INT, name STRING) USING ICEBERG"
    )
    lake.sql("INSERT INTO polaris.test_db.test_table VALUES (1, 'Hello'), (2, 'World')")
    # duplicate-append table: the same INSERT run twice (SETUP_GUIDE_WIN.md:362-371)
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.test_table_dup (id INT, name STRING) USING ICEBERG"
    )
    lake.sql("INSERT INTO polaris.test_db.test_table_dup VALUES (1, 'Hello'), (2, 'World')")
    lake.sql("INSERT INTO polaris.test_db.test_table_dup VALUES (1, 'Hello'), (2, 'World')")
    # iceberg_queries.ipynb:93-129
    lake.sql(
        """
        CREATE TABLE IF NOT EXISTS polaris.my_warehouse.users (
            id INT, name STRING, email STRING, created_date DATE
        ) USING ICEBERG PARTITIONED BY (created_date)
        """
    )
    lake.sql(
        """
        INSERT INTO polaris.my_warehouse.users VALUES
        (1, 'Alice', 'alice@example.com', '2025-01-01'),
        (2, 'Bob', 'bob@example.com', '2025-01-02'),
        (3, 'Charlie', 'charlie@example.com', '2025-01-03'),
        (4, 'Diana', 'diana@example.com', '2025-01-04')
        """
    )
    # iceberg_queries.ipynb:254-270 (amount DECIMAL(10,2), :257)
    lake.sql(
        """
        CREATE TABLE IF NOT EXISTS polaris.my_warehouse.orders (
            order_id INT, user_id INT, amount DECIMAL(10,2), order_date DATE
        ) USING ICEBERG PARTITIONED BY (order_date)
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
    # schema-evolution fixture (D10): ADD COLUMN with NULL backfill
    # (reference README.md:132-133; success criterion SETUP_GUIDE_WIN.md:464)
    # then RENAME — all through SQL DDL
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.evolution (id INT, name STRING) USING ICEBERG"
    )
    lake.sql("INSERT INTO polaris.test_db.evolution VALUES (1, 'a'), (2, 'b')")
    lake.sql("ALTER TABLE polaris.test_db.evolution ADD COLUMN email STRING")
    lake.sql("INSERT INTO polaris.test_db.evolution VALUES (3, 'c', 'c@example.com')")
    lake.sql("ALTER TABLE polaris.test_db.evolution RENAME COLUMN email TO contact")
    # merge-on-read fixture (M1): positional-delete DELETE via the
    # write.delete.mode table property; tombstoned rows stay inspectable
    # as _deleted=true (reference getting_started.ipynb:128-132)
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.mor (id INT, v STRING) USING ICEBERG "
        "TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    lake.sql("INSERT INTO polaris.test_db.mor VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    lake.sql("DELETE FROM polaris.test_db.mor WHERE id IN (2, 4)")
    # file-skipping fixture: WRITE ORDERED BY clusters writes so footer
    # bounds are tight; two disjoint-range inserts → two commit dirs, and
    # a selective scan prunes one entirely from its manifest stats alone
    # (Iceberg file skipping, reference README.md:138-139,178)
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.skip_demo (id INT, v STRING) USING ICEBERG"
    )
    lake.sql("ALTER TABLE polaris.test_db.skip_demo WRITE ORDERED BY (id)")
    lake.sql("INSERT INTO polaris.test_db.skip_demo VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    lake.sql("INSERT INTO polaris.test_db.skip_demo VALUES (10, 'x'), (11, 'y'), (12, 'z')")
    # write-audit-publish fixture: one published row, one row staged on the
    # `audit` branch (invisible to main), then fast-forwarded to main
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.wapdemo (id INT, v STRING) USING ICEBERG"
    )
    lake.sql("INSERT INTO polaris.test_db.wapdemo VALUES (1, 'a')")
    lake.sql("ALTER TABLE polaris.test_db.wapdemo CREATE BRANCH audit")
    lake.sql("SET spark.wap.branch = 'audit'")
    lake.sql("INSERT INTO polaris.test_db.wapdemo VALUES (2, 'staged')")
    lake.sql("RESET spark.wap.branch")
    lake.sql(
        "CALL polaris.system.fast_forward(table => 'test_db.wapdemo', "
        "branch => 'main', to => 'audit')"
    )
    # MERGE delete-form fixture: the reference's dedup-remediation recipe
    # ('Use MERGE or DELETE + INSERT', SETUP_GUIDE_WIN.md:368) — matched
    # keys drop, unmatched source rows insert
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.merge_del (id INT, v STRING) USING ICEBERG"
    )
    lake.sql(
        "INSERT INTO polaris.test_db.merge_del VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')"
    )
    lake.sql(
        "MERGE INTO polaris.test_db.merge_del t "
        "USING (SELECT * FROM VALUES (2, 'x'), (4, 'y'), (9, 'new') AS s(id, v)) s "
        "ON t.id = s.id WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *"
    )
    # external-reader fixture: schema evolution (rename keeps field id)
    # + merge-on-read equality delete + key resurrection — the features
    # whose EXPORTED form is hardest to get right; read back from the
    # open metadata alone by ref_external_reader
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.ext_read (id INT, name STRING) "
        "USING ICEBERG TBLPROPERTIES ("
        "'write.delete.mode'='merge-on-read-equality', "
        "'write.delete.equality-columns'='id')"
    )
    lake.sql("INSERT INTO polaris.test_db.ext_read VALUES (1, 'a'), (2, 'b')")
    lake.sql("ALTER TABLE polaris.test_db.ext_read ADD COLUMN email STRING")
    lake.sql("ALTER TABLE polaris.test_db.ext_read RENAME COLUMN email TO contact")
    lake.sql("DELETE FROM polaris.test_db.ext_read WHERE id = 2")
    lake.sql("INSERT INTO polaris.test_db.ext_read VALUES (2, 'reborn', 'r@e.com')")
    # CALL system.register_table (reference README.md:28): attach the
    # ext_read fixture's OPEN metadata under a second name, as if it were
    # a foreign table — SELECT/JOIN on the registered name then runs
    # through sources/iceberg_reader.py, not the private snapshot log
    ext_path = lake.wh.table("test_db", "ext_read").path
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext_db.mirror', "
        f"metadata_file => '{ext_path}')"
    )
    # foreign-CDC fixture: a merge-on-read table whose changelog is later
    # consumed from the OPEN metadata alone (ref_foreign_changes)
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.cdc_src (id INT, v STRING) "
        "USING ICEBERG TBLPROPERTIES ('write.delete.mode'='merge-on-read')"
    )
    lake.sql("INSERT INTO polaris.test_db.cdc_src VALUES (1, 'a'), (2, 'b')")
    lake.sql("INSERT INTO polaris.test_db.cdc_src VALUES (3, 'c')")
    lake.sql("DELETE FROM polaris.test_db.cdc_src WHERE id = 2")
    # deletion-vector fixture (Iceberg v3): a single-file foreign table
    # whose positional deletes commit as Puffin roaring-bitmap blobs —
    # an explicit DV delete (bumps to format-version 3), a plain delete
    # that auto-routes to a DV on the now-v3 table (merging + superseding
    # the first blob), and an UPDATE whose tombstone rides the DV path in
    # the same snapshot as its rewritten row
    from minio_iceberg_polaris_lakehouse_spark.iceberg_export import (
        write_iceberg_metadata,
    )
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        append_iceberg_table,
        delete_iceberg_table_where,
        update_iceberg_table_where,
    )

    dv_tab = lake.wh.create_table("test_db", "dv_demo", "id int, v string")
    write_iceberg_metadata(dv_tab)
    append_iceberg_table(
        spark,
        dv_tab.path,
        spark.createDataFrame(
            [(i, chr(ord("a") + i)) for i in range(6)], "id int, v string"
        ).coalesce(1),
    )
    delete_iceberg_table_where(spark, dv_tab.path, "id IN (0, 4)", dv=True)
    delete_iceberg_table_where(spark, dv_tab.path, "id = 2")  # auto-DV at v3
    update_iceberg_table_where(spark, dv_tab.path, {"v": "upper(v)"}, "id = 1")
    # migrate-in-place fixture: a pre-lakehouse parquet directory brought
    # in by CALL system.snapshot (zero-copy add_files import), then
    # grown by a normal engine INSERT (ref_migrated_table)
    legacy = os.path.join(lake.wh.root, "_legacy_parquet")
    spark.createDataFrame(
        [(10, "legacy-a"), (11, "legacy-b")], "id int, v string"
    ).coalesce(1).write.mode("overwrite").parquet(legacy)
    lake.sql(
        f"CALL polaris.system.snapshot(source_table => '{legacy}', "
        "table => 'migrated.legacy')"
    )
    lake.sql("INSERT INTO migrated.legacy VALUES (12, 'engine-c')")
    # ANALYZE fixture: persisted table/column statistics (Iceberg 1.4's
    # CALL system.compute_table_stats; Spark's ANALYZE TABLE). HLL NDV is
    # deterministic for a fixed dataset, and the fixture is tiny enough
    # that the sketch is exact — so the stats are literal-checkable
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.stats_demo "
        "(id INT, v STRING, amt DECIMAL(10,2)) USING ICEBERG"
    )
    lake.sql(
        "INSERT INTO polaris.test_db.stats_demo VALUES "
        "(1, 'a', 10.50), (2, 'b', 20.00), (3, NULL, 10.50), (4, 'a', NULL)"
    )
    lake.sql("ANALYZE TABLE polaris.test_db.stats_demo COMPUTE STATISTICS FOR ALL COLUMNS")
    # default-values fixture (Iceberg v3): two rows committed, THEN two
    # defaulted columns added, THEN one row with stored values
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.defaults_demo "
        "(id INT, v STRING) USING ICEBERG"
    )
    lake.sql("INSERT INTO polaris.test_db.defaults_demo VALUES (1, 'a'), (2, 'b')")
    lake.sql("ALTER TABLE polaris.test_db.defaults_demo ADD COLUMN score INT DEFAULT 7")
    lake.sql(
        "ALTER TABLE polaris.test_db.defaults_demo ADD COLUMN tag STRING DEFAULT 'none'"
    )
    lake.sql("INSERT INTO polaris.test_db.defaults_demo VALUES (3, 'c', 30, 'real')")
    # row-lineage fixture (Iceberg v3): two appends carve ids 0..2 and 3,
    # a copy-on-write UPDATE preserves identity while bumping the matched
    # row's update sequence, compaction + a copy-on-write DELETE rewrite
    # the data twice more WITHOUT changing any surviving row's id
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.lineage_demo "
        "(id INT, v STRING) USING ICEBERG"
    )
    lake.sql("INSERT INTO polaris.test_db.lineage_demo VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    lake.sql("INSERT INTO polaris.test_db.lineage_demo VALUES (4, 'd')")
    lake.sql("UPDATE polaris.test_db.lineage_demo SET v = 'B' WHERE id = 2")
    lake.sql(
        "CALL polaris.system.rewrite_data_files(table => 'test_db.lineage_demo')"
    )
    lake.sql("DELETE FROM polaris.test_db.lineage_demo WHERE id = 3")
    # full-matrix MERGE fixture: ordered matched arms (DELETE negatives,
    # rewrite zeros), conditional INSERT, and the NOT MATCHED BY SOURCE
    # UPDATE sync arm — one statement exercising every clause family
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.merge_matrix "
        "(id INT, bal INT, status STRING) USING ICEBERG"
    )
    lake.sql(
        "INSERT INTO polaris.test_db.merge_matrix VALUES "
        "(1, 100, 'ok'), (2, -5, 'ok'), (3, 0, 'ok'), (4, 50, 'ok')"
    )
    lake.sql(
        "MERGE INTO polaris.test_db.merge_matrix t USING (SELECT * FROM VALUES "
        "(1, 7, 'x'), (2, 0, 'x'), (3, 0, 'x'), (8, 80, 'new'), (9, -1, 'new') "
        "AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN MATCHED AND t.bal < 0 THEN DELETE "
        "WHEN MATCHED AND t.bal = 0 THEN UPDATE SET status = 'zeroed' "
        "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.bal "
        "WHEN NOT MATCHED AND s.bal > 0 THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'"
    )
    _LAKES[key] = lake
    return lake


@register(
    "ref_select_star",
    oracle=f"SELECT id, name FROM {_TEST_TABLE_DUCK} ORDER BY id",
)
def ref_select_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getting_started.ipynb:102 `SELECT * FROM test_table` → Hello/World,
    via the SQL front-end against the warehouse table."""
    return _lake(spark).sql("SELECT id, name FROM polaris.test_db.test_table ORDER BY id")


@register(
    "ref_count_star",
    oracle=f"SELECT CAST(COUNT(*) AS BIGINT) AS total FROM {_TEST_TABLE_DUCK}",
)
def ref_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getting_started.ipynb:160 `SELECT COUNT(*) as total` → 2."""
    return _lake(spark).sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS total FROM polaris.test_db.test_table"
    )


@register(
    "ref_filter_gt",
    oracle=f"SELECT id, name, email, created_date FROM {_USERS_DUCK} WHERE id > 2 ORDER BY id",
)
def ref_filter_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iceberg_queries.ipynb:171 `SELECT * FROM polaris.my_warehouse.users
    WHERE id > 2` (3-part name through the front-end)."""
    return _lake(spark).sql(
        "SELECT id, name, email, created_date FROM polaris.my_warehouse.users "
        "WHERE id > 2 ORDER BY id"
    )


@register(
    "ref_filter_select",
    oracle=f"SELECT name, email FROM {_USERS_DUCK} WHERE id > 1 ORDER BY name",
)
def ref_filter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iceberg_queries.ipynb:233-234 `spark.table("my_warehouse.users")
    .filter(df.id > 1).select("name","email")` — the DataFrame entry point
    of the front-end."""
    users = _lake(spark).table("my_warehouse.users")
    return users.filter(users.id > 1).select("name", "email").orderBy("name")


@register(
    "ref_join_users_orders",
    oracle=f"""
    SELECT u.name, u.email, o.order_id, CAST(o.amount AS DOUBLE) AS amount
    FROM {_USERS_DUCK.replace("AS users(", "AS u(")}
    JOIN {_ORDERS_DEC_DUCK} ON u.id = o.user_id
    ORDER BY o.order_id
    """,
)
def ref_join_users_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iceberg_queries.ipynb:291-299: users⋈orders ORDER BY order_id, with
    2-part default-catalog names exactly as the notebook writes them
    (amount cast to DOUBLE on both sides for a width-free hash compare)."""
    return _lake(spark).sql(
        """
        SELECT u.name, u.email, o.order_id, CAST(o.amount AS DOUBLE) AS amount
        FROM my_warehouse.users u
        JOIN my_warehouse.orders o ON u.id = o.user_id
        ORDER BY o.order_id
        """
    )


@register(
    "ref_join_users_orders_decimal",
    oracle=f"""
    SELECT u.name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(o.amount) AS DOUBLE) AS min_amount,
           CAST(SUM(o.amount) AS DOUBLE) AS total_spent
    FROM {_USERS_DUCK.replace("AS users(", "AS u(")}
    JOIN {_ORDERS_DEC_DUCK} ON u.id = o.user_id
    GROUP BY u.name
    ORDER BY u.name
    """,
)
def ref_join_users_orders_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL(10,2) end-to-end (reference iceberg_queries.ipynb:257
    `amount DECIMAL(10,2)`): the warehouse column IS DecimalType(10,2) —
    created by the SQL front-end — and decimal min/sum flow through
    storage, the join, and the aggregation. Only the FINAL projection
    casts the two decimal outputs to DOUBLE (pattern proven by
    `ref_join_users_orders`): the driver's hasher renders decimals
    differently per engine (DuckDB→pandas float64 vs Spark Decimal), so a
    decimal-typed output hash-mismatches even when values are identical."""
    return _lake(spark).sql(
        """
        SELECT u.name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(o.amount) AS DOUBLE) AS min_amount,
               CAST(SUM(o.amount) AS DOUBLE) AS total_spent
        FROM my_warehouse.users u
        JOIN my_warehouse.orders o ON u.id = o.user_id
        GROUP BY u.name
        ORDER BY u.name
        """
    )


@register(
    "ref_duplicate_append",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS total, CAST(COUNT(DISTINCT id) AS BIGINT) AS distinct_ids
    FROM (SELECT * FROM {_TEST_TABLE_DUCK}
          UNION ALL
          SELECT * FROM {_TEST_TABLE_DUCK.replace("test_table(", "test_table2(")}) dup
    """,
)
def ref_duplicate_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT is append-only — the fixture ran the same INSERT INTO twice
    (SETUP_GUIDE_WIN.md:362-371): 4 rows, 2 distinct ids. The engine must
    NOT dedup on append."""
    return _lake(spark).sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS total, "
        "CAST(COUNT(DISTINCT id) AS BIGINT) AS distinct_ids "
        "FROM polaris.test_db.test_table_dup"
    )


@register(
    "ref_schema_evolution",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a', CAST(NULL AS VARCHAR)),
        (2, 'b', CAST(NULL AS VARCHAR)),
        (3, 'c', 'c@example.com'))
        AS e(id, name, contact)
    ORDER BY id
    """,
)
def ref_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution (D10) end-to-end through SQL DDL: ADD COLUMN is
    metadata-only with NULL backfill on read for pre-evolution rows
    (reference README.md:132-133; 'Schema evolution works (ADD COLUMN)'
    success criterion SETUP_GUIDE_WIN.md:464), and RENAME preserves values
    — the fixture inserted two rows, added `email`, inserted a third with
    it, then renamed it to `contact`."""
    return _lake(spark).sql(
        "SELECT id, name, contact FROM polaris.test_db.evolution ORDER BY id"
    )


@register(
    "ref_mor_delete",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a', false), (2, 'b', true), (3, 'c', false), (4, 'd', true))
        AS m(id, v, was_deleted)
    ORDER BY id
    """,
)
def ref_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (Iceberg v2, M1): the fixture table deleted
    ids 2 and 4 via positional tombstones — the data files are untouched
    and a metadata scan surfaces every row with its live `_deleted` flag
    (the inspect-deleted-rows workflow behind the reference's `_deleted
    boolean` metadata column, getting_started.ipynb:128-132). Normal
    SELECTs (checked by the fixture's own pytest) exclude the tombstoned
    rows."""
    return _lake(spark).sql(
        "SELECT id, v, _deleted AS was_deleted FROM polaris.test_db.mor ORDER BY id"
    )


# ---------------------------------------------------------------------------
# Metadata-table + time-travel goldens: the fixture transcript is fully
# deterministic (snapshot ids, parents, operations, row counts), so these
# warehouse features get literal-VALUES oracles — making S3/S4/S5 of
# SURVEY §2.1 driver-verified rather than pytest-only.
# ---------------------------------------------------------------------------
@register(
    "ref_table_history",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS snapshot_id,
           CAST(NULL AS BIGINT) AS parent_id,
           true AS is_current_ancestor
    """,
)
def ref_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<table>.history metadata table (reference getting_started.ipynb:166)
    through the SQL front-end: users got exactly one INSERT, so its history
    is one root snapshot."""
    return _lake(spark).sql(
        "SELECT snapshot_id, parent_id, is_current_ancestor "
        "FROM polaris.my_warehouse.users.history"
    )


@register(
    "ref_table_snapshots",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(NULL AS BIGINT), 'append', '2'),
        (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'append', '2'))
        AS s(snapshot_id, parent_id, operation, added_records)
    ORDER BY snapshot_id
    """,
)
def ref_table_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<table>.snapshots metadata table (reference
    getting_started.ipynb:144-152): the duplicate-append table committed
    the same 2-row INSERT twice → two append snapshots chained by
    parent_id, each summarizing added-records=2."""
    return _lake(spark).sql(
        "SELECT snapshot_id, parent_id, operation, summary['added-records'] AS added_records "
        "FROM polaris.test_db.test_table_dup.snapshots ORDER BY snapshot_id"
    )


@register(
    "ref_time_travel_counts",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS v1_rows, CAST(4 AS BIGINT) AS v2_rows
    """,
)
def ref_time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION AS OF time travel (reference warehouse_helpers.py:134,
    iceberg_queries.ipynb:321) through the SQL front-end: the
    duplicate-append table had 2 rows at snapshot 1 and 4 at snapshot 2;
    both reads stay snapshot-isolated in one statement."""
    return _lake(spark).sql(
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) "
        "        FROM polaris.test_db.test_table_dup VERSION AS OF 1) AS v1_rows, "
        "       (SELECT CAST(COUNT(*) AS BIGINT) "
        "        FROM polaris.test_db.test_table_dup VERSION AS OF 2) AS v2_rows"
    )


@register(
    "ref_table_changes",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a', 'insert', CAST(1 AS BIGINT), 0),
        (2, 'b', 'insert', CAST(1 AS BIGINT), 0),
        (3, 'c', 'insert', CAST(1 AS BIGINT), 0),
        (4, 'd', 'insert', CAST(1 AS BIGINT), 0),
        (2, 'b', 'delete', CAST(2 AS BIGINT), 1),
        (4, 'd', 'delete', CAST(2 AS BIGINT), 1))
        AS c(id, v, change_type, commit_snapshot_id, change_ordinal)
    ORDER BY change_ordinal, id
    """,
)
def ref_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog scan (Iceberg's `CALL system.create_changelog_view`)
    end-to-end through the SQL front-end: the merge-on-read fixture
    committed one 4-row INSERT (snapshot 1) then tombstoned ids 2 and 4
    (snapshot 2), so its changelog is four tagged inserts followed by two
    tagged deletes — the feed a downstream consumer applies to stay in
    sync. The reference's Iceberg catalog advertises exactly this
    snapshot/CDC machinery (README.md:119-142 snapshots; v2 row-level
    deletes)."""
    lake = _lake(spark)
    lake.sql(
        "CALL polaris.system.create_changelog_view(table => 'test_db.mor', "
        "changelog_view => 'mor_changes')"
    )
    return lake.sql(
        "SELECT id, v, _change_type AS change_type, "
        "_commit_snapshot_id AS commit_snapshot_id, _change_ordinal AS change_ordinal "
        "FROM mor_changes ORDER BY change_ordinal, id"
    )


@register(
    "ref_wap_publish",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS rows_before,
           CAST(2 AS BIGINT) AS rows_staged,
           CAST(2 AS BIGINT) AS rows_published,
           CAST(1 AS BIGINT) AS unpublished_snapshots
    """,
)
def ref_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (Iceberg WAP, §2.11 transactions): the fixture
    staged an INSERT on the `audit` branch under `SET spark.wap.branch`
    (snapshot 2 — never an ancestor of main, as history records), audited
    it via `VERSION AS OF 'audit'`, then published with
    `CALL system.fast_forward`. Main showed 1 row before the publish
    (snapshot 1), the branch showed 2, and main shows 2 after — the
    atomic-visibility contract the reference's catalog documents
    (README.md:124 'If a write fails, nothing changes')."""
    return _lake(spark).sql(
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) "
        "        FROM polaris.test_db.wapdemo VERSION AS OF 1) AS rows_before, "
        "       (SELECT CAST(COUNT(*) AS BIGINT) "
        "        FROM polaris.test_db.wapdemo VERSION AS OF 'audit') AS rows_staged, "
        "       (SELECT CAST(COUNT(*) AS BIGINT) "
        "        FROM polaris.test_db.wapdemo) AS rows_published, "
        "       (SELECT CAST(COUNT(*) AS BIGINT) FROM polaris.test_db.wapdemo.history "
        "        WHERE NOT is_current_ancestor) AS unpublished_snapshots"
    )


@register(
    "ref_file_skipping",
    oracle="""
    SELECT * FROM (VALUES (10, 'x'), (11, 'y')) AS s(id, v) ORDER BY id
    """,
)
def ref_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-time file skipping from manifest statistics (reference
    README.md:138-139 "computing statistics ... fast even with billions of
    files"; pruning path README.md:178). The fixture table is WRITE ORDERED
    BY (id) and holds two disjoint-range commits ([1,3] and [10,12]); this
    BETWEEN scan drops the first commit's files from footer bounds alone —
    Spark never lists them (pinned by tests/test_file_skipping.py). The
    driver gate verifies the surviving rows are exactly right."""
    lake = _lake(spark)
    tab = lake.wh.table("test_db", "skip_demo")
    return tab.scan(between={"id": (10, 11)}).orderBy("id")


@register(
    "ref_merge_delete",
    oracle="""
    SELECT * FROM (VALUES (1, 'a'), (3, 'c'), (9, 'new')) AS m(id, v) ORDER BY id
    """,
)
def ref_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE ... WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT * —
    the reference's dedup-remediation recipe ('Use MERGE or DELETE +
    INSERT', SETUP_GUIDE_WIN.md:368). The fixture merged VALUES (2,..),
    (4,..), (9,'new') into {1,2,3,4}: matched keys 2 and 4 dropped,
    unmatched 9 inserted."""
    return _lake(spark).sql("SELECT id, v FROM polaris.test_db.merge_del ORDER BY id")


@register(
    "ref_external_reader",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a', CAST(NULL AS VARCHAR)), (2, 'reborn', 'r@e.com'))
        AS e(id, name, contact)
    ORDER BY id
    """,
)
def ref_external_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The open-format promise, consumer side (reference README.md:
    169-178): read the ext_read fixture back through sources/
    iceberg_reader.py — version-hint → metadata JSON → Avro manifests →
    parquet + positional deletes, with FIELD-ID schema alignment — using
    none of the engine's private snapshot log. The fixture stacks the
    hard cases: a column added then renamed (old files NULL-fill via id
    mapping), an equality delete compiled to positional form, and a
    deleted key re-inserted after (sequence rule: survives)."""
    from pyspark.sql import functions as F

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    lake = _lake(spark)
    tab = lake.wh.table("test_db", "ext_read")
    return read_iceberg_table(spark, tab.path).orderBy(F.col("id"))


@register(
    "ref_dv_roundtrip",
    oracle="""
    SELECT * FROM (VALUES (1, 'B'), (3, 'd'), (5, 'f')) AS d(id, v)
    ORDER BY id
    """,
)
def ref_dv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 deletion vectors end-to-end: the dv_demo fixture's
    deletes live ONLY as Puffin roaring-bitmap blobs (an explicit DV
    delete, an auto-routed one that merged + superseded it to a single
    live blob, and an UPDATE tombstone sharing a snapshot with its
    rewritten row). This read decodes the blobs executor-side
    (sources/iceberg_reader._dv_tombstones) and must return exactly the
    survivors — ids 0, 2, 4 dead, id 1 rewritten to 'B'."""
    from pyspark.sql import functions as F

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    lake = _lake(spark)
    tab = lake.wh.table("test_db", "dv_demo")
    return read_iceberg_table(spark, tab.path).orderBy(F.col("id"))


@register(
    "ref_foreign_changes",
    oracle="""
    SELECT * FROM (VALUES
        (2, 'b', 'delete', CAST(3 AS BIGINT), 1),
        (3, 'c', 'insert', CAST(2 AS BIGINT), 0))
        AS c(id, v, _change_type, _commit_snapshot_id, _change_ordinal)
    ORDER BY _commit_snapshot_id, id
    """,
)
def ref_foreign_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog consumed from the OPEN metadata alone
    (sources/iceberg_reader.changes_iceberg_table): the cdc_src fixture
    committed insert(1,2) → insert(3) → MOR-delete(2); the changelog
    from snapshot 1 tags (3,insert @2) and (2,delete @3) — the
    bronze→silver consumption pattern over any Iceberg table, no
    private snapshot log involved."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        changes_iceberg_table,
    )

    lake = _lake(spark)
    tab = lake.wh.table("test_db", "cdc_src")
    return changes_iceberg_table(spark, tab.path, 1).orderBy(
        "_commit_snapshot_id", "id"
    )


@register(
    "ref_register_foreign",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a', CAST(NULL AS VARCHAR), 'Hello'),
        (2, 'reborn', 'r@e.com', 'World'))
        AS e(id, name, contact, tname)
    ORDER BY id
    """,
)
def ref_register_foreign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`CALL system.register_table` end-to-end through the SQL path
    (reference README.md:28: "re-register existing Iceberg tables by
    pointing to their metadata files"): the fixture registered
    test_db.ext_read's open metadata as ext_db.mirror; this SELECT
    joins the REGISTERED name (resolved via sources/iceberg_reader.py —
    schema evolution + compiled deletes + resurrection all applied)
    against a NATIVE table in the same statement."""
    return _lake(spark).sql(
        """
        SELECT m.id, m.name, m.contact, t.name AS tname
        FROM ext_db.mirror m
        JOIN test_db.test_table t ON m.id = t.id
        ORDER BY m.id
        """
    )


@register(
    "ref_foreign_metadata",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(NULL AS BIGINT), 'append', CAST(3 AS BIGINT), CAST(1 AS BIGINT), TRUE),
        (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'delete', CAST(3 AS BIGINT), CAST(1 AS BIGINT), TRUE),
        (CAST(3 AS BIGINT), CAST(2 AS BIGINT), 'append', CAST(3 AS BIGINT), CAST(1 AS BIGINT), TRUE))
        AS e(snapshot_id, parent_id, operation, live_records, tombstones, is_current_ancestor)
    ORDER BY snapshot_id
    """,
)
def ref_foreign_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata tables on a REGISTERED foreign table, derived purely from
    the open Iceberg metadata (reference README.md:169-178 "any engine"):
    .snapshots (parent chain + operations from the summary), .files
    (manifest-recorded record counts for data files and positional
    tombstones), and .history's ancestry flag, joined in one SQL
    statement over the ext_db.mirror registration — column-compatible
    with the native metadata views, no private snapshot log touched."""
    return _lake(spark).sql(
        """
        SELECT s.snapshot_id, s.parent_id, s.operation,
               f.live_records, f.tombstones, h.is_current_ancestor
        FROM ext_db.mirror.snapshots s
        CROSS JOIN (
            SELECT CAST(SUM(CASE WHEN content = 0 THEN record_count END) AS BIGINT)
                       AS live_records,
                   CAST(SUM(CASE WHEN content = 1 THEN record_count END) AS BIGINT)
                       AS tombstones
            FROM ext_db.mirror.files
        ) f
        JOIN ext_db.mirror.history h ON h.snapshot_id = s.snapshot_id
        ORDER BY s.snapshot_id
        """
    )


@register(
    "ref_migrated_table",
    oracle="""
    SELECT * FROM (VALUES
        (10, 'legacy-a', CAST(2 AS BIGINT)),
        (11, 'legacy-b', CAST(2 AS BIGINT)),
        (12, 'engine-c', CAST(2 AS BIGINT)))
        AS e(id, v, n_snapshots)
    ORDER BY id
    """,
)
def ref_migrated_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migrate-in-place end to end (Iceberg's `snapshot`/`add_files`
    procedures): a pre-lakehouse parquet directory became table
    migrated.legacy via CALL system.snapshot — ZERO bytes copied, footer
    stats harvested for file skipping — and a normal engine INSERT then
    grew it. The SELECT proves imported and engine-written rows read as
    one table; n_snapshots pins the expected commit count (import +
    insert) via a scalar subquery over the metadata view."""
    return _lake(spark).sql(
        """
        SELECT l.id, l.v,
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM migrated.legacy.snapshots) AS n_snapshots
        FROM migrated.legacy l
        ORDER BY l.id
        """
    )


@register(
    "ref_analyze_stats",
    oracle="""
    SELECT * FROM (VALUES
        ('amt', CAST(1 AS BIGINT), CAST(2 AS BIGINT), '10.50', '20.00', FALSE),
        ('id',  CAST(0 AS BIGINT), CAST(4 AS BIGINT), '1', '4', FALSE),
        ('v',   CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'a', 'b', FALSE))
        AS s("column", null_count, ndv, "min", "max", stale)
    ORDER BY "column"
    """,
)
def ref_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANALYZE statistics (Iceberg 1.4's
    CALL system.compute_table_stats; Spark's ANALYZE TABLE ... FOR ALL
    COLUMNS): the stats_demo fixture was analyzed at build time, and this
    reads the stored per-column stats back — null counts, HLL NDV (exact
    at fixture size), min/max, and the staleness flag (FALSE: no commit
    landed after the ANALYZE). One distributed aggregate computed them;
    map-side partial sketches are what make the same plan hold at 100 TB."""
    return _lake(spark).wh.table("test_db", "stats_demo").column_stats().orderBy("column")


_PSTATS_DONE: dict[str, bool] = {}


@register(
    "ref_puffin_stats",
    oracle="""
    SELECT * FROM (VALUES
        ('amt', CAST(2 AS BIGINT), CAST(2 AS BIGINT)),
        ('id',  CAST(4 AS BIGINT), CAST(4 AS BIGINT)),
        ('v',   CAST(2 AS BIGINT), CAST(2 AS BIGINT)))
        AS s("column", ndv, ndv_property)
    ORDER BY "column"
    """,
)
def ref_puffin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE statistics in the OPEN format: the stats_demo fixture's
    ANALYZE wrote per-column apache-datasketches-theta-v1 sketches into
    a Puffin statistics file referenced from the exported Iceberg
    metadata's `statistics` list (theta.py — the compact-sketch codec is
    byte-cross-validated against org.apache.datasketches both ways,
    tests/test_theta.py). This golden re-REGISTERS the exported metadata
    as a foreign table and reads `.statistics` from the open documents
    alone: `ndv` is decoded from the sketch BYTES by the standalone
    reader, `ndv_property` is the writer-stamped blob property — equal
    columns prove the blob really is a DataSketches sketch (exact at
    fixture NDV ≪ k=4096). Completes the reference's "any engine reads
    the table" story (README.md:169-178) for statistics the way r7's
    deletion vectors completed it for deletes."""
    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _PSTATS_DONE:
            tab = lake.wh.table("test_db", "stats_demo")
            lake.sql(
                "CALL polaris.system.register_table("
                f"table => 'ext.stats_demo', metadata_file => '{tab.path}')"
            )
            _PSTATS_DONE[key] = True
    return lake.sql(
        "SELECT column, ndv, ndv_property FROM ext.stats_demo.statistics "
        "ORDER BY column"
    )


@register(
    "ref_default_values",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a', 7, 'none'), (2, 'b', 7, 'none'), (3, 'c', 30, 'real'))
        AS d(id, v, score, tag)
    ORDER BY id
    """,
)
def ref_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 default column values through the SQL path: the
    defaults_demo fixture added `score INT DEFAULT 7` and `tag STRING
    DEFAULT 'none'` AFTER its first two rows were committed — those
    pre-evolution files read the defaults (metadata-only backfill, no
    rewrite), while the post-evolution row keeps its stored values."""
    return _lake(spark).sql("SELECT id, v, score, tag FROM polaris.test_db.defaults_demo ORDER BY id")


@register(
    "ref_merge_matrix",
    oracle="""
    SELECT * FROM (VALUES
        (1, 107, 'ok'), (3, 0, 'zeroed'), (4, 50, 'stale'), (8, 80, 'new'))
        AS m(id, bal, status)
    ORDER BY id
    """,
)
def ref_merge_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MERGE clause matrix in one statement (warehouse.
    merge_into_arms via the SQL general form): ordered matched arms —
    negative balances DELETE (id 2 gone), zero balances rewrite status
    (id 3), the catch-all arm adds balances (id 1: 100+7) — a
    conditional INSERT admits only positive rows (id 8 in, id 9 out),
    and the NOT MATCHED BY SOURCE UPDATE sync arm flags rows the source
    no longer carries (id 4 'stale'). Spark 3.5 / Iceberg MERGE
    semantics, first-matching-arm-fires."""
    return _lake(spark).sql(
        "SELECT id, bal, status FROM polaris.test_db.merge_matrix ORDER BY id"
    )


@register(
    "ref_row_lineage",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a', CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
        (2, 'B', CAST(1 AS BIGINT), CAST(3 AS BIGINT)),
        (4, 'd', CAST(3 AS BIGINT), CAST(2 AS BIGINT)))
        AS l(id, v, row_id, last_upd_seq)
    ORDER BY id
    """,
)
def ref_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE through the SQL path (the reader's
    `row_lineage` / `_write_data(lineage_cols=True)`): the
    lineage_demo fixture appended ids 1-3 (row ids 0-2, sequence 1) and
    id 4 (row id 3, sequence 2), then a copy-on-write UPDATE of id 2
    (sequence 3), a full compaction rewrite (sequence 4), and a
    copy-on-write DELETE of id 3 (sequence 5). Row identity survives all
    THREE rewrites — `_row_id` still tells which INSERT each row came
    from — while `_last_updated_sequence_number` pins the UPDATE commit
    on id 2 only (compaction/delete rewrites carry rows, they don't
    update them). Appended rows' ids derive from commit-assigned
    first-row-id + file offset + position (zero per-row storage);
    rewrites materialize them (the spec's inheritance + preservation
    rules)."""
    return _lake(spark).sql(
        "SELECT id, v, _row_id AS row_id, "
        "_last_updated_sequence_number AS last_upd_seq "
        "FROM polaris.test_db.lineage_demo ORDER BY id"
    )


# Materialized-view golden: per-application mode cache so the fixture
# builds (and its REFRESH runs) exactly once per Spark app — re-invoking
# the query returns the identical stable result. The build flag is
# tracked SEPARATELY from the mode so a REFRESH that fails loud (below)
# can never cause a retried invocation to re-run the INSERT transcript
# (which would silently duplicate fixture rows).
_MV_MODE: dict[str, str] = {}
_MV_BUILT: dict[str, bool] = {}
# first REFRESH failure per (app, golden) — retries re-raise the ORIGINAL
# cause (see _refresh_checked)
_REFRESH_FAILED: dict[tuple[str, str], str] = {}


def _refresh_checked(
    lake, spark: SparkSession, golden: str, stmt: str, built: dict | None = None
) -> str:
    """Run REFRESH MATERIALIZED VIEW and FAIL LOUD if the incremental
    path did not run.

    Two driver rounds produced silent hash mismatches on the MV goldens
    (mode interpolated into the result; rows+schema matched, values
    didn't) while every local reproduction ran 'incremental'. A
    downgrade ('full'), a 'noop' (refresh saw no new base snapshot), or
    any other mode now raises with the full REFRESH result row, so the
    driver records a *named cause* in its `err` column instead of an
    undiagnosable wrong hash. The FIRST failure is cached per
    (app, golden): a retried invocation re-raises the original cause
    instead of a masking 'noop' (the failed refresh already advanced
    the synced snapshot, so a re-run reports nothing to do). The cached
    re-raise also CLEARS the failure and the golden's built flag
    (``built``): a genuinely transient first failure gets one faithful
    replay for the driver's `err` column, then the next invocation
    drops and rebuilds the fixture from scratch instead of replaying
    the stale error forever within one app."""
    fkey = (spark.sparkContext.applicationId, golden)
    if fkey in _REFRESH_FAILED:
        msg = _REFRESH_FAILED.pop(fkey)
        if built is not None:
            built.pop(fkey[0], None)
        raise RuntimeError(msg)
    row = lake.sql(stmt).collect()[0]
    if row.mode != "incremental":
        msg = (
            f"{golden}: REFRESH ran mode={row.mode!r} instead of "
            f"'incremental' (downgrade_reason={row.downgrade_reason!r}, "
            f"synced_snapshot={row.synced_snapshot!r})"
        )
        _REFRESH_FAILED[fkey] = msg
        raise RuntimeError(msg)
    return row.mode


@register(
    "ref_matview_incremental",
    oracle="""
    SELECT * FROM (VALUES
        ('eu', CAST(16.50 AS DOUBLE), CAST(3 AS BIGINT), 'incremental'),
        ('us', CAST(7.25 AS DOUBLE), CAST(1 AS BIGINT), 'incremental'))
        AS m(region, total, n, mode)
    ORDER BY region
    """,
)
def ref_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view maintained INCREMENTALLY from the Iceberg CDC
    changelog (matview.py): a SUM/COUNT grouped aggregate over a sales
    table is materialized, then the base takes two INSERTs and a DELETE
    (the lone 'ap' row), and REFRESH folds the signed changelog deltas
    into the stored groups — the 'ap' group disappears when its row
    count hits zero, 'eu' absorbs its insert. The `mode` column is the
    REAL refresh result: 'incremental' proves the changelog path ran
    (O(changed data)), not a base rescan. The reference's Iceberg
    snapshot/CDC machinery (README.md:119-142) is exactly the substrate
    lakehouse MVs are built on."""
    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _MV_MODE:
            if not _MV_BUILT.get(key):
                # idempotent-by-reset: a torn earlier attempt (crash
                # mid-transcript) left partial state the non-idempotent
                # INSERTs would double — drop and rebuild from scratch
                lake.sql("DROP MATERIALIZED VIEW IF EXISTS test_db.sales_mv")
                lake.sql("DROP TABLE IF EXISTS polaris.test_db.mv_sales")
                lake.sql(
                    "CREATE TABLE polaris.test_db.mv_sales "
                    "(region STRING, amount DECIMAL(10,2)) USING ICEBERG"
                )
                lake.sql(
                    "INSERT INTO test_db.mv_sales VALUES ('eu', 10.00), ('eu', 5.50), ('us', 7.25)"
                )
                lake.sql(
                    "CREATE MATERIALIZED VIEW test_db.sales_mv AS "
                    "SELECT region, SUM(amount) AS total, COUNT(*) AS n "
                    "FROM test_db.mv_sales GROUP BY region"
                )
                lake.sql("INSERT INTO test_db.mv_sales VALUES ('eu', 1.00), ('ap', 2.00)")
                lake.sql("DELETE FROM test_db.mv_sales WHERE region = 'ap'")
                _MV_BUILT[key] = True
            _MV_MODE[key] = _refresh_checked(
                lake,
                spark,
                "ref_matview_incremental",
                "REFRESH MATERIALIZED VIEW test_db.sales_mv",
                built=_MV_BUILT,
            )
        mode = _MV_MODE[key]
    # CAST(total AS DOUBLE): presentation-only — the STORED MV column
    # stays DECIMAL(20,2) (pinned by test_matview.py). The driver's
    # hasher renders decimals differently per engine (see the rule at
    # the top of this file), so compared output must not carry
    # DecimalType; registry.py now enforces this at registration.
    out = lake.sql(
        f"SELECT region, CAST(total AS DOUBLE) AS total, n, '{mode}' AS mode "
        "FROM test_db.sales_mv ORDER BY region"
    )
    return out


_MVJ_MODE: dict[str, str] = {}
_MVJ_BUILT: dict[str, bool] = {}


@register(
    "ref_matview_join",
    oracle="""
    SELECT * FROM (VALUES
        ('gold', CAST(19.99 AS DOUBLE), CAST(2 AS BIGINT), 'incremental'),
        ('silver', CAST(10.00 AS DOUBLE), CAST(2 AS BIGINT), 'incremental'))
        AS m(segment, total, n, mode)
    ORDER BY segment
    """,
)
def ref_matview_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN materialized view maintained INCREMENTALLY by the delta-join
    rule Δ(A⋈B) = ΔA⋈B_new ∪ A_old⋈ΔB (matview.py): a fact⋈dimension
    grouped aggregate is materialized, then BOTH bases churn — fact
    inserts (one referencing a customer that doesn't exist yet), a NEW
    dimension row that retroactively matches it (the A_old⋈ΔB term),
    and a fact DELETE (signed fold). REFRESH reads the two changelog
    windows plus one pinned read per base — never a joint rescan — and
    the `mode` column is the REAL refresh result proving the delta-join
    path ran. Same Iceberg snapshot/CDC substrate as the reference's
    README.md:119-142."""
    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _MVJ_MODE:
            if not _MVJ_BUILT.get(key):
                # idempotent-by-reset (see ref_matview_incremental)
                lake.sql(
                    "DROP MATERIALIZED VIEW IF EXISTS test_db.orders_by_segment"
                )
                lake.sql("DROP TABLE IF EXISTS polaris.test_db.jo_custs")
                lake.sql("DROP TABLE IF EXISTS polaris.test_db.jo_orders")
                lake.sql(
                    "CREATE TABLE polaris.test_db.jo_custs "
                    "(cust_id INT, segment STRING) USING ICEBERG"
                )
                lake.sql(
                    "CREATE TABLE polaris.test_db.jo_orders "
                    "(cust_id INT, amount DECIMAL(10,2)) USING ICEBERG"
                )
                lake.sql("INSERT INTO test_db.jo_custs VALUES (1, 'gold'), (2, 'silver')")
                lake.sql(
                    "INSERT INTO test_db.jo_orders VALUES (1, 10.00), (1, 2.50), (2, 4.00)"
                )
                lake.sql(
                    "CREATE MATERIALIZED VIEW test_db.orders_by_segment AS "
                    "SELECT c.segment, SUM(o.amount) AS total, COUNT(*) AS n "
                    "FROM test_db.jo_orders o JOIN test_db.jo_custs c "
                    "ON o.cust_id = c.cust_id GROUP BY c.segment"
                )
                lake.sql("INSERT INTO test_db.jo_orders VALUES (2, 6.00), (3, 9.99)")
                lake.sql("INSERT INTO test_db.jo_custs VALUES (3, 'gold')")
                lake.sql("DELETE FROM test_db.jo_orders WHERE amount = 2.50")
                _MVJ_BUILT[key] = True
            _MVJ_MODE[key] = _refresh_checked(
                lake,
                spark,
                "ref_matview_join",
                "REFRESH MATERIALIZED VIEW test_db.orders_by_segment",
                built=_MVJ_BUILT,
            )
        mode = _MVJ_MODE[key]
    # CAST(total AS DOUBLE): presentation-only, stored type unchanged
    # (see ref_matview_incremental).
    out = lake.sql(
        f"SELECT segment, CAST(total AS DOUBLE) AS total, n, '{mode}' AS mode "
        "FROM test_db.orders_by_segment ORDER BY segment"
    )
    return out


_PARTSTATS_DONE: dict[str, bool] = {}


@register(
    "ref_partition_stats",
    oracle="""
    SELECT '_p_identity_created_date=2025-01-0' || CAST(i AS VARCHAR) AS partition,
           CAST(1 AS BIGINT) AS record_count, CAST(1 AS INT) AS file_count,
           CAST(0 AS BIGINT) AS position_delete_record_count
    FROM generate_series(1, 4) AS g(i)
    ORDER BY partition
    """,
)
def ref_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg PARTITION STATISTICS in the open format: the users
    fixture (PARTITIONED BY created_date, iceberg_queries.ipynb:93-129)
    gets `CALL system.compute_partition_stats`, which writes the spec's
    per-partition stats Parquet and references it from the exported
    metadata's `partition-statistics` list; the result is read back
    through a FOREIGN registration's `.partitions` — i.e. from the open
    documents alone (reader raises rather than guessing when no stats
    file is published). Four date partitions, one row and one file
    each, zero delete rows."""
    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _PARTSTATS_DONE:
            lake.sql(
                "CALL polaris.system.compute_partition_stats("
                "table => 'my_warehouse.users')"
            )
            tab = lake.wh.table("my_warehouse", "users")
            lake.sql(
                "CALL polaris.system.register_table("
                f"table => 'ext.users_ps', metadata_file => '{tab.path}')"
            )
            _PARTSTATS_DONE[key] = True
    return lake.sql(
        "SELECT partition, record_count, file_count, "
        "position_delete_record_count "
        "FROM ext.users_ps.partitions ORDER BY partition"
    )


_SPEC_BUCKET_DONE: dict[str, bool] = {}


@register(
    "ref_spec_bucket",
    oracle="""
    SELECT * FROM (VALUES
        (0, 4), (1, 4), (2, 4), (3, 3), (4, 6),
        (5, 7), (6, 1), (7, 3), (8, 7), (9, 7))
        AS b(id, bucket)
    ORDER BY id
    """,
)
def ref_spec_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICEBERG-SPEC bucket partitioning end-to-end, BY DEFAULT (no
    TBLPROPERTIES opt-in since r9): a freshly created bucketed table
    physically places each row in the bucket the SPEC's murmur3_x86_32
    hash assigns (theta.murmur3_x86_32 — Guava-cross-validated, spec
    Appendix B vectors pinned). The returned bucket is parsed from each
    row's REAL file path (`_file` metadata column), and the oracle's
    literals are the spec's own bucket values for ids 0..9 under
    bucket[8] — a hash match proves any compliant engine would compute
    identical buckets for this table's files without any per-table
    configuration (write.bucket-hash='spark-murmur3-seed42' remains the
    JVM-hash escape hatch; pre-default tables keep their stamped
    hash)."""
    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _SPEC_BUCKET_DONE:
            lake.sql(
                "CREATE TABLE IF NOT EXISTS polaris.test_db.spec_bucket "
                "(id INT, v STRING) USING ICEBERG "
                "PARTITIONED BY (bucket(8, id))"
            )
            lake.sql(
                "INSERT INTO test_db.spec_bucket VALUES "
                + ", ".join(f"({i}, 'v{i}')" for i in range(10))
            )
            _SPEC_BUCKET_DONE[key] = True
    return lake.sql(
        "SELECT id, CAST(regexp_extract(_file, '_p_bucket8_id=(\\\\d+)', 1) AS INT) "
        "AS bucket FROM test_db.spec_bucket ORDER BY id"
    )


_SPEC_BUCKET_DEC_DONE: dict[str, bool] = {}


@register(
    "ref_spec_bucket_decimal",
    oracle="""
    SELECT * FROM (VALUES
        (1, CAST(5 AS INT)), (2, CAST(3 AS INT)), (3, CAST(1 AS INT)),
        (4, CAST(7 AS INT)), (5, CAST(6 AS INT)), (6, CAST(5 AS INT)),
        (7, CAST(0 AS INT)), (8, CAST(2 AS INT)), (9, CAST(2 AS INT)),
        (10, CAST(2 AS INT)))
        AS b(id, bucket)
    ORDER BY id
    """,
)
def ref_spec_bucket_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICEBERG-SPEC bucket partitioning of a DECIMAL column — the
    byte-encoding-sensitive case: the spec hashes the MINIMAL
    two's-complement unscaled bytes (Java BigInteger.toByteArray), and
    the fixture deliberately includes amounts whose unscaled values are
    exact negative powers of 2^(8k-1) (-1.28 → one byte 0x80, -327.68 →
    0x8000, ±655.36 → three bytes) where a padded encoding hashes into
    a DIFFERENT bucket (verified: -1.28 padded lands in bucket 4, spec
    bucket is 5). Buckets are parsed from each row's REAL file path;
    the oracle literals are the spec hash values (theta.murmur3_x86_32,
    Guava-cross-validated; decimal byte form pinned against
    BigInteger.toByteArray semantics in tests/test_review_fixes_r9.py)
    — a hash match proves any compliant engine computes identical
    buckets for this table's decimal partition dirs."""
    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _SPEC_BUCKET_DEC_DONE:
            lake.sql(
                "CREATE TABLE IF NOT EXISTS polaris.test_db.spec_bucket_dec "
                "(id INT, amt DECIMAL(10,2)) USING ICEBERG "
                "PARTITIONED BY (bucket(8, amt))"
            )
            if lake.wh.table("test_db", "spec_bucket_dec").current_snapshot_id() is None:
                lake.sql(
                    "INSERT INTO test_db.spec_bucket_dec VALUES "
                    "(1, -1.28), (2, -327.68), (3, 1.27), (4, 0.00), "
                    "(5, 19.99), (6, -0.01), (7, 100.00), (8, 2.56), "
                    "(9, 655.36), (10, -655.36)"
                )
            _SPEC_BUCKET_DEC_DONE[key] = True
    return lake.sql(
        "SELECT id, CAST(regexp_extract(_file, '_p_bucket8_amt=(\\\\d+)', 1) AS INT) "
        "AS bucket FROM test_db.spec_bucket_dec ORDER BY id"
    )


_TSPRUNE_STATE: dict[str, tuple[int, int]] = {}


@register(
    "ref_foreign_ts_pruned_scan",
    oracle="""
    SELECT 2 AS id, CAST('2024-01-02 04:00:00' AS TIMESTAMP) AS ts,
           CAST(1 AS INT) AS pruned
    """,
)
def ref_foreign_ts_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-partition TEMPORAL pruning on the consumer side, with a
    timezone-hostile literal: a day(ts)-partitioned table is exported
    and registered foreign, then queried through plain SQL with an
    OFFSET-BEARING timestamp equality ('2024-01-01T23:00:00-05:00' —
    which is UTC day 2024-01-02). Iceberg's temporal transforms are
    defined over UTC micros (spec §Partition Transforms), so the
    pruner must map the literal through UTC before deriving the day
    ordinal: the r8-advice bug mapped it to the literal's LOCAL
    calendar day and pruned the one file that holds the matching row —
    silent row loss, invisible to a rows-only check. `pruned`=1 is the
    plan-time proof the predicate still planned strictly fewer files
    than the full foreign read (pruning saves IO, never rows); the
    returned (id, ts) row is the correctness proof."""
    from pyspark.sql import functions as F

    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _TSPRUNE_STATE:
            if not lake.wh.table("test_db", "ts_days").exists():
                lake.sql(
                    "CREATE TABLE IF NOT EXISTS polaris.test_db.ts_days "
                    "(id INT, ts TIMESTAMP) USING ICEBERG "
                    "PARTITIONED BY (days(ts))"
                )
            # INSERT guarded separately from CREATE: a crash between the
            # two must leave a retry that still loads the rows (an
            # exists()-guarded combined block would skip them forever)
            if lake.wh.table("test_db", "ts_days").current_snapshot_id() is None:
                lake.sql(
                    "INSERT INTO test_db.ts_days VALUES "
                    "(1, '2024-01-01 04:00:00'), (2, '2024-01-02 04:00:00'), "
                    "(3, '2024-01-03 04:00:00')"
                )
            tab = lake.wh.table("test_db", "ts_days")
            if "ext.ts_days" not in lake.wh.foreign_tables():
                lake.sql(
                    "CALL polaris.system.register_table("
                    f"table => 'ext.ts_days', metadata_file => '{tab.path}')"
                )
            full = len(lake.sql("SELECT id FROM ext.ts_days").inputFiles())
            planned = len(
                lake.sql(
                    "SELECT id FROM ext.ts_days "
                    "WHERE ts = '2024-01-01T23:00:00-05:00'"
                ).inputFiles()
            )
            _TSPRUNE_STATE[key] = (full, planned)
    full, planned = _TSPRUNE_STATE[key]
    pruned = F.lit(1 if planned < full else 0)
    return lake.sql(
        "SELECT id, ts FROM ext.ts_days WHERE ts = '2024-01-01T23:00:00-05:00'"
    ).select("id", "ts", pruned.cast("int").alias("pruned"))


_DTI_STATE: dict[str, tuple[int, int]] = {}


@register(
    "ref_decimal_truncate_int_literal",
    oracle="""
    SELECT * FROM (VALUES
        ('foreign_pos', CAST(1 AS INT), CAST(10.0 AS DOUBLE), CAST(1 AS INT)),
        ('native_neg',  CAST(3 AS INT), CAST(-10.0 AS DOUBLE), CAST(1 AS INT)),
        ('native_pos',  CAST(1 AS INT), CAST(10.0 AS DOUBLE), CAST(1 AS INT)))
        AS m(src, id, amt, pruned)
    ORDER BY src
    """,
)
def ref_decimal_truncate_int_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER SQL literals on a DECIMAL truncate-partitioned column —
    the r9-advice row-loss class: `WHERE amt = 10` parses to Python int,
    and an int fast path that floors in VALUE space derives partition
    10 - 10 % 50 = 0 instead of the spec's UNSCALED-width floor 10.00
    (truncate[50] on scale 2 = 0.50-value steps), silently excluding
    the file/partition that holds the matching row on BOTH scan paths
    (warehouse.derived partition filters and the foreign pruner's
    _transform_pred). The table has four 0.50-step partitions; each
    returned row is the row-loss proof, and `pruned` is the plan-time
    proof: for the natives, every file the scan planned lies in the
    correctly derived partition dir (10.00 / -10.00 — floor, not
    toward-zero, for the negative); for the foreign read, the int-hint
    equality planned strictly fewer files than the full scan. Spec
    parity: Iceberg spec 'Truncate Transform Details' (decimal W is
    applied to the unscaled value), same substrate as the reference's
    partitioned Iceberg tables (README.md:108-118)."""
    from pyspark.sql import functions as F

    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _DTI_STATE:
            lake.sql(
                "CREATE TABLE IF NOT EXISTS polaris.test_db.dec_trunc_int "
                "(id INT, amt DECIMAL(10,2)) USING ICEBERG "
                "PARTITIONED BY (truncate(50, amt))"
            )
            if lake.wh.table("test_db", "dec_trunc_int").current_snapshot_id() is None:
                lake.sql(
                    "INSERT INTO test_db.dec_trunc_int VALUES "
                    "(1, 10.00), (2, 0.25), (3, -10.00), (4, 60.00)"
                )
            tab = lake.wh.table("test_db", "dec_trunc_int")
            if "ext.dec_trunc_int" not in lake.wh.foreign_tables():
                lake.sql(
                    "CALL polaris.system.register_table("
                    f"table => 'ext.dec_trunc_int', metadata_file => '{tab.path}')"
                )
            full = len(lake.sql("SELECT id FROM ext.dec_trunc_int").inputFiles())
            planned = len(
                lake.sql("SELECT id FROM ext.dec_trunc_int WHERE amt = 10").inputFiles()
            )
            _DTI_STATE[key] = (full, planned)
    full, planned = _DTI_STATE[key]

    def native(src: str, lit: str, dirval: str) -> DataFrame:
        df = lake.sql(f"SELECT id, amt FROM test_db.dec_trunc_int WHERE amt = {lit}")
        files = df.inputFiles()
        flag = 1 if files and all(f"/_p_truncate50_amt={dirval}/" in f for f in files) else 0
        return df.select(
            F.lit(src).alias("src"),
            F.col("id"),
            F.col("amt").cast("double").alias("amt"),
            F.lit(flag).cast("int").alias("pruned"),
        )

    foreign = (
        lake.sql("SELECT id, amt FROM ext.dec_trunc_int WHERE amt = 10")
        .select(
            F.lit("foreign_pos").alias("src"),
            F.col("id"),
            F.col("amt").cast("double").alias("amt"),
            F.lit(1 if planned < full else 0).cast("int").alias("pruned"),
        )
    )
    return (
        native("native_pos", "10", "10.00")
        .unionByName(native("native_neg", "-10", "-10.00"))
        .unionByName(foreign)
        .orderBy("src")
    )


_FPRUNE_STATE: dict[str, tuple[int, int]] = {}


@register(
    "ref_foreign_pruned_scan",
    oracle="""
    SELECT 2 AS id, 'Bob' AS name, CAST(1 AS INT) AS pruned
    """,
)
def ref_foreign_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg scan planning on the CONSUMER side: a registered foreign
    table's SELECT with a partition predicate plans only the files the
    open metadata says can match (read_iceberg_table eq/between pruning
    — identity partition values + column bounds from the manifests,
    wired to plain SQL via the same provably-conjunct hint rules as
    native scans). The users fixture has four single-row date
    partitions; `pruned` is the REAL plan-time proof: 1 iff the
    predicate scan planned strictly fewer files than the full foreign
    read. Pruning may save IO, never rows — the returned row is the
    query result itself."""
    from pyspark.sql import functions as F

    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _FPRUNE_STATE:
            tab = lake.wh.table("my_warehouse", "users")
            # idempotent setup: a partially-failed earlier invocation may
            # have registered ext.users_fp but died before the state
            # cache was set — re-registration must reuse, not conflict
            if "ext.users_fp" not in lake.wh.foreign_tables():
                lake.sql(
                    "CALL polaris.system.register_table("
                    f"table => 'ext.users_fp', metadata_file => '{tab.path}')"
                )
            full = len(lake.sql("SELECT id FROM ext.users_fp").inputFiles())
            planned = len(
                lake.sql(
                    "SELECT id FROM ext.users_fp WHERE created_date = '2025-01-02'"
                ).inputFiles()
            )
            _FPRUNE_STATE[key] = (full, planned)
    full, planned = _FPRUNE_STATE[key]
    pruned = F.lit(1 if planned < full else 0)
    return lake.sql(
        "SELECT id, name FROM ext.users_fp WHERE created_date = '2025-01-02'"
    ).select("id", "name", pruned.cast("int").alias("pruned"))


_MVF_MODE: dict[str, str] = {}
_MVF_BUILT: dict[str, bool] = {}


@register(
    "ref_matview_foreign",
    oracle="""
    SELECT * FROM (VALUES
        ('a', CAST(31 AS BIGINT), CAST(2 AS BIGINT), 'incremental'),
        ('b', CAST(4 AS BIGINT), CAST(1 AS BIGINT), 'incremental'))
        AS m(k, sx, n, mode)
    ORDER BY k
    """,
)
def ref_matview_foreign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view over a REGISTERED FOREIGN Iceberg base,
    maintained incrementally from the OPEN-metadata changelog
    (sql_frontend._refresh_matview_foreign → changes_iceberg_table):
    after materialization the base takes two foreign-writer commits —
    a positional DELETE (id=2) and a Flink-style UPSERT (equality
    delete + data in ONE snapshot: key 3 moves group b→a with a new
    value, key 4 is new) — and a single REFRESH folds the whole
    multi-commit window as signed deltas. The `mode` column is the real
    refresh result: 'incremental' proves the open-metadata changelog
    path ran (O(changed data), no base rescan), exactly the cross-engine
    CDC story the reference's Iceberg+Polaris stack exists for
    (README.md:119-142, 169-178)."""
    import tempfile as _tf

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        delete_iceberg_table_where,
        upsert_iceberg_table,
    )
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _MVF_MODE:
            if not _MVF_BUILT.get(key):
                # idempotent-by-reset: the source warehouse is a fresh
                # tempdir per attempt, so drop any torn MV + detach any
                # stale foreign registration before rebuilding
                lake.sql("DROP MATERIALIZED VIEW IF EXISTS test_db.fmv_golden")
                if "ext.mvf_src" in lake.wh.foreign_tables():
                    lake.sql("DROP TABLE ext.mvf_src")
                src = Warehouse(spark, _tf.mkdtemp(prefix="lh_golden_fsrc_"))
                t = src.create_table("srcdb", "mvf_src", "id int, k string, x int")
                t.set_identifier_fields("id")
                t.insert_values([(1, "a", 1), (2, "a", 5), (3, "b", 2)])
                lake.sql(
                    "CALL polaris.system.register_table(table => 'ext.mvf_src', "
                    f"metadata_file => '{t.path}')"
                )
                lake.sql(
                    "CREATE MATERIALIZED VIEW test_db.fmv_golden AS "
                    "SELECT k, SUM(x) AS sx, COUNT(*) AS n "
                    "FROM ext.mvf_src GROUP BY k"
                )
                delete_iceberg_table_where(spark, t.path, "id = 2")
                upsert_iceberg_table(
                    spark,
                    t.path,
                    spark.createDataFrame(
                        [(3, "a", 30), (4, "b", 4)], "id int, k string, x int"
                    ),
                )
                _MVF_BUILT[key] = True
            _MVF_MODE[key] = _refresh_checked(
                lake,
                spark,
                "ref_matview_foreign",
                "REFRESH MATERIALIZED VIEW test_db.fmv_golden",
                built=_MVF_BUILT,
            )
        mode = _MVF_MODE[key]
    return lake.sql(
        f"SELECT k, sx, n, '{mode}' AS mode "
        "FROM test_db.fmv_golden ORDER BY k"
    )


_BLOOM_STATE: dict[str, tuple[int, int, int]] = {}


@register(
    "ref_bloom_index_lookup",
    oracle="""
    SELECT CAST(i AS INT) AS id, 'z3' AS k, CAST(1 AS INT) AS pruned
    FROM generate_series(3, 48, 5) AS g(i)
    ORDER BY id
    """,
)
def ref_bloom_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom data-skipping index (CALL system.build_bloom_index,
    warehouse.Table.build_bloom_index): the fixture holds two commits with
    OVERLAPPING id ranges but disjoint key sets ('a*' vs 'z*'), so footer
    [min,max] bounds cannot skip anything for a key probe — the Bloom
    bitsets can. The `pruned` column is the REAL plan-time proof: 1 iff
    the point-lookup scan planned strictly fewer files than the full
    table read (Iceberg keeps the same kind of secondary stats as Puffin
    blobs; reference README.md:138-139's statistics-driven skipping is
    the bounds half, this is the equality half)."""
    from pyspark.sql import functions as F

    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _BLOOM_STATE:
            _build_bloom_state(lake, key)
    _n, full, planned = _BLOOM_STATE[key]
    tab = lake.wh.table("test_db", "bloom_demo")
    pruned = F.lit(1 if planned < full else 0)
    return (
        tab.scan(eq={"k": "z3"})
        .filter(F.col("k") == "z3")
        .select("id", "k", pruned.cast("int").alias("pruned"))
        .orderBy("id")
    )


def _build_bloom_state(lake, key: str) -> None:
    lake.sql(
        "CREATE TABLE IF NOT EXISTS polaris.test_db.bloom_demo "
        "(id INT, k STRING) USING ICEBERG"
    )
    lake.sql(
        "INSERT INTO test_db.bloom_demo VALUES "
        + ", ".join(f"({i}, 'a{i % 5}')" for i in range(50))
    )
    lake.sql(
        "INSERT INTO test_db.bloom_demo VALUES "
        + ", ".join(f"({i}, 'z{i % 5}')" for i in range(50))
    )
    n = (
        lake.sql(
            "CALL polaris.system.build_bloom_index("
            "table => 'test_db.bloom_demo', column => 'k')"
        )
        .collect()[0]
        .indexed_files_count
    )
    tab = lake.wh.table("test_db", "bloom_demo")
    full = len(tab.read().inputFiles())
    planned = len(tab.scan(eq={"k": "z3"}).inputFiles())
    _BLOOM_STATE[key] = (n, full, planned)


_UPSERT_DONE: dict[str, bool] = {}


@register(
    "ref_upsert_latest",
    oracle="""
    SELECT * FROM (VALUES
        (1, 10, 'A', 'overwrite'),
        (2, 25, 'B2', 'overwrite'),
        (3, 30, 'C', 'overwrite'),
        (4, 40, 'D', 'overwrite'))
        AS u(sku, qty, loc, last_op)
    ORDER BY sku
    """,
)
def ref_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink/CDC-style UPSERT through the SQL path: identifier fields
    declared via `ALTER TABLE ... SET IDENTIFIER FIELDS`, the Iceberg
    `write.upsert.enabled` property routes INSERT INTO through the
    upsert shape (ONE snapshot = equality-delete over the batch's keys +
    the new rows; v2 sequence rule kills old rows, spares the batch).
    sku 2 is replaced, sku 4 is new, skus 1/3 pass through untouched.
    `last_op` is read back from the .snapshots metadata table —
    'overwrite' proves the commit really was the merge-on-read upsert
    snapshot, not a read-modify-write MERGE."""
    lake = _lake(spark)
    key = spark.sparkContext.applicationId
    with _FIXTURE_LOCK:
        if key not in _UPSERT_DONE:
            lake.sql(
                "CREATE TABLE IF NOT EXISTS polaris.test_db.inventory "
                "(sku INT, qty INT, loc STRING) USING ICEBERG"
            )
            lake.sql("ALTER TABLE test_db.inventory SET IDENTIFIER FIELDS sku")
            lake.sql(
                "ALTER TABLE test_db.inventory SET TBLPROPERTIES "
                "('write.upsert.enabled'='true')"
            )
            lake.sql(
                "INSERT INTO test_db.inventory VALUES (1, 10, 'A'), (2, 20, 'B'), (3, 30, 'C')"
            )
            lake.sql("INSERT INTO test_db.inventory VALUES (2, 25, 'B2'), (4, 40, 'D')")
            _UPSERT_DONE[key] = True
    rows = lake.sql("SELECT sku, qty, loc FROM test_db.inventory")
    last_op = lake.sql(
        "SELECT operation AS last_op FROM test_db.inventory.snapshots "
        "ORDER BY snapshot_id DESC LIMIT 1"
    )
    from pyspark.sql import functions as F

    return rows.crossJoin(F.broadcast(last_op)).orderBy("sku")
