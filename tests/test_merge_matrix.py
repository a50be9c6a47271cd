"""The full MERGE matrix (the one MERGE plan, warehouse._merge_plan,
through the SQL MERGE handler): ordered multi-arm WHEN MATCHED,
assignment expressions, conditional INSERT, and WHEN NOT MATCHED BY
SOURCE UPDATE/DELETE — Spark 3.5 / Iceberg semantics. Every behaviour
case runs on a native table (copy-on-write, module-level tests) and
again on a registered foreign Iceberg v2 table holding the same rows
(merge-on-read, `TestForeignTarget`)."""

from __future__ import annotations

import os

import pytest

from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    read_iceberg_table,
    resolve_metadata_path,
)
from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse, WarehouseError


@pytest.fixture()
def kind():
    return "native"


@pytest.fixture()
def lake(spark, tmp_path, kind):
    lk = LakehouseSQL(spark, str(tmp_path / "wh"))
    lk.sql("CREATE NAMESPACE polaris.db")
    _create(
        lk,
        kind,
        "acct",
        "id INT, bal INT, status STRING",
        "(1, 100, 'ok'), (2, -5, 'ok'), (3, 0, 'ok'), (4, 50, 'old')",
    )
    return lk


def _create(lake, kind, name, cols, values):
    """polaris.db.<name> holding ``values``: a native table, or a table
    of a second warehouse registered under that name as a foreign one."""
    if kind == "native":
        lake.sql(f"CREATE TABLE polaris.db.{name} ({cols}) USING ICEBERG")
        lake.sql(f"INSERT INTO polaris.db.{name} VALUES {values}")
        return
    other = LakehouseSQL(lake.spark, lake.wh.root + "_foreign")
    other.sql(f"CREATE TABLE polaris.db.{name} ({cols}) USING ICEBERG")
    other.sql(f"INSERT INTO polaris.db.{name} VALUES {values}")
    path = other.wh.table("db", name).path
    lake.sql(
        f"CALL polaris.system.register_table(table => 'db.{name}', metadata_file => '{path}')"
    )


def _state(lake):
    return {
        r.id: (r.bal, r.status)
        for r in lake.sql("SELECT * FROM polaris.db.acct").collect()
    }


def test_multi_arm_first_match_fires(lake):
    """Two ordered MATCHED arms + fallthrough: negative balances DELETE,
    zero balances get a status rewrite, positive matches carry over
    (no arm fires), unmatched source rows insert."""
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(1, 0, 'x'), (2, 0, 'x'), (3, 0, 'x'), (9, 9, 'new') AS s(id, bal, status)) s "
        "ON t.id = s.id "
        "WHEN MATCHED AND t.bal < 0 THEN DELETE "
        "WHEN MATCHED AND t.bal = 0 THEN UPDATE SET status = 'zeroed' "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = _state(lake)
    assert 2 not in got  # first arm deleted the negative balance
    assert got[3] == (0, "zeroed")  # second arm fired
    assert got[1] == (100, "ok")  # matched, no arm fired → carried
    assert got[9] == (9, "new")  # inserted
    assert got[4] == (50, "old")  # never matched by source → untouched


def test_arm_order_matters(lake):
    """A catch-all first arm shadows later arms — in-order semantics."""
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(2, 1, 'y') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET status = 'first' "
        "WHEN MATCHED AND t.bal < 0 THEN DELETE"
    )
    assert _state(lake)[2] == (-5, "first")  # shadowed DELETE never fired


def test_assignment_expressions_reference_both_sides(lake):
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(1, 7, 'x') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.bal, status = concat(t.status, '+')"
    )
    assert _state(lake)[1] == (107, "ok+")


def test_conditional_insert_arm(lake):
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(8, 80, 'new'), (9, -1, 'new') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.bal > 0 THEN INSERT *"
    )
    got = _state(lake)
    assert got[8] == (80, "new")
    assert 9 not in got  # failed the insert condition


def test_not_matched_by_source_update(lake):
    """The sync form Spark 3.5 added: rows the source no longer carries
    get FLAGGED rather than deleted."""
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(1, 1, 'x') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET bal = s.bal "
        "WHEN NOT MATCHED BY SOURCE AND t.status = 'ok' THEN UPDATE SET status = 'stale'"
    )
    got = _state(lake)
    assert got[1] == (1, "ok")
    assert got[2] == (-5, "stale") and got[3] == (0, "stale")
    assert got[4] == (50, "old")  # failed the NBS condition → carried


def test_not_matched_by_source_conditional_delete(lake):
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(1, 1, 'x') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND t.bal <= 0 THEN DELETE"
    )
    got = _state(lake)
    assert set(got) == {1, 4}  # 2 and 3 dropped; 1 matched, 4 failed cond


def test_null_condition_does_not_fire(lake, spark):
    """Three-valued logic: a NULL arm condition means the arm does NOT
    fire — the row falls through to later arms / carry-over."""
    lake.sql("INSERT INTO polaris.db.acct VALUES (5, NULL, 'ok')")
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(5, 1, 'x') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN MATCHED AND t.bal > 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET status = 'caught'"
    )
    assert _state(lake)[5] == (None, "caught")


def test_row_lineage_preserved_across_arms(lake):
    rows0 = lake.sql(
        "SELECT id, _row_id FROM polaris.db.acct ORDER BY id"
    ).collect()
    before = {r.id: r._row_id for r in rows0}
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(1, 1, 'x'), (7, 70, 'new') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET bal = s.bal "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.id = 2 THEN DELETE"
    )
    rows1 = lake.sql(
        "SELECT id, _row_id FROM polaris.db.acct ORDER BY id"
    ).collect()
    after = {r.id: r._row_id for r in rows1}
    for i in (1, 3, 4):  # updated and carried rows keep identity
        assert after[i] == before[i]
    assert after[7] not in set(before.values())  # fresh id for the insert


def test_classic_two_arm_upsert(lake):
    """The classic two-arm upsert (SET * / INSERT *) is one case of
    the matrix."""
    lake.sql(
        "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
        "(1, 11, 'u'), (6, 60, 'new') AS s(id, bal, status)) s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = _state(lake)
    assert got[1] == (11, "u") and got[6] == (60, "new")


def test_cardinality_violation_still_detected(lake):
    with pytest.raises(WarehouseError, match="multiple source rows"):
        lake.sql(
            "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
            "(1, 1, 'a'), (1, 2, 'b') AS s(id, bal, status)) s ON t.id = s.id "
            "WHEN MATCHED AND t.bal > 999 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET bal = s.bal"
        )


def test_garbled_clause_is_loud(lake):
    with pytest.raises(WarehouseError, match="cannot parse MERGE clause"):
        lake.sql(
            "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
            "(1, 1, 'a') AS s(id, bal, status)) s ON t.id = s.id "
            "WHEN MATCHED THEN FROB "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )


def test_python_api_multi_arm(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "w2"))
    t = wh.create_table("db", "m", "id int, v int")
    t.insert_values([(1, 10), (2, -1), (3, 5)])
    src = spark.createDataFrame([(1, 0), (2, 0), (9, 90)], "id int, v int")
    t.merge_into_arms(
        src,
        on="id",
        matched_arms=[
            {"cond": "t.v < 0", "action": "delete"},
            {"cond": None, "action": "update", "set": {"v": "t.v + s.v + 100"}},
        ],
        insert_arm={"cond": "s.v > 50"},
    )
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: 110, 3: 5, 9: 90}


def test_merge_rejects_duplicate_source_keys(lake, kind):
    """Several source rows matching one target key is a cardinality
    violation (Iceberg/Spark MERGE semantics), not a silent row
    multiplication."""
    _create(lake, kind, "m", "id INT, v STRING", "(1, 'a')")
    with pytest.raises(WarehouseError, match="multiple source rows"):
        lake.sql(
            "MERGE INTO polaris.db.m t "
            "USING (SELECT * FROM VALUES (1, 'x'), (1, 'y') AS s(id, v)) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    # table unchanged
    assert [(r.id, r.v) for r in lake.sql("SELECT id, v FROM db.m").collect()] == [(1, "a")]


def test_merge_allows_duplicate_unmatched_source_rows(lake, kind):
    """Iceberg/Spark MERGE only raises a cardinality violation when a
    TARGET row matches multiple source rows; duplicate source rows that
    match nothing are legal and all insert via WHEN NOT MATCHED. The
    pre-fix check rejected any duplicate source key."""
    _create(lake, kind, "mi", "id INT, v STRING", "(1, 'a')")
    lake.sql(
        "MERGE INTO polaris.db.mi t "
        "USING (SELECT * FROM VALUES (7, 'x'), (7, 'y'), (1, 'upd') AS s(id, v)) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = sorted((r.id, r.v) for r in lake.sql("SELECT id, v FROM db.mi").collect())
    assert got == [(1, "upd"), (7, "x"), (7, "y")]
    # matched duplicates still rejected
    with pytest.raises(WarehouseError, match="multiple source rows"):
        lake.sql(
            "MERGE INTO polaris.db.mi t "
            "USING (SELECT * FROM VALUES (1, 'p'), (1, 'q') AS s(id, v)) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )


def _files_and_history(lake, name):
    """Every file under the table directory, its `_meta.json`, the
    published metadata pointer and the snapshots table."""
    path = lake.wh.foreign_tables().get(f"db.{name}") or lake.wh.table("db", name).path
    files = sorted(
        os.path.relpath(os.path.join(d, f), path) for d, _, fs in os.walk(path) for f in fs
    )
    with open(os.path.join(path, "_meta.json")) as f:
        meta = f.read()
    snaps = sorted(tuple(r) for r in lake.sql(f"SELECT * FROM db.{name}.snapshots").collect())
    return files, meta, resolve_metadata_path(path), snaps


@pytest.mark.parametrize(
    "key_type, key, want",
    [
        ("INT", "1", "id=1 "),
        ("STRING", "'k1'", "id='k1' "),
        ("STRING", "'it''s'", "id=\"it's\" "),
        ("BINARY", "X'FF00'", "id=b'\\xff\\x00' "),
        ("STRUCT<a: INT, b: STRING>", "named_struct('a', 1, 'b', 'z')", "id=Row(a=1, b='z') "),
        ("ARRAY<INT>", "array(1, 2)", "id=[1, 2] "),
    ],
    ids=["int", "string", "string_with_quote", "binary_not_utf8", "struct", "array"],
)
def test_rejected_merge_leaves_table_untouched(lake, kind, key_type, key, want):
    """The cardinality check fails inside the first write job: the
    error is the engine's own (no Spark error class or SQLSTATE), and
    what the failed job staged is removed, so the table's files,
    metadata and history are exactly what they were."""
    _create(lake, kind, "rj", f"id {key_type}, v STRING", f"({key}, 'a')")
    before = _files_and_history(lake, "rj")
    with pytest.raises(WarehouseError) as err:
        lake.sql(
            "MERGE INTO polaris.db.rj t "
            f"USING (SELECT * FROM VALUES ({key}, 'x'), ({key}, 'y') AS s(id, v)) s "
            "ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    assert str(err.value) == (
        f"MERGE cardinality violation: multiple source rows match target key {want}"
        "(ON clause must match at most one source row per target row)"
    )
    assert _files_and_history(lake, "rj") == before


def test_one_sided_clauses_resolve_unqualified_names(lake):
    """An unqualified name in a one-sided clause means that side's
    column, as in Spark's MERGE: the INSERT condition sees only the
    source, NOT MATCHED BY SOURCE (condition and SET) only the target."""
    lake.sql("INSERT INTO polaris.db.acct VALUES (5, 8, 'x')")
    src = "(SELECT * FROM VALUES (1, 7, 'u'), (6, 60, 'new'), (7, -1, 'neg') AS s(id, bal, status)) s"
    before = _state(lake)
    lake.sql(
        f"MERGE INTO polaris.db.acct t USING {src} ON t.id = s.id "
        "WHEN NOT MATCHED AND bal > 0 THEN INSERT *"
    )
    assert _state(lake) == {**before, 6: (60, "new")}
    lake.sql(
        f"MERGE INTO polaris.db.acct t USING {src} ON t.id = s.id "
        "WHEN MATCHED AND t.bal > 0 THEN UPDATE SET bal = s.bal "
        "WHEN NOT MATCHED BY SOURCE AND bal > 7 THEN UPDATE SET bal = bal - 1, "
        "status = concat(status, '!')"
    )
    assert _state(lake) == {
        1: (7, "ok"), 2: (-5, "ok"), 3: (0, "ok"), 4: (49, "old!"), 5: (7, "x!"), 6: (60, "new"),
    }
    lake.sql(
        f"MERGE INTO polaris.db.acct t USING {src} ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND status = 'ok' THEN DELETE "
        "WHEN NOT MATCHED AND status <> 'neg' THEN INSERT *"
    )
    assert _state(lake) == {1: (7, "ok"), 4: (49, "old!"), 5: (7, "x!"), 6: (60, "new")}


def test_other_write_failures_propagate(lake):
    """Only the cardinality check becomes a WarehouseError; any other
    failure of the MERGE write surfaces as Spark raised it, and leaves
    no data directory behind either."""
    before = _files_and_history(lake, "acct")
    with pytest.raises(Exception, match="boom") as err:
        lake.sql(
            "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
            "(1, 1, 'x') AS s(id, bal, status)) s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET status = raise_error('boom')"
        )
    assert not isinstance(err.value, WarehouseError)
    assert _files_and_history(lake, "acct") == before


def test_null_keys_never_match(lake):
    """NULL = NULL is not true in the ON clause: a source row with a
    NULL key inserts, and a target row with a NULL key is never matched —
    it carries over, or obeys WHEN NOT MATCHED BY SOURCE."""
    lake.sql("INSERT INTO polaris.db.acct VALUES (NULL, 7, 'nk')")
    src = (
        "(SELECT * FROM VALUES (NULL, 8, 'ns'), (NULL, 9, 'ns'), (1, 1, 'x') "
        "AS s(id, bal, status)) s"
    )
    lake.sql(
        f"MERGE INTO polaris.db.acct t USING {src} ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )

    def rows():
        return sorted(
            (r.id is None, r.id or 0, r.bal, r.status)
            for r in lake.sql("SELECT * FROM polaris.db.acct").collect()
        )

    assert rows() == [
        (False, 1, 1, "x"),
        (False, 2, -5, "ok"),
        (False, 3, 0, "ok"),
        (False, 4, 50, "old"),
        (True, 0, 7, "nk"),
        (True, 0, 8, "ns"),
        (True, 0, 9, "ns"),
    ]
    lake.sql(
        f"MERGE INTO polaris.db.acct t USING {src} ON t.id = s.id "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE AND t.bal > 7 THEN UPDATE SET status = 'gone'"
    )
    assert rows() == [
        (False, 2, -5, "ok"),
        (False, 3, 0, "ok"),
        (False, 4, 50, "gone"),
        (True, 0, 7, "nk"),
        (True, 0, 8, "gone"),
        (True, 0, 9, "gone"),
    ]
    lake.sql(
        f"MERGE INTO polaris.db.acct t USING {src} ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND t.id IS NULL THEN DELETE"
    )
    assert rows() == [(False, 2, -5, "ok"), (False, 3, 0, "ok"), (False, 4, 50, "gone")]


def test_two_arm_merge_runs_at_most_three_jobs(spark, lake):
    """Copy-on-write MERGE is one plan — target FULL OUTER JOIN source,
    the cardinality check inline — so a two-arm MERGE runs at most
    three Spark jobs, the write included."""
    sc = spark.sparkContext
    group = "merge_two_arm_jobs"
    sc.setJobGroup(group, group)
    try:
        lake.sql(
            "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
            "(1, 11, 'u'), (6, 60, 'new') AS s(id, bal, status)) s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert _state(lake)[6] == (60, "new")


class TestForeignTarget:
    """The behaviour cases above on a registered foreign Iceberg v2
    table: merge-on-read runs the same plan, so it gives the same
    answers and errors."""

    @pytest.fixture()
    def kind(self):
        return "foreign"

    def test_python_api_multi_arm(self, spark, tmp_path):
        src_wh = Warehouse(spark, str(tmp_path / "w2"))
        t = src_wh.create_table("db", "m", "id int, v int")
        t.insert_values([(1, 10), (2, -1), (3, 5)])
        wh = Warehouse(spark, str(tmp_path / "w3"))
        wh.register_foreign_table("ext", "m", t.path)
        src = spark.createDataFrame([(1, 0), (2, 0), (9, 90)], "id int, v int")
        wh.merge_foreign_table(
            "ext",
            "m",
            src,
            on="id",
            matched_arms=[
                {"cond": "t.v < 0", "action": "delete"},
                {"cond": None, "action": "update", "set": {"v": "t.v + s.v + 100"}},
            ],
            insert_arm={"cond": "s.v > 50"},
        )
        got = {r.id: r.v for r in read_iceberg_table(spark, t.path).collect()}
        assert got == {1: 110, 3: 5, 9: 90}

    def test_insert_star_needs_every_target_column(self, lake):
        """INSERT * reads every target column from the source, as on a
        native table: a source without one fails instead of inserting
        NULLs."""
        with pytest.raises(Exception, match="bal"):
            lake.sql(
                "MERGE INTO polaris.db.acct t USING (SELECT * FROM VALUES "
                "(7, 'new') AS s(id, status)) s ON t.id = s.id "
                "WHEN NOT MATCHED THEN INSERT *"
            )


for _case in (
    test_multi_arm_first_match_fires,
    test_arm_order_matters,
    test_assignment_expressions_reference_both_sides,
    test_conditional_insert_arm,
    test_not_matched_by_source_update,
    test_not_matched_by_source_conditional_delete,
    test_null_condition_does_not_fire,
    test_classic_two_arm_upsert,
    test_cardinality_violation_still_detected,
    test_garbled_clause_is_loud,
    test_merge_rejects_duplicate_source_keys,
    test_merge_allows_duplicate_unmatched_source_rows,
    test_rejected_merge_leaves_table_untouched,
    test_one_sided_clauses_resolve_unqualified_names,
    test_other_write_failures_propagate,
    test_null_keys_never_match,
):
    setattr(TestForeignTarget, _case.__name__, staticmethod(_case))
