"""Regression pins for the round-9 verdict + advice findings.

Verdict: the two MV goldens' DECIMAL(20,2) compared column was the
three-round driver-red root cause — the fix casts the FINAL projection
to DOUBLE (stored MV types unchanged), the replica now red-flags any
DECIMAL-typed compared output (tests/oracle_harness.py), and the rule
is enforced at registration (registry.py guard). Advice: int SQL
literals on DECIMAL truncate-partitioned columns derived partition
value 0 (silent row loss) in both the foreign pruner and the engine
hive-filter path; naive timestamp literals on timestamptz columns are
session-zone, not UTC; bench's final size check was a bare assert.
"""

from __future__ import annotations

import decimal
import json

import pytest

from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL


@pytest.fixture()
def lake(spark, tmp_path):
    return LakehouseSQL(spark, str(tmp_path / "wh"))


# ---------------------------------------------------------------- MV goldens


def test_mv_golden_output_is_double_stored_stays_decimal(spark):
    """The compared output of ref_matview_incremental carries DOUBLE
    (driver-hashable), while the STORED MV column stays DECIMAL(20,2) —
    the cast is presentation-only and must not silently change MV
    storage types."""
    from pyspark.sql import types as T

    from minio_iceberg_polaris_lakehouse_spark.operators import reference_golden as RG

    out = RG.ref_matview_incremental(spark, "/root/testdata/sf0.001")
    assert isinstance(out.schema["total"].dataType, T.DoubleType)
    rows = {r.region: r for r in out.collect()}
    assert rows["eu"].total == 16.5 and rows["eu"].n == 3
    assert rows["us"].total == 7.25 and rows["us"].n == 1
    stored = RG._lake(spark).wh.table("test_db", "sales_mv").read()
    assert isinstance(stored.schema["total"].dataType, T.DecimalType)
    vals = {r.region: r.total for r in stored.collect()}
    assert vals["eu"] == decimal.Decimal("16.50")
    assert vals["us"] == decimal.Decimal("7.25")


def test_mv_join_golden_output_is_double(spark):
    from pyspark.sql import types as T

    from minio_iceberg_polaris_lakehouse_spark.operators import reference_golden as RG

    out = RG.ref_matview_join(spark, "/root/testdata/sf0.001")
    assert isinstance(out.schema["total"].dataType, T.DoubleType)
    rows = {r.segment: r for r in out.collect()}
    assert rows["gold"].total == 19.99 and rows["gold"].n == 2
    assert rows["silver"].total == 10.0 and rows["silver"].n == 2
    stored = RG._lake(spark).wh.table("test_db", "orders_by_segment").read()
    assert isinstance(stored.schema["total"].dataType, T.DecimalType)


def test_join_refresh_surfaces_per_base_synced_snapshots(lake):
    """The delta-join REFRESH result's synced_bases proves WHICH
    changelog windows were folded (its single synced_snapshot is
    necessarily NULL for two bases)."""
    lake.sql("CREATE TABLE polaris.db.sb_c (cust_id INT, segment STRING) USING ICEBERG")
    lake.sql(
        "CREATE TABLE polaris.db.sb_o (cust_id INT, amount DECIMAL(10,2)) USING ICEBERG"
    )
    lake.sql("INSERT INTO db.sb_c VALUES (1, 'gold')")
    lake.sql("INSERT INTO db.sb_o VALUES (1, 5.00)")
    lake.sql(
        "CREATE MATERIALIZED VIEW db.sb_mv AS "
        "SELECT c.segment, SUM(o.amount) AS total, COUNT(*) AS n "
        "FROM db.sb_o o JOIN db.sb_c c ON o.cust_id = c.cust_id GROUP BY c.segment"
    )
    lake.sql("INSERT INTO db.sb_o VALUES (1, 2.00)")
    row = lake.sql("REFRESH MATERIALIZED VIEW db.sb_mv").collect()[0]
    assert row.mode == "incremental" and row.synced_snapshot is None
    assert row.synced_bases is not None
    parts = dict(kv.split("=", 1) for kv in row.synced_bases.split(","))
    lcur = lake.wh.table("db", "sb_o").current_snapshot_id()
    rcur = lake.wh.table("db", "sb_c").current_snapshot_id()
    assert parts == {"db.sb_o": str(lcur), "db.sb_c": str(rcur)}
    # noop path carries it too
    row2 = lake.sql("REFRESH MATERIALIZED VIEW db.sb_mv").collect()[0]
    assert row2.mode == "noop" and row2.synced_bases == row.synced_bases


def test_refresh_checked_cached_reraise_unsticks_built_flag(spark):
    """First retry replays the ORIGINAL cause; doing so clears both the
    failure cache and the golden's built flag, so the NEXT invocation
    rebuilds the fixture instead of replaying a stale error forever."""
    from pyspark.sql import Row

    from minio_iceberg_polaris_lakehouse_spark.operators import reference_golden as RG

    RG._REFRESH_FAILED.clear()
    app = spark.sparkContext.applicationId
    built = {app: True}
    calls = {"n": 0}

    class FakeLake:
        def sql(self, stmt):
            calls["n"] += 1
            mode = "full" if calls["n"] == 1 else "incremental"

            class R:
                def collect(self):
                    return [
                        Row(view="db.mv", mode=mode, synced_snapshot=1,
                            downgrade_reason="SnapshotNotFoundError: gone")
                    ]

            return R()

    with pytest.raises(RuntimeError, match="mode='full'.*gone"):
        RG._refresh_checked(FakeLake(), spark, "g_unstick", "REFRESH", built=built)
    assert built == {app: True}  # first failure leaves the flag for the replay
    with pytest.raises(RuntimeError, match="mode='full'.*gone"):
        RG._refresh_checked(FakeLake(), spark, "g_unstick", "REFRESH", built=built)
    assert calls["n"] == 1  # the replay does not re-run REFRESH...
    assert app not in built  # ...but clears the flag for a true rebuild
    assert (app, "g_unstick") not in RG._REFRESH_FAILED
    # third invocation: refresh actually re-runs and can now succeed
    assert (
        RG._refresh_checked(FakeLake(), spark, "g_unstick", "REFRESH", built=built)
        == "incremental"
    )
    RG._REFRESH_FAILED.clear()


# -------------------------------------------------- decimal-output hazard


def test_registry_guard_rejects_decimal_output_on_oracle_backed(spark):
    from minio_iceberg_polaris_lakehouse_spark import registry

    @registry.register("g_r10_decguard", oracle="SELECT 1")
    def q(spark, sf_dir):
        return spark.sql("SELECT CAST(1.50 AS DECIMAL(10,2)) AS total")

    try:
        with pytest.raises(TypeError, match="DecimalType.*total"):
            registry._REGISTRY["g_r10_decguard"].spark(spark, "")
    finally:
        registry._REGISTRY.pop("g_r10_decguard", None)


def test_registry_guard_exempts_rows_only_queries(spark):
    from minio_iceberg_polaris_lakehouse_spark import registry

    @registry.register("g_r10_decrows")  # oracle=None: no cross-engine hash
    def q(spark, sf_dir):
        return spark.sql("SELECT CAST(1.50 AS DECIMAL(10,2)) AS total")

    try:
        df = registry._REGISTRY["g_r10_decrows"].spark(spark, "")
        assert df.collect()[0].total == decimal.Decimal("1.50")
    finally:
        registry._REGISTRY.pop("g_r10_decrows", None)


def test_oracle_harness_red_flags_decimal_output(spark):
    """The replica must fail a DECIMAL-typed compared output even when
    every value matches — locally-equal Decimals were exactly the
    three-round blind spot that hid the driver's hash mismatch."""
    from tests.oracle_harness import compare, duck_connection

    con = duck_connection("/root/testdata/sf0.001")
    problems = compare(
        spark,
        con,
        lambda s, d: s.sql("SELECT 'eu' AS region, CAST(16.50 AS DECIMAL(20,2)) AS total"),
        "SELECT 'eu' AS region, CAST(16.50 AS DECIMAL(20,2)) AS total",
        "/root/testdata/sf0.001",
    )
    assert any("DECIMAL" in p for p in problems)
    # and the same query cast to DOUBLE on both sides is clean
    assert (
        compare(
            spark,
            con,
            lambda s, d: s.sql("SELECT 'eu' AS region, CAST(16.50 AS DOUBLE) AS total"),
            "SELECT 'eu' AS region, CAST(16.50 AS DOUBLE) AS total",
            "/root/testdata/sf0.001",
        )
        == []
    )


def test_norm_canonicalizes_decimal():
    from tests.oracle_harness import _norm

    assert _norm(decimal.Decimal("16.50")) == 16.5
    assert isinstance(_norm(decimal.Decimal("16.50")), float)


# ------------------------------------- int literal on decimal truncate cols


def test_foreign_pruner_int_literal_on_decimal_truncate():
    """Advice repro: an integer SQL literal on a DECIMAL
    truncate-partitioned column must floor in UNSCALED-width space —
    the int fast path derived 0 and excluded the file holding the
    matching row."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _part_range_excl,
        _transform_pred,
    )

    d = decimal.Decimal
    assert _transform_pred("truncate[50]", 10, "decimal(10,2)") == (d("10.00"), True)
    # non-decimal columns keep the plain int floor
    assert _transform_pred("truncate[50]", 10, "long") == (0, True)
    assert not _part_range_excl(
        d("10.00"), d("10.00"), "amt", "decimal(10,2)", "truncate[50]", {"amt": 10}, None
    )
    # and a provably-outside literal still prunes
    assert _part_range_excl(
        d("10.00"), d("10.00"), "amt", "decimal(10,2)", "truncate[50]", {"amt": 90}, None
    )


def test_engine_scan_int_literal_on_decimal_truncate(lake):
    """End-to-end: WHERE amt = 10 (int-parsed literal) on a decimal
    truncate-partitioned table returns the 10.00 row and derives the
    10.00 partition filter, not 0.00."""
    lake.sql(
        "CREATE TABLE polaris.db.tdec3 (id INT, amt DECIMAL(10,2)) USING ICEBERG "
        "PARTITIONED BY (truncate(50, amt))"
    )
    lake.sql("INSERT INTO db.tdec3 VALUES (1, 10.00), (2, 0.25), (3, -10.00)")
    df = lake.sql("SELECT id FROM db.tdec3 WHERE amt = 10")
    assert {
        seg for f in df.inputFiles() for seg in f.split("/") if seg.startswith("_p_truncate50_amt=")
    } == {"_p_truncate50_amt=10.00"}
    assert [r.id for r in df.collect()] == [1]
    df2 = lake.sql("SELECT id FROM db.tdec3 WHERE amt = -10")
    assert [r.id for r in df2.collect()] == [3]
    # the export string-encodes decimal partition values, so it writes no
    # manifest-list bounds for them (their text order is not their value
    # order); the foreign reader still prunes by file and finds the row
    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    t = lake.wh.table("db", "tdec3")
    md = json.loads(open(IR.resolve_metadata_path(t.path)).read())
    (cur,) = [s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]]
    sums = [p for m in avro_io.read_container(cur["manifest-list"])[2] for p in m["partitions"]]
    assert sums and all(p["lower_bound"] is None and p["upper_bound"] is None for p in sums)
    fr = IR.read_iceberg_table(lake.spark, t.path, eq={"amt": -10})
    assert [r.id for r in fr.filter("amt = -10").collect()] == [3]


# -------------------------------------------------- session-zone literals


def test_ts_micros_naive_literal_resolves_in_session_zone():
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    tok = IR._SESSION_TZ.set("Asia/Tokyo")
    try:
        utc_10 = 1704103200000000  # 2024-01-01T10:00:00Z
        # partition/bound side stays UTC; literal side shifts -9h
        assert IR._ts_micros("2024-01-01 10:00:00") == utc_10
        assert (
            IR._ts_micros("2024-01-01 10:00:00", session_naive=True)
            == utc_10 - 9 * 3_600_000_000
        )
        # offset-bearing literals are unaffected by the session zone
        assert IR._ts_micros("2024-01-01T10:00:00+00:00", session_naive=True) == utc_10
        # temporal transform of a naive tz literal follows the session zone
        assert IR._transform_pred("day", "2024-01-01 01:00:00", "timestamptz")[0] == 19722
        # ...but an ntz column stays wall-clock
        assert IR._transform_pred("day", "2024-01-01 01:00:00", "timestamp")[0] == 19723
    finally:
        IR._SESSION_TZ.reset(tok)


def test_ts_micros_ambiguous_or_unknown_zone_declines_to_prune():
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    tok = IR._SESSION_TZ.set("America/New_York")
    try:
        # DST fall-back wall time occurs twice: no pruning
        assert IR._ts_micros("2024-11-03 01:30:00", session_naive=True) is None
        # unambiguous wall time still prunes (EST = UTC-5)
        assert (
            IR._ts_micros("2024-01-01 10:00:00", session_naive=True)
            == 1704103200000000 + 5 * 3_600_000_000
        )
    finally:
        IR._SESSION_TZ.reset(tok)
    tok = IR._SESSION_TZ.set("Not/AZone")
    try:
        assert IR._ts_micros("2024-01-01 10:00:00", session_naive=True) is None
        assert IR._transform_pred("day", "2024-01-01 01:00:00", "timestamptz") is None
    finally:
        IR._SESSION_TZ.reset(tok)
    tok = IR._SESSION_TZ.set("GMT+09:00")
    try:
        assert (
            IR._ts_micros("2024-01-01 10:00:00", session_naive=True)
            == 1704103200000000 - 9 * 3_600_000_000
        )
    finally:
        IR._SESSION_TZ.reset(tok)


def test_coerce_vals_timestamptz_literal_uses_session_zone():
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    us = 1704103200000000  # 2024-01-01T10:00:00Z
    tok = IR._SESSION_TZ.set("Asia/Tokyo")
    try:
        a, b = IR._coerce_vals(us, "2024-01-01 19:00:00", "timestamptz")
        assert a == b == us  # Tokyo 19:00 IS 10:00 UTC
        # ntz columns compare wall-clock on both sides, session-invariant
        a, b = IR._coerce_vals("2024-01-01 10:00:00", "2024-01-01T10:00:00", "timestamp")
        assert a == b
    finally:
        IR._SESSION_TZ.reset(tok)


def test_foreign_scan_naive_literal_non_utc_session_keeps_matching_row(lake, spark):
    """End-to-end: under a non-UTC session zone, a NAIVE equality
    literal on a day(ts)-partitioned foreign table still returns its
    row — the pruner derives the same instant Spark's row filter
    matches (UTC-only derivation pruned the matching file)."""
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    lake.sql(
        "CREATE TABLE polaris.db.tzp (id INT, ts TIMESTAMP) USING ICEBERG "
        "PARTITIONED BY (days(ts))"
    )
    # offset-bearing inserts: fixture instants independent of session zone
    lake.sql(
        "INSERT INTO db.tzp VALUES "
        "(1, '2024-01-01T04:00:00+00:00'), (2, '2024-01-01T19:00:00+00:00'), "
        "(3, '2024-01-03T04:00:00+00:00')"
    )
    t = lake.wh.table("db", "tzp")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        # Tokyo 2024-01-02 04:00 IS 2024-01-01T19:00Z → row 2
        fr = IR.read_iceberg_table(spark, t.path, eq={"ts": "2024-01-02 04:00:00"})
        got = fr.filter("ts = '2024-01-02 04:00:00'").collect()
        assert [r.id for r in got] == [2]
        # and the predicate still planned fewer files than the full read
        full = len(IR.read_iceberg_table(spark, t.path).inputFiles())
        assert len(fr.inputFiles()) < full
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_bucket_transform_naive_literal_resolves_session_zone():
    """bucket[N] pruning of a naive timestamptz literal must hash the
    instant the row filter matches (session zone), not the UTC reading
    of the wall time — a wrong bucket silently drops the row."""
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR
    from minio_iceberg_polaris_lakehouse_spark.theta import iceberg_bucket

    instant_us = 1704103200000000  # 2024-01-01T10:00:00Z
    expect = iceberg_bucket(instant_us, 16, "timestamptz")
    tok = IR._SESSION_TZ.set("Asia/Tokyo")
    try:
        got = IR._transform_pred("bucket[16]", "2024-01-01 19:00:00", "timestamptz")
        assert got == (expect, False)
        # unknown zone: decline to prune rather than hash a guess
        tok2 = IR._SESSION_TZ.set("Not/AZone")
        try:
            assert IR._transform_pred("bucket[16]", "2024-01-01 19:00:00", "timestamptz") is None
        finally:
            IR._SESSION_TZ.reset(tok2)
    finally:
        IR._SESSION_TZ.reset(tok)


def test_engine_bucket_scan_naive_literal_non_utc_session(lake, spark):
    """End-to-end on the engine's spec-hash bucket path: a naive
    timestamp equality under Asia/Tokyo still returns its row — the
    driver-side literal bucket must be computed from the session-zone
    instant."""
    lake.sql(
        "CREATE TABLE polaris.db.tzb (id INT, ts TIMESTAMP) USING ICEBERG "
        "PARTITIONED BY (bucket(8, ts))"
    )
    lake.sql(
        "INSERT INTO db.tzb VALUES "
        "(1, '2024-01-01T04:00:00+00:00'), (2, '2024-01-01T10:00:00+00:00'), "
        "(3, '2024-01-02T21:30:00+00:00')"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        # Tokyo 19:00 IS 10:00Z → row 2
        df = lake.sql("SELECT id FROM db.tzb WHERE ts = '2024-01-01 19:00:00'")
        assert [r.id for r in df.collect()] == [2]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_export_non_utc_temporal_dirs_emit_null_partition_values(lake, spark):
    """A Tokyo-written day(ts) dir straddles two UTC days, so NO single
    spec partition value is correct for its files — the export must
    emit NULL (spec 'unknown') and a foreign scan with a timestamp
    equality must keep the matching row instead of pruning on a
    shifted value."""
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        lake.sql(
            "CREATE TABLE polaris.db.tze (id INT, ts TIMESTAMP) USING ICEBERG "
            "PARTITIONED BY (days(ts))"
        )
        lake.sql(
            "INSERT INTO db.tze VALUES "
            "(1, '2024-01-01T19:00:00+00:00'), (2, '2024-01-03T02:00:00+00:00')"
        )
        t = lake.wh.table("db", "tze")
        fr = IR.read_iceberg_table(
            spark, t.path, eq={"ts": "2024-01-01T19:00:00+00:00"}
        )
        got = fr.filter("ts = '2024-01-01T19:00:00+00:00'").collect()
        assert [r.id for r in got] == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # and under UTC too (cross-zone foreign read)
    fr = IR.read_iceberg_table(spark, t.path, eq={"ts": "2024-01-01 19:00:00"})
    assert [r.id for r in fr.filter("ts = '2024-01-01 19:00:00'").collect()] == [1]


# ------------------------------------------------------------------ QUALIFY


def test_qualify_through_sql_frontend(lake):
    """QUALIFY works on warehouse tables through LakehouseSQL.sql —
    alias reference, window predicate, ORDER BY/LIMIT tail, and the
    helper column never leaks into the result."""
    lake.sql("CREATE TABLE polaris.db.qf (g STRING, v INT) USING ICEBERG")
    lake.sql("INSERT INTO db.qf VALUES ('a', 3), ('a', 1), ('a', 2), ('b', 9), ('b', 8)")
    df = lake.sql(
        "SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) AS rn "
        "FROM db.qf QUALIFY rn <= 2 ORDER BY g, rn"
    )
    assert df.columns == ["g", "v", "rn"]
    assert [tuple(r) for r in df.collect()] == [
        ("a", 3, 1), ("a", 2, 2), ("b", 9, 1), ("b", 8, 2)
    ]
    # raw window expression in the predicate (no alias), plus LIMIT
    df2 = lake.sql(
        "SELECT g, v FROM db.qf "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) = 1 "
        "ORDER BY g LIMIT 1"
    )
    assert [tuple(r) for r in df2.collect()] == [("a", 3)]


def test_qualify_rewrite_guards_and_masking():
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import (
        WarehouseError,
        qualify_sql,
    )

    # literal containing the keyword never triggers the rewrite
    s = "SELECT * FROM t WHERE note = 'we QUALIFY for this'"
    assert qualify_sql(s) == s
    # nested-subquery QUALIFY (depth > 0) is left for that subquery's
    # own rewrite pass — only depth-0 rewrites here
    s2 = "SELECT * FROM (SELECT 1) x"
    assert qualify_sql(s2) == s2
    # r11: the guard additionally requires a depth-0 FROM before the
    # token reads as a clause (headless forms now defer to Spark's own
    # parse error instead of raising here), so these raise-paths carry one
    with pytest.raises(WarehouseError, match="set-operation"):
        qualify_sql("SELECT 1 AS a FROM t UNION ALL SELECT 2 FROM u QUALIFY a = 1")
    with pytest.raises(WarehouseError, match="predicate"):
        qualify_sql("SELECT 1 AS a FROM t QUALIFY")
    with pytest.raises(WarehouseError, match="multiple"):
        qualify_sql("SELECT 1 AS a FROM t QUALIFY a = 1 QUALIFY a = 2")


def test_asof_join_through_sql_frontend(lake):
    """ASOF JOIN works on warehouse tables through LakehouseSQL.sql —
    inner drops unmatched, LEFT keeps with NULL, equality conjunct
    applies, and the extreme-row choice follows the inequality
    direction."""
    lake.sql("CREATE TABLE polaris.db.aj_l (k INT, ts INT) USING ICEBERG")
    lake.sql("CREATE TABLE polaris.db.aj_r (k INT, ts INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO db.aj_l VALUES (1, 10), (1, 20), (2, 5)")
    lake.sql("INSERT INTO db.aj_r VALUES (1, 8, 'x'), (1, 15, 'y'), (2, 9, 'z')")
    df = lake.sql(
        "SELECT l.k, l.ts, r.ts AS rts, r.v FROM db.aj_l l "
        "ASOF JOIN db.aj_r r ON l.k = r.k AND l.ts >= r.ts ORDER BY l.k, l.ts"
    )
    assert [tuple(x) for x in df.collect()] == [(1, 10, 8, "x"), (1, 20, 15, "y")]
    df2 = lake.sql(
        "SELECT l.k, l.ts, r.ts AS rts FROM db.aj_l l "
        "ASOF LEFT JOIN db.aj_r r ON l.k = r.k AND l.ts >= r.ts ORDER BY l.k, l.ts"
    )
    assert [tuple(x) for x in df2.collect()] == [(1, 10, 8), (1, 20, 15), (2, 5, None)]
    # at-or-AFTER direction: earliest r.ts >= l.ts
    df3 = lake.sql(
        "SELECT l.k, l.ts, r.ts AS rts FROM db.aj_l l "
        "ASOF JOIN db.aj_r r ON l.k = r.k AND l.ts <= r.ts ORDER BY l.k, l.ts"
    )
    assert [tuple(x) for x in df3.collect()] == [(1, 10, 15), (2, 5, 9)]


def test_asof_rewrite_guards():
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import (
        WarehouseError,
        asof_sql,
    )

    s = "SELECT * FROM t WHERE note = 'ASOF JOIN inside a literal'"
    assert asof_sql(s) == s
    with pytest.raises(WarehouseError, match="inequality"):
        asof_sql("SELECT 1 FROM a ASOF JOIN b ON a.k = b.k")
    with pytest.raises(WarehouseError, match="exactly ONE"):
        asof_sql("SELECT 1 FROM a ASOF JOIN b ON a.t >= b.t AND a.u <= b.u")
    with pytest.raises(WarehouseError, match="alias"):
        asof_sql("SELECT 1 FROM a ASOF JOIN (SELECT 1) ON a.k = b.k")
    with pytest.raises(WarehouseError, match="multiple"):
        asof_sql(
            "SELECT 1 FROM a ASOF JOIN b ON a.t >= b.t "
            "ASOF JOIN c ON a.t >= c.t"
        )


def test_star_exclude_replace_through_sql_frontend(lake):
    """DuckDB/Snowflake star modifiers: * EXCLUDE rewrites to Spark's
    * EXCEPT (paren and bare forms), * REPLACE substitutes expressions
    while keeping the rest of the row; REPLACE() the string function is
    untouched."""
    lake.sql("CREATE TABLE polaris.db.sr (id INT, g STRING, v INT) USING ICEBERG")
    lake.sql("INSERT INTO db.sr VALUES (1, 'a', 10), (2, 'b', 20)")
    df = lake.sql("SELECT * EXCLUDE (v) FROM db.sr ORDER BY id")
    assert df.columns == ["id", "g"]
    df2 = lake.sql("SELECT * EXCLUDE g FROM db.sr ORDER BY id")
    assert df2.columns == ["id", "v"]
    df3 = lake.sql("SELECT * REPLACE (v * 2 AS v) FROM db.sr ORDER BY id")
    assert sorted(df3.columns) == ["g", "id", "v"]
    assert {r.id: r.v for r in df3.collect()} == {1: 20, 2: 40}
    # multi-item REPLACE + string-function REPLACE untouched in one stmt
    df4 = lake.sql(
        "SELECT * REPLACE (v + 1 AS v, REPLACE(g, 'a', 'x') AS g) "
        "FROM db.sr ORDER BY id"
    )
    assert {r.id: (r.g, r.v) for r in df4.collect()} == {1: ("x", 11), 2: ("b", 21)}
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import (
        WarehouseError,
        dialect_sql,
    )

    s = "SELECT REPLACE(g, 'a', 'b') FROM t"
    assert dialect_sql(s) == s  # bare function form untouched
    with pytest.raises(WarehouseError, match="REPLACE items"):
        dialect_sql("SELECT * REPLACE (v + 1) FROM t")


def test_dialect_rewrites_leave_valid_spark_sql_alone():
    """Round-10 review findings: the dialect layer runs on EVERY
    front-end statement, so its false positives would regress
    previously-working SQL. Multiplication stars, the REPLACE() string
    function after an operator, identifiers named exclude, and the
    native star EXCEPT modifier must all pass through / compose."""
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import dialect_sql

    # multiplication star before the REPLACE() string function
    s = "SELECT price * REPLACE(sku, '-', '') AS x FROM t"
    assert dialect_sql(s) == s
    # multiplication star before an identifier named exclude
    s2 = "SELECT a * exclude FROM t"
    assert dialect_sql(s2) == s2
    # and one named replace (no parens → bare path)
    s3 = "SELECT a * replace AS y FROM t"
    assert dialect_sql(s3) == s3
    # '* EXCLUDE FROM t' is invalid SQL — left for Spark's parse error,
    # never mangled into '* EXCEPT (FROM) t'
    s4 = "SELECT * EXCLUDE FROM t"
    assert dialect_sql(s4) == s4
    # QUALIFY composes with the star modifiers (EXCEPT-as-projection is
    # not a set operation)
    out = dialect_sql(
        "SELECT * EXCLUDE (a), ROW_NUMBER() OVER (ORDER BY b) AS rn "
        "FROM t QUALIFY rn <= 2"
    )
    assert "_lh_qualify" in out and "EXCEPT (a)" in out
    out2 = dialect_sql(
        "SELECT * EXCEPT (a), ROW_NUMBER() OVER (ORDER BY b) AS rn "
        "FROM t QUALIFY rn = 1"
    )
    assert "_lh_qualify" in out2


def test_dialect_star_sugar_composes_end_to_end(lake):
    lake.sql("CREATE TABLE polaris.db.dr10 (g STRING, price INT, sku STRING) USING ICEBERG")
    lake.sql("INSERT INTO db.dr10 VALUES ('a', 3, 'x-1'), ('a', 1, 'y-2'), ('b', 9, 'z-3')")
    # arithmetic star + string REPLACE through the front end: untouched
    df = lake.sql("SELECT price * 2 AS p2, REPLACE(sku, '-', '') AS s FROM db.dr10 ORDER BY p2")
    assert [tuple(r) for r in df.collect()] == [(2, "y2"), (6, "x1"), (18, "z3")]
    # EXCLUDE + QUALIFY combined
    df2 = lake.sql(
        "SELECT * EXCLUDE (sku), ROW_NUMBER() OVER (PARTITION BY g ORDER BY price DESC) AS rn "
        "FROM db.dr10 QUALIFY rn = 1 ORDER BY g"
    )
    assert [tuple(r) for r in df2.collect()] == [("a", 3, 1), ("b", 9, 1)]


def test_asof_parenthesized_on_condition(lake):
    """Review finding: the common parenthesized-ON style must parse —
    both a fully wrapped condition and a parenthesized conjunct."""
    lake.sql("CREATE TABLE polaris.db.ap_l (k INT, ts INT) USING ICEBERG")
    lake.sql("CREATE TABLE polaris.db.ap_r (k INT, ts INT) USING ICEBERG")
    lake.sql("INSERT INTO db.ap_l VALUES (1, 10)")
    lake.sql("INSERT INTO db.ap_r VALUES (1, 8), (1, 4)")
    df = lake.sql(
        "SELECT l.k, r.ts AS rts FROM db.ap_l l "
        "ASOF JOIN db.ap_r r ON (l.k = r.k AND l.ts >= r.ts)"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 8)]
    df2 = lake.sql(
        "SELECT l.k, r.ts AS rts FROM db.ap_l l "
        "ASOF JOIN db.ap_r r ON l.k = r.k AND (l.ts >= r.ts)"
    )
    assert [tuple(r) for r in df2.collect()] == [(1, 8)]


# ------------------------------------------------------------------- bench


def test_bench_summary_carries_probe_adjusted_total():
    """Cross-round comparisons needed SCALE.md exegesis to normalize for
    host speed; the summary line now publishes the coarse normalization
    itself (geometric mean of before/after probes vs the r7/r8 idle
    reference band)."""
    import bench

    r = {
        "metric": "m", "value": 8.0, "unit": "sec", "sf": 0.1, "queries": {},
        "iters": 5, "probe_degraded": False, "load_contaminated": False,
        "cpu_probe_s": 0.35, "cpu_probe_after_s": 0.35,
    }
    assert bench._summarize(r)["probe_adjusted_total"] == 8.0  # reference host
    r["cpu_probe_s"] = r["cpu_probe_after_s"] = 0.70  # 2x slower host
    assert bench._summarize(r)["probe_adjusted_total"] == 4.0
    r["cpu_probe_s"] = r["cpu_probe_after_s"] = 0  # unusable probes: omitted
    assert "probe_adjusted_total" not in bench._summarize(r)


def test_bench_emit_degrades_oversize_line_instead_of_raising(tmp_path, monkeypatch, capsys):
    import bench

    monkeypatch.setattr(bench, "DETAIL_PATH", tmp_path / "BENCH_DETAIL.json")
    monkeypatch.setattr(bench, "SUMMARY_BUDGET_B", 120)
    result = {
        "metric": "headline_queries_total_runtime",
        "value": 1.23,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"q{i}": 1.0 for i in range(40)},
        "iters": 1,
        "probe_degraded": False,
        "load_contaminated": False,
        "cpu_probe_s": 0.5,
    }
    bench._emit(result)  # must not raise even though both forms overflow
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line.encode()) <= 120
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_runtime"
    assert parsed["value"] == 1.23 and parsed["detail"] == "BENCH_DETAIL.json"
