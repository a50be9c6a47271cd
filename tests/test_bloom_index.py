"""Per-file Bloom data-skipping index: plan-time pruning for equality
probes on high-cardinality columns whose footer [min,max] bounds overlap
across files (where bounds skipping alone drops nothing).

Correctness invariant: the index can THIN the planned file set, never
wrongly drop — every probe returns exactly the rows of the unindexed
scan, including for files written after the build (no entry → kept)."""

from __future__ import annotations

import pytest

from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    Warehouse,
    WarehouseError,
    _bloom_positions_py,
)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


@pytest.fixture()
def tab(wh):
    t = wh.create_table("db", "bi", "id int, k string")
    # two commits with overlapping id ranges (bounds can't skip) but
    # disjoint key sets (bloom can)
    t.insert_values([(i, f"a{i % 5}") for i in range(100)])
    t.insert_values([(i, f"z{i % 5}") for i in range(100)])
    return t


def _nonempty_files(tab) -> int:
    return sum(1 for f in tab.files().collect() if f.record_count > 0)


def test_bloom_index_prunes_files_and_keeps_rows_exact(tab):
    n = tab.build_bloom_index("k")
    assert n == _nonempty_files(tab)  # every file with rows is covered
    full = len(tab.read().inputFiles())
    df = tab.scan(eq={"k": "z3"})
    assert len(df.inputFiles()) < full  # the 'a*' commit never plans
    got = sorted((r.id, r.k) for r in df.filter("k = 'z3'").collect())
    want = sorted((r.id, r.k) for r in tab.read().filter("k = 'z3'").collect())
    assert got == want and got


def test_bloom_index_absent_value_prunes_everything(tab):
    tab.build_bloom_index("k")
    assert len(tab.scan(eq={"k": "not-a-key"}).inputFiles()) == 0


def test_files_after_build_never_wrongly_pruned(tab):
    tab.build_bloom_index("k")
    tab.insert_values([(999, "fresh")])
    df = tab.scan(eq={"k": "fresh"})
    assert df.filter("k = 'fresh'").count() == 1


def test_every_existing_value_survives_the_index(tab):
    """No false negatives, fuzzed over every present key."""
    tab.build_bloom_index("k")
    for key in [f"a{i}" for i in range(5)] + [f"z{i}" for i in range(5)]:
        got = tab.scan(eq={"k": key}).filter(f"k = '{key}'").count()
        want = tab.read().filter(f"k = '{key}'").count()
        assert got == want == 20, key


def test_rebuild_covers_new_files(tab):
    tab.build_bloom_index("k")
    tab.insert_values([(1000 + i, "late") for i in range(10)])
    n2 = tab.build_bloom_index("k")
    assert n2 == _nonempty_files(tab)
    df = tab.scan(eq={"k": "late"})
    # the rebuilt index now prunes the two original commits for 'late'
    assert len(df.inputFiles()) < len(tab.read().inputFiles())
    assert df.filter("k = 'late'").count() == 10


def test_bloom_respects_deletes(tab):
    """MOR/CoW-deleted rows never resurface through a pruned-or-kept
    file decision (the index is advisory; the scan still applies its
    normal read path)."""
    tab.delete_where("k = 'z3' AND id < 50")
    tab.build_bloom_index("k")
    got = sorted(r.id for r in tab.scan(eq={"k": "z3"}).filter("k = 'z3'").collect())
    want = sorted(r.id for r in tab.read().filter("k = 'z3'").collect())
    assert got == want


def test_bloom_positions_py_matches_jvm(spark):
    """The driver-side probe-position replay must agree with the JVM
    arithmetic the build uses, for negative and positive hashes."""
    from pyspark.sql import functions as F

    bits, k = 1 << 17, 4
    df = spark.range(200).select(F.xxhash64("id").alias("h"))
    h1 = F.shiftrightunsigned(F.col("h"), 33)
    h2 = F.col("h").bitwiseAND(F.lit(0x7FFFFFFF)).bitwiseOR(F.lit(1))
    jvm = df.select(
        "h", F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(bits)) for i in range(k)]).alias("p")
    ).collect()
    for r in jvm:
        assert _bloom_positions_py(r["h"], bits, k) == list(r["p"])


def test_build_bloom_index_unknown_column(tab):
    with pytest.raises(WarehouseError):
        tab.build_bloom_index("nope")


def test_sql_call_and_sql_point_lookup(spark, tmp_path):
    lake = LakehouseSQL(spark, str(tmp_path / "lh"))
    lake.sql("CREATE TABLE polaris.db.pt (id INT, k STRING) USING ICEBERG")
    lake.sql(
        "INSERT INTO db.pt VALUES " + ", ".join(f"({i}, 'a{i % 7}')" for i in range(50))
    )
    lake.sql(
        "INSERT INTO db.pt VALUES " + ", ".join(f"({i}, 'z{i % 7}')" for i in range(50))
    )
    r = lake.sql(
        "CALL polaris.system.build_bloom_index(table => 'db.pt', column => 'k')"
    ).collect()[0]
    assert r.indexed_files_count > 0 and r.column == "k"
    # plain SQL point lookup routes through scan(eq=...) → bloom pruning
    out = lake.sql("SELECT id, k FROM db.pt WHERE k = 'z3'")
    got = sorted(tuple(x) for x in out.collect())
    assert got and all(k == "z3" for _, k in got)


def test_bloom_probe_prunes_inside_bounds_and_runs_no_spark_job(wh):
    """Interleaved keys: every file's [min, max] covers the probe, so
    only the bitsets can drop a file. The probe literal hashes over a
    LocalRelation, so planning the scan launches no Spark job."""
    t = wh.create_table("db", "bl", "id int, k string")
    t.insert_values([(i, f"k{i:03d}") for i in range(0, 200, 2)])
    t.insert_values([(i, f"k{i:03d}") for i in range(1, 200, 2)])
    t.build_bloom_index("k")
    sc = t.spark.sparkContext
    sc.setJobGroup("bloom-probe", "bloom-probe")
    try:
        df = t.scan(eq={"k": "k101"})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("bloom-probe") == []
    assert len(df.inputFiles()) < len(t.read().inputFiles())
    assert [tuple(r) for r in df.collect()] == [(101, "k101")]
