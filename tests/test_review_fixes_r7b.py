"""Regression pins for the round-7 session-2 review findings: a
corrupt stream checkpoint must fail loudly, and content salts must
tolerate nested maps."""

from __future__ import annotations

import pytest

from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError
from tests.test_changelog import _build_random_id_table


def test_corrupt_stream_checkpoint_fails_loudly(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.streaming.foreign_source import (
        ForeignTableStream,
    )

    root = _build_random_id_table(tmp_path)
    cp = str(tmp_path / "ckpt.json")
    with open(cp, "w") as f:
        f.write("{ truncated")
    with pytest.raises(WarehouseError, match="unreadable"):
        ForeignTableStream(spark, root, checkpoint_path=cp)


def test_content_salt_handles_nested_maps(spark):
    from pyspark.sql import functions as F

    from minio_iceberg_polaris_lakehouse_spark.operators.skew import salted_sum

    df = spark.createDataFrame(
        [(1, [{"a": 1}], 10), (1, [{"b": 2}], 5), (2, [{"c": 3}], 7)],
        "k int, m array<map<string,int>>, x int",
    )
    out = {r.k: r.s for r in salted_sum(df, "k", F.col("x"), "s").collect()}
    assert out == {1: 15, 2: 7}


def test_initial_stream_batch_pinned_to_polled_snapshot(spark, tmp_path, monkeypatch):
    """Rows committed between _current_snapshot() and the metadata
    re-read must NOT leak into the initial batch (they would be
    re-delivered by the next incremental poll)."""
    from minio_iceberg_polaris_lakehouse_spark.streaming.foreign_source import (
        ForeignTableStream,
    )
    from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "s", "id int")
    t.insert_values([(1,)])  # snapshot 1
    stream = ForeignTableStream(spark, t.path)
    t.insert_values([(2,)])  # snapshot 2 lands AFTER the poll's cur probe
    monkeypatch.setattr(stream, "_current_snapshot", lambda: 1)
    df, lo, hi = stream.poll()
    assert (lo, hi) == (0, 1)
    assert sorted(r.id for r in df.collect()) == [1]  # snap2's row NOT leaked
    # next poll delivers snapshot 2 exactly once
    monkeypatch.undo()
    df2, lo2, hi2 = stream.poll()
    assert (lo2, hi2) == (1, 2)
    assert [r.id for r in df2.collect()] == [2]


def test_snapshot_procedure_no_orphan_on_failed_import(spark, tmp_path):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    spark.createDataFrame([(1,)], "id int").coalesce(1).write.parquet(str(mixed / "p1"))
    spark.createDataFrame([(2,)], "id bigint").coalesce(1).write.parquet(str(mixed / "p2"))
    import shutil

    for sub in ["p1", "p2"]:
        for f in (mixed / sub).glob("*.parquet"):
            shutil.move(str(f), str(mixed / f"{sub}_{f.name}"))
        shutil.rmtree(mixed / sub)
    with pytest.raises(WarehouseError, match="differing schemas"):
        lake.sql(
            f"CALL polaris.system.snapshot(source_table => '{mixed}', table => 'db.orp')"
        )
    assert not lake.wh.table("db", "orp").exists()  # no orphan
    # retry with a clean source succeeds
    ok = tmp_path / "ok"
    spark.createDataFrame([(3,)], "id int").write.parquet(str(ok))
    lake.sql(f"CALL polaris.system.snapshot(source_table => '{ok}', table => 'db.orp')")
    assert [r.id for r in lake.sql("SELECT id FROM db.orp").collect()] == [3]
