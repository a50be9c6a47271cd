"""Regression pins for the round-6 ADVICE findings — each test fails on
the pre-fix code (silent delete un-application, silent stream data
loss, or a loadTable metadata race)."""

from __future__ import annotations

import pytest

from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from minio_iceberg_polaris_lakehouse_spark.streaming.table_source import TableStream
from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    SnapshotNotFoundError,
    Warehouse,
    WarehouseError,
)


@pytest.fixture()
def lake(spark, tmp_path):
    return LakehouseSQL(spark, str(tmp_path / "wh"))


def test_stream_fails_loudly_when_checkpoint_snapshot_expired(spark, tmp_path):
    """If the checkpointed snapshot was removed by expire_snapshots, the
    skip_replacements fallback must NOT treat the first in-range snapshot
    as a replacement boundary (that silently drops the appends since the
    checkpoint). At-least-once delivery demands a loud failure."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "s", "id int")
    t.insert_values([(1,)])
    stream = TableStream(
        t, checkpoint_path=str(tmp_path / "ckpt.json"), skip_replacements=True
    )
    df, _, _ = stream.poll()
    assert df.count() == 1
    t.insert_values([(2,)])
    t.insert_values([(3,)])
    t.expire_snapshots(keep_last=1)  # checkpointed snapshot 1 is gone
    with pytest.raises(WarehouseError, match="expired"):
        stream.poll()


def test_incremental_scan_expired_raises_distinct_type(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "x", "id int")
    t.insert_values([(1,)])
    t.insert_values([(2,)])
    t.expire_snapshots(keep_last=1)
    with pytest.raises(SnapshotNotFoundError):
        t.incremental_scan(1)


def test_concurrent_loadtable_single_lazy_export(spark, tmp_path):
    """Two concurrent loadTable calls on a warehouse-created table that
    has never been exported must produce exactly one metadata export
    (one version), not race write_iceberg_metadata."""
    import concurrent.futures as cf

    from minio_iceberg_polaris_lakehouse_spark import fsio
    from minio_iceberg_polaris_lakehouse_spark.rest_catalog import (
        RestCatalogClient,
        make_server,
    )

    srv, port = make_server(str(tmp_path), "cid", "sec")
    try:
        cli = RestCatalogClient(f"http://127.0.0.1:{port}", "cid", "sec")
        cli.create_catalog("cat", str(tmp_path / "cat"))
        cli.create_namespace("cat", "db")
        # create the table BEHIND the catalog's back (warehouse API), so
        # the first loadTable triggers the lazy metadata export
        wh = Warehouse(spark, str(tmp_path / "cat"))
        tab = wh.create_table("db", "lazy", "id int")
        tab.insert_values([(1,)])

        with cf.ThreadPoolExecutor(4) as ex:
            locs = list(ex.map(lambda _: cli.load_table("cat", "db", "lazy")["metadata-location"], range(4)))
        assert len(set(locs)) == 1
        hint = fsio.read_text(f"{tab.path}/metadata/version-hint.text").strip()
        assert locs[0].endswith(f"v{hint}.metadata.json")
    finally:
        srv.shutdown()


def test_cas_mode_stage_paths_never_collide(spark, tmp_path):
    """Two writers staging an append from the SAME base (update_hint=False,
    the CAS topology) must write DISTINCT metadata + manifest-list paths —
    a shared vN+1 name would let the 409 loser's atomic rename replace the
    winner's committed metadata (silent lost update). The loser re-stages
    on the winner's pointer and all rows survive."""
    import json as _json

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
        resolve_metadata_path,
    )
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        append_iceberg_table,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "cas", "id int")
    t.insert_values([(1,)])
    base = resolve_metadata_path(t.path)

    a = append_iceberg_table(
        spark, base, spark.createDataFrame([(2,)], "id int"), update_hint=False
    )
    b = append_iceberg_table(
        spark, base, spark.createDataFrame([(3,)], "id int"), update_hint=False
    )
    assert a != b  # per-writer uuid in the staged names
    la = _json.loads(open(a).read())["snapshots"][-1]["manifest-list"]
    lb = _json.loads(open(b).read())["snapshots"][-1]["manifest-list"]
    assert la != lb
    # winner A's staged metadata is intact after B staged (no overwrite)
    assert sorted(r.id for r in read_iceberg_table(spark, a).collect()) == [1, 2]
    # loser B re-stages on A's pointer: every row survives
    c = append_iceberg_table(
        spark, a, spark.createDataFrame([(3,)], "id int"), update_hint=False
    )
    assert sorted(r.id for r in read_iceberg_table(spark, c).collect()) == [1, 2, 3]


def test_foreign_append_manifest_length_is_real(spark, tmp_path):
    import json as _json

    from minio_iceberg_polaris_lakehouse_spark import avro_io, fsio
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        append_iceberg_table,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.create_table("db", "ml", "id int")
    t.insert_values([(1,)])
    path = append_iceberg_table(spark, t.path, spark.createDataFrame([(2,)], "id int"))
    mlist = _json.loads(open(path).read())["snapshots"][-1]["manifest-list"]
    _s, _m, recs = avro_io.read_container(mlist)
    new_rec = recs[-1]
    assert new_rec["manifest_length"] == fsio.getsize(new_rec["manifest_path"])
    assert new_rec["manifest_length"] > 100  # a real Avro container, not a stub


def test_ivf_index_build_idempotent_after_partial_state(spark, tmp_path, sf_dir):
    """A retry after a partial build (only one of the two tables
    committed) must converge to exactly one centroid set — the pre-fix
    append-based build doubled the centroids, silently corrupting probe
    selection."""
    from minio_iceberg_polaris_lakehouse_spark.operators.similarity import (
        K_COARSE,
        build_ivf_index,
    )

    root = str(tmp_path / "idx")
    wh = build_ivf_index(spark, sf_dir, root)
    # simulate the partial-failure retry: centroids committed, index not
    wh.table("ann", "ivf_centroids").overwrite(
        wh.table("ann", "ivf_centroids").read()
    )
    wh2 = build_ivf_index(spark, sf_dir, root)
    cent = wh2.table("ann", "ivf_centroids").read()
    assert cent.count() == K_COARSE
    assert cent.select("cell").distinct().count() == K_COARSE


def test_create_view_refuses_foreign_name(lake, spark, tmp_path):
    from tests.test_iceberg_reader import _build_foreign_table

    root = _build_foreign_table(tmp_path)
    lake.sql(
        "CALL polaris.system.register_table(table => 'ext.ft', "
        f"metadata_file => '{root}')"
    )
    with pytest.raises(WarehouseError, match="foreign"):
        lake.sql("CREATE VIEW ext.ft AS SELECT 1 AS x")


def test_salted_sum_handles_map_columns(spark):
    from pyspark.sql import functions as F

    from minio_iceberg_polaris_lakehouse_spark.operators.skew import salted_sum

    df = spark.createDataFrame(
        [("a", 1, {"k": "v"}), ("a", 2, {"k2": "v2"}), ("b", 3, {})],
        "k string, v int, attrs map<string,string>",
    )
    out = {r.k: (r.total, r.n_rows) for r in salted_sum(df, "k", F.col("v"), "total").collect()}
    assert out == {"a": (3.0, 2), "b": (3.0, 1)}


def test_foreign_view_names_collision_proof(spark, tmp_path):
    """a__b.c and a.b__c must resolve to DIFFERENT temp views inside one
    statement (the '__' separator also occurs inside identifiers)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
    from tests.test_iceberg_reader import _build_foreign_table

    r1 = _build_foreign_table(tmp_path / "one")
    # second, distinct table: clone the fixture layout at another path
    r2 = _build_foreign_table(tmp_path / "two")
    lake = LakehouseSQL(spark, str(tmp_path / "wh"))
    lake.sql(
        f"CALL polaris.system.register_table(table => 'a__b.c', metadata_file => '{r1}')"
    )
    lake.sql(
        f"CALL polaris.system.register_table(table => 'a.b__c', metadata_file => '{r2}')"
    )
    # make the two tables distinguishable: append only to the second
    lake.sql("INSERT INTO polaris.a.b__c VALUES (77, 'marker')")
    left = sorted(r.id for r in lake.sql("SELECT id FROM a__b.c").collect())
    right = sorted(r.id for r in lake.sql("SELECT id FROM a.b__c").collect())
    assert left == [3, 4] and right == [3, 4, 77]
    both = lake.sql(
        "SELECT l.id AS lid, r.id AS rid FROM a__b.c l JOIN a.b__c r ON l.id = r.id"
    )
    assert sorted((x.lid, x.rid) for x in both.collect()) == [(3, 3), (4, 4)]
