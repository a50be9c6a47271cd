"""Manifest-level file pruning for FOREIGN Iceberg reads: scan planning
over the open metadata (identity-partition values + column bounds) so a
selective predicate on a registered foreign table plans only the files
it can touch — the Iceberg value proposition, now on the consumer side.

Every pruned read is also checked for EQUALITY against the unpruned
read + filter: pruning may only save IO, never change rows."""

from __future__ import annotations

import tempfile

import pytest

from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    _decode_bound,
    _file_pruner,
    read_iceberg_table,
)


@pytest.fixture()
def lake(spark):
    return LakehouseSQL(spark, tempfile.mkdtemp(prefix="lh_fprune_"))


def _mk(lake):
    lake.sql(
        "CREATE TABLE polaris.db.u (id INT, name STRING, d DATE) USING ICEBERG "
        "PARTITIONED BY (d)"
    )
    lake.sql(
        "INSERT INTO db.u VALUES (1,'a','2025-01-01'),(2,'b','2025-01-02'),"
        "(3,'c','2025-01-03')"
    )
    lake.sql("INSERT INTO db.u VALUES (4,'d','2025-01-01'),(5,'e','2025-01-02')")
    t = lake.wh.table("db", "u")
    lake.sql(
        f"CALL polaris.system.register_table(table => 'ext.u', metadata_file => '{t.path}')"
    )
    return t


def test_foreign_eq_prunes_files_and_keeps_rows(lake):
    t = _mk(lake)
    full = lake.sql("SELECT id FROM ext.u ORDER BY id")
    assert len(full.inputFiles()) == 5
    pruned = lake.sql("SELECT id FROM ext.u WHERE d = '2025-01-01' ORDER BY id")
    assert len(pruned.inputFiles()) == 2  # only the two 01-01 partition files
    assert [r.id for r in pruned.collect()] == [1, 4]
    # direct API form with the same guarantees
    df = read_iceberg_table(lake.spark, t.path, eq={"d": "2025-01-01"})
    assert len(df.inputFiles()) == 2
    assert sorted(r.id for r in df.collect()) == [1, 4]


def test_foreign_between_prunes_and_matches_unpruned(lake):
    t = _mk(lake)
    rng = lake.sql(
        "SELECT id FROM ext.u WHERE d BETWEEN '2025-01-02' AND '2025-01-03' ORDER BY id"
    )
    assert len(rng.inputFiles()) == 3
    assert [r.id for r in rng.collect()] == [2, 3, 5]
    # equality vs the unpruned read + filter (pruning is IO-only)
    unpruned = (
        read_iceberg_table(lake.spark, t.path)
        .filter("d BETWEEN '2025-01-02' AND '2025-01-03'")
        .select("id")
    )
    assert sorted(r.id for r in rng.collect()) == sorted(
        r.id for r in unpruned.collect()
    )


def test_pruned_read_respects_mor_deletes(lake, spark):
    """Deletes are never pruned: a tombstone still applies to the kept
    files (a tombstone for a pruned file just matches nothing)."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        delete_iceberg_table_where,
    )

    t = _mk(lake)
    delete_iceberg_table_where(spark, t.path, "id = 4")
    pruned = lake.sql("SELECT id FROM ext.u WHERE d = '2025-01-01' ORDER BY id")
    assert [r.id for r in pruned.collect()] == [1]


def test_decode_bound_types():
    import struct

    assert _decode_bound(struct.pack("<i", 42), "int") == 42
    assert _decode_bound(struct.pack("<i", 20089), "date") == 20089
    assert _decode_bound(struct.pack("<q", 7), "long") == 7
    assert _decode_bound(struct.pack("<d", 2.5), "double") == 2.5
    assert _decode_bound(b"abc", "string") == "abc"
    from decimal import Decimal

    assert _decode_bound(
        int(1050).to_bytes(2, "big", signed=True), "decimal(10, 2)"
    ) == Decimal("10.50")
    assert _decode_bound(b"\x01", "struct<...>") is None  # conservative


def test_bounds_pruning_from_synthetic_manifest_record():
    """Real foreign manifests carry lower/upper bounds per field id —
    the pruner must use them (and stay conservative on unknowns)."""
    import struct

    md = {"partition-specs": [{"spec-id": 0, "fields": []}]}
    target = {
        "fields": [
            {"id": 1, "name": "id", "type": "int"},
            {"id": 2, "name": "v", "type": "string"},
        ]
    }
    keep = _file_pruner(md, target, eq={"id": 100}, between=None)
    f_lo = {  # file holds ids [1, 10] → 100 provably absent
        "partition": {},
        "lower_bounds": [{"key": 1, "value": struct.pack("<i", 1)}],
        "upper_bounds": [{"key": 1, "value": struct.pack("<i", 10)}],
    }
    f_hit = {
        "partition": {},
        "lower_bounds": [{"key": 1, "value": struct.pack("<i", 50)}],
        "upper_bounds": [{"key": 1, "value": struct.pack("<i", 150)}],
    }
    f_nobounds = {"partition": {}}
    assert keep(0, f_lo) is False
    assert keep(0, f_hit) is True
    assert keep(0, f_nobounds) is True
    # range form: file max < range lo
    keep_rng = _file_pruner(md, target, eq=None, between={"id": (200, 300)})
    assert keep_rng(0, f_hit) is False
    assert keep_rng(0, f_nobounds) is True
    # string bounds
    keep_s = _file_pruner(md, target, eq={"v": "zz"}, between=None)
    f_str = {
        "partition": {},
        "lower_bounds": [{"key": 2, "value": b"aa"}],
        "upper_bounds": [{"key": 2, "value": b"mm"}],
    }
    assert keep_s(0, f_str) is False


def test_row_lineage_unaffected_by_pruning(lake, spark):
    """Pruning must not shift first_row_id inheritance for kept files:
    ids of the surviving rows equal the unpruned read's ids."""
    t = _mk(lake)
    full = {
        r.id: r._row_id
        for r in read_iceberg_table(spark, t.path, row_lineage=True).collect()
    }
    pruned = read_iceberg_table(
        spark, t.path, row_lineage=True, eq={"d": "2025-01-02"}
    )
    got = {r.id: r._row_id for r in pruned.collect()}
    assert got == {i: full[i] for i in got}
    assert set(got) == {2, 5}


def test_manifest_list_summaries_exported(lake, spark):
    """The exported manifest-list records carry field-507 partition
    summaries with single-value-serialized bounds."""
    import json
    import struct

    from minio_iceberg_polaris_lakehouse_spark import avro_io, fsio
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        resolve_metadata_path,
    )

    t = _mk(lake)
    md = json.loads(fsio.read_text(resolve_metadata_path(t.path)))
    cur = next(s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"])
    _s, _m, recs = avro_io.read_container(cur["manifest-list"])
    data_recs = [r for r in recs if r["content"] == 0]
    assert data_recs and all(r.get("partitions") for r in data_recs)
    # first commit holds dates 01-01..01-03 → bounds = day ordinals
    epoch_lo = (__import__("datetime").date(2025, 1, 1) - __import__("datetime").date(1970, 1, 1)).days
    s0 = data_recs[0]["partitions"][0]
    assert struct.unpack("<i", s0["lower_bound"])[0] == epoch_lo
    assert struct.unpack("<i", s0["upper_bound"])[0] == epoch_lo + 2
    assert s0["contains_null"] is False


def test_manifest_list_pruning_skips_avro_opens(lake, spark, monkeypatch):
    """A predicate excluding a whole commit's date range must skip that
    manifest WITHOUT opening its Avro — planning reads O(matching
    manifests), the first level of Iceberg's two-level scan planning."""
    from minio_iceberg_polaris_lakehouse_spark import avro_io
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    lake.sql(
        "CREATE TABLE polaris.db.w (id INT, d DATE) USING ICEBERG PARTITIONED BY (d)"
    )
    lake.sql("INSERT INTO db.w VALUES (1,'2025-01-01'),(2,'2025-01-02')")
    lake.sql("INSERT INTO db.w VALUES (3,'2025-03-01'),(4,'2025-03-02')")
    t = lake.wh.table("db", "w")

    opened: list[str] = []
    real = avro_io.read_container

    def counting(path):
        import os

        if os.path.basename(path).startswith("manifest-") and path.endswith(".avro"):
            opened.append(path)
        return real(path)

    monkeypatch.setattr(IR.avro_io, "read_container", counting)
    df = IR.read_iceberg_table(
        lake.spark, t.path, between={"d": ("2025-03-01", "2025-03-31")}
    )
    assert sorted(r.id for r in df.collect()) == [3, 4]
    # only the March commit's manifest was opened (January's skipped at
    # the manifest-list level)
    assert len(opened) == 1


def test_murmur3_x86_32_matches_guava_and_spec_vectors(spark):
    """The bucket-transform hash, cross-validated against Guava's
    murmur3_32_fixed (what Iceberg uses) plus the spec's own Appendix B
    test vectors."""
    import struct

    from minio_iceberg_polaris_lakehouse_spark.theta import (
        iceberg_bucket,
        murmur3_x86_32,
    )

    # spec Appendix B vectors
    assert murmur3_x86_32(b"iceberg") == 1210000089
    assert murmur3_x86_32(struct.pack("<q", 34)) == 2017239379
    g = spark._jvm.com.google.common.hash.Hashing.murmur3_32_fixed()
    for payload in [b"", b"a", b"ab", b"abc", b"abcd", b"abcde", bytes(range(17))]:
        assert murmur3_x86_32(payload) == g.hashBytes(bytearray(payload)).asInt()
    # bucket semantics: int and long of the same value agree (spec rule)
    assert iceberg_bucket(34, 16, "int") == iceberg_bucket(34, 16, "long")
    assert iceberg_bucket("2017-11-16", 16, "date") == iceberg_bucket(
        17486, 16, "date"
    )


def test_day_transform_pruning_end_to_end(lake, spark):
    """Hidden partitioning on the consumer side: a timestamp-range
    predicate on a day(ts)-partitioned table prunes files through the
    transform."""
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    lake.sql(
        "CREATE TABLE polaris.db.evd (id INT, ts TIMESTAMP) USING ICEBERG "
        "PARTITIONED BY (days(ts))"
    )
    lake.sql(
        "INSERT INTO db.evd VALUES (1, TIMESTAMP '2025-01-01 10:00:00'),"
        "(2, TIMESTAMP '2025-01-02 11:00:00'), (3, TIMESTAMP '2025-01-03 12:00:00')"
    )
    t = lake.wh.table("db", "evd")
    full = IR.read_iceberg_table(spark, t.path)
    nfull = len(full.inputFiles())
    pruned = IR.read_iceberg_table(
        spark, t.path, between={"ts": ("2025-01-02 00:00:00", "2025-01-02 23:59:59")}
    )
    assert len(pruned.inputFiles()) < nfull
    assert [r.id for r in pruned.collect()] == [2]
    eqp = IR.read_iceberg_table(spark, t.path, eq={"ts": "2025-01-03 12:00:00"})
    assert len(eqp.inputFiles()) == 1
    assert [r.id for r in eqp.collect()] == [3]


def test_bucket_pruning_gated_on_writer_hash(lake, spark):
    """Tables that opt into the LEGACY Spark bucket hash (the escape
    hatch; also the implicit hash of every pre-r9 bucketed table) stamp
    write.bucket-hash and the pruner must NOT derive spec buckets
    against them (it would prune wrong files). All rows must come back
    for any bucket-column predicate."""
    import json

    from minio_iceberg_polaris_lakehouse_spark import fsio
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        resolve_metadata_path,
    )

    lake.sql(
        "CREATE TABLE polaris.db.bk (id INT, v STRING) USING ICEBERG "
        "PARTITIONED BY (bucket(4, id)) "
        "TBLPROPERTIES ('write.bucket-hash'='spark-murmur3-seed42')"
    )
    lake.sql(
        "INSERT INTO db.bk VALUES " + ", ".join(f"({i}, 'v{i}')" for i in range(20))
    )
    t = lake.wh.table("db", "bk")
    md = json.loads(fsio.read_text(resolve_metadata_path(t.path)))
    assert md["properties"]["write.bucket-hash"] == "spark-murmur3-seed42"
    for probe in range(20):
        got = IR.read_iceberg_table(spark, t.path, eq={"id": probe}).filter(
            f"id = {probe}"
        )
        assert got.count() == 1, f"id={probe} lost to unsafe bucket pruning"


def test_spec_bucket_pruning_on_synthetic_summaries():
    """A spec-conformant table (no hash stamp) DOES prune bucket
    equality at the manifest-list level."""
    import struct

    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _manifest_pruner,
    )
    from minio_iceberg_polaris_lakehouse_spark.theta import iceberg_bucket

    md = {
        "properties": {},
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "id_bucket", "transform": "bucket[16]", "source-id": 1}
                ],
            }
        ],
    }
    target = {"fields": [{"id": 1, "name": "id", "type": "long"}]}
    keep = _manifest_pruner(md, target, eq={"id": 34}, between=None)
    b = iceberg_bucket(34, 16, "long")
    hit = {
        "content": 0,
        "partition_spec_id": 0,
        "partitions": [
            {
                "contains_null": False,
                "lower_bound": struct.pack("<i", b),
                "upper_bound": struct.pack("<i", b),
            }
        ],
    }
    miss = {
        "content": 0,
        "partition_spec_id": 0,
        "partitions": [
            {
                "contains_null": False,
                "lower_bound": struct.pack("<i", (b + 1) % 16),
                "upper_bound": struct.pack("<i", (b + 1) % 16),
            }
        ],
    }
    assert keep(hit) is True
    assert keep(miss) is False
    # the same summaries with this engine's stamp: no bucket pruning
    md_stamped = dict(md, properties={"write.bucket-hash": "spark-murmur3-seed42"})
    keep2 = _manifest_pruner(md_stamped, target, eq={"id": 34}, between=None)
    assert keep2(miss) is True


def test_month_hour_transforms_export_spec_ints_and_prune(lake, spark):
    """month()/hour() partition values export as spec ints (months /
    hours from epoch), so consumer-side hidden partitioning prunes them
    too."""
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    lake.sql(
        "CREATE TABLE polaris.db.mo (id INT, ts TIMESTAMP) USING ICEBERG "
        "PARTITIONED BY (months(ts))"
    )
    lake.sql(
        "INSERT INTO db.mo VALUES (1, TIMESTAMP '2025-01-15 10:00:00'),"
        "(2, TIMESTAMP '2025-02-15 10:00:00'), (3, TIMESTAMP '2025-03-15 10:00:00')"
    )
    t = lake.wh.table("db", "mo")
    pruned = IR.read_iceberg_table(
        spark, t.path, between={"ts": ("2025-02-01 00:00:00", "2025-02-28 23:59:59")}
    )
    assert len(pruned.inputFiles()) == 1
    assert [r.id for r in pruned.collect()] == [2]

    lake.sql(
        "CREATE TABLE polaris.db.ho (id INT, ts TIMESTAMP) USING ICEBERG "
        "PARTITIONED BY (hours(ts))"
    )
    lake.sql(
        "INSERT INTO db.ho VALUES (1, TIMESTAMP '2025-01-01 05:30:00'),"
        "(2, TIMESTAMP '2025-01-01 06:30:00'), (3, TIMESTAMP '2025-01-01 07:30:00')"
    )
    th = lake.wh.table("db", "ho")
    pr = IR.read_iceberg_table(
        spark, th.path, eq={"ts": "2025-01-01 06:30:00"}
    )
    assert len(pr.inputFiles()) == 1
    assert [r.id for r in pr.collect()] == [2]


def test_spec_hash_bucket_tables_end_to_end(lake, spark):
    """TBLPROPERTIES write.bucket-hash=iceberg-murmur3 makes the bucket
    transform use the ICEBERG-SPEC hash: partition dirs equal
    theta.iceberg_bucket, native scans prune with the same hash, the
    exported property survives, and the foreign reader spec-bucket-
    prunes with every row still retrievable."""
    import json
    import os

    from minio_iceberg_polaris_lakehouse_spark import fsio
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        resolve_metadata_path,
    )
    from minio_iceberg_polaris_lakehouse_spark.theta import iceberg_bucket

    lake.sql(
        "CREATE TABLE polaris.db.sb (id INT, v STRING) USING ICEBERG "
        "PARTITIONED BY (bucket(8, id)) "
        "TBLPROPERTIES ('write.bucket-hash'='iceberg-murmur3')"
    )
    lake.sql(
        "INSERT INTO db.sb VALUES " + ", ".join(f"({i}, 'v{i}')" for i in range(30))
    )
    t = lake.wh.table("db", "sb")
    dirs = {
        int(seg.split("=")[1])
        for root, _, _files in os.walk(t.path)
        for seg in root.split(os.sep)
        if seg.startswith("_p_bucket8_id=")
    }
    assert dirs == {iceberg_bucket(i, 8, "int") for i in range(30)}
    # native hidden-partition pruning derives with the SAME hash
    sc = t.scan(eq={"id": 7})
    assert len(sc.inputFiles()) < len(t.read().inputFiles())
    assert sc.filter("id = 7").count() == 1
    # export keeps the opted-in property (no spark stamp override)
    md = json.loads(fsio.read_text(resolve_metadata_path(t.path)))
    assert md["properties"]["write.bucket-hash"] == "iceberg-murmur3"
    # foreign reader derives spec buckets and loses nothing
    fr = IR.read_iceberg_table(spark, t.path, eq={"id": 7})
    assert len(fr.inputFiles()) < len(t.read().inputFiles())
    for i in range(30):
        assert (
            IR.read_iceberg_table(spark, t.path, eq={"id": i})
            .filter(f"id = {i}")
            .count()
            == 1
        )


def test_spec_hash_string_bucket_and_vec_scalar_agreement(lake, spark):
    from minio_iceberg_polaris_lakehouse_spark.theta import (
        iceberg_bucket,
        murmur3_32_long_vec,
        murmur3_x86_32,
    )

    # vectorized long hash == scalar hash on a value sweep incl. negatives
    import struct

    vals = [0, 1, -1, 34, 10**12, -(10**12), 2**62, -(2**62)]
    vec = murmur3_32_long_vec(vals)
    for v, h in zip(vals, vec):
        assert int(h) == murmur3_x86_32(struct.pack("<q", v))
    # string buckets ride the scalar path end-to-end
    lake.sql(
        "CREATE TABLE polaris.db.sbs (k STRING, v INT) USING ICEBERG "
        "PARTITIONED BY (bucket(4, k)) "
        "TBLPROPERTIES ('write.bucket-hash'='iceberg-murmur3')"
    )
    lake.sql("INSERT INTO db.sbs VALUES ('iceberg', 1), ('apple', 2), ('banana', 3)")
    t = lake.wh.table("db", "sbs")
    sc = t.scan(eq={"k": "iceberg"})
    assert sc.filter("k = 'iceberg'").count() == 1
    b = iceberg_bucket("iceberg", 4, "string")
    assert any(f"_p_bucket4_k={b}" in f for f in sc.inputFiles())


def test_bucket_hash_property_frozen_after_snapshots(lake):
    from minio_iceberg_polaris_lakehouse_spark.warehouse import WarehouseError

    lake.sql(
        "CREATE TABLE polaris.db.fz (id INT) USING ICEBERG "
        "PARTITIONED BY (bucket(4, id))"
    )
    # r9 default: new bucketed tables stamp the spec hash at CREATE
    assert (
        lake.wh.table("db", "fz")._meta()["properties"]["write.bucket-hash"]
        == "iceberg-murmur3"
    )
    lake.sql("INSERT INTO db.fz VALUES (1), (2)")
    with pytest.raises(WarehouseError, match="cannot change after"):
        lake.wh.table("db", "fz").set_properties(
            {"write.bucket-hash": "spark-murmur3-seed42"}
        )
    with pytest.raises(WarehouseError, match="unknown write.bucket-hash"):
        lake.wh.table("db", "fz").set_properties({"write.bucket-hash": "md5"})


def test_dv_blobs_pruned_with_their_data_files(lake, spark):
    """A pruned scan skips decoding deletion-vector blobs whose
    referenced data file was pruned, and still applies the surviving
    files' DVs exactly."""
    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
        delete_iceberg_table_where,
    )

    lake.sql(
        "CREATE TABLE polaris.db.dvp (id INT, d DATE) USING ICEBERG "
        "PARTITIONED BY (d) TBLPROPERTIES ('format-version'='3')"
    )
    lake.sql(
        "INSERT INTO db.dvp VALUES (1,'2025-01-01'),(2,'2025-01-01'),"
        "(3,'2025-01-02'),(4,'2025-01-02')"
    )
    t = lake.wh.table("db", "dvp")
    # v3 DELETEs → deletion vectors, one per touched partition's file
    delete_iceberg_table_where(spark, t.path, "id = 1", dv=True)
    delete_iceberg_table_where(spark, t.path, "id = 3", dv=True)
    # unpruned read applies both DVs
    assert sorted(r.id for r in IR.read_iceberg_table(spark, t.path).collect()) == [2, 4]
    # pruned to 01-02: id=3's DV still applies, id=1's blob never decodes
    pruned = IR.read_iceberg_table(spark, t.path, eq={"d": "2025-01-02"})
    assert sorted(r.id for r in pruned.collect()) == [4]
    pruned1 = IR.read_iceberg_table(spark, t.path, eq={"d": "2025-01-01"})
    assert sorted(r.id for r in pruned1.collect()) == [2]


# ---- property fuzz: pruning soundness ------------------------------------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYP = True
except ImportError:  # pragma: no cover
    _HAS_HYP = False

if _HAS_HYP:

    @settings(max_examples=300, deadline=None)
    @given(
        lo_b=st.integers(-1000, 1000),
        width=st.integers(0, 200),
        eq_v=st.integers(-1000, 1000),
        r_lo=st.integers(-1000, 1000),
        r_w=st.integers(0, 300),
        use_eq=st.booleans(),
    )
    def test_fuzz_range_exclusion_is_sound(lo_b, width, eq_v, r_lo, r_w, use_eq):
        """If _part_range_excl says a value range is excluded, then NO
        value in [lo_b, hi_b] satisfies the predicate — a false
        exclusion would silently drop rows; a false keep only costs IO
        (allowed)."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            _part_range_excl,
        )

        hi_b = lo_b + width
        eq = {"c": eq_v} if use_eq else None
        between = None if use_eq else {"c": (r_lo, r_lo + r_w)}
        excluded = _part_range_excl(lo_b, hi_b, "c", "int", "identity", eq, between)
        if excluded:
            for v in range(lo_b, hi_b + 1):
                if use_eq:
                    assert v != eq_v
                else:
                    assert not (r_lo <= v <= r_lo + r_w)

    @settings(max_examples=200, deadline=None)
    @given(
        vals=st.lists(st.integers(-500, 500), min_size=1, max_size=30),
        eq_v=st.integers(-500, 500),
        n=st.sampled_from([4, 8, 16]),
    )
    def test_fuzz_bucket_pruning_never_loses_the_probe(vals, eq_v, n):
        """Spec-bucket equality pruning must never exclude a partition
        that holds the probed value's bucket."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            _part_range_excl,
        )
        from minio_iceberg_polaris_lakehouse_spark.theta import iceberg_bucket

        vals = vals + [eq_v]  # the probe is always present somewhere
        tr = f"bucket[{n}]"
        probe_bucket = iceberg_bucket(eq_v, n, "int")
        for v in vals:
            b = iceberg_bucket(v, n, "int")
            excluded = _part_range_excl(b, b, "c", "int", tr, {"c": eq_v}, None)
            if b == probe_bucket:
                assert not excluded  # the probe's own bucket must survive

if _HAS_HYP:

    @settings(max_examples=300, deadline=None)
    @given(
        day=st.integers(0, 25000),  # epoch days through ~2038
        secs=st.integers(0, 86399),
        off_min=st.sampled_from([-720, -300, -60, 0, 60, 330, 720]),
        use_t_sep=st.booleans(),
        transform=st.sampled_from(["day", "month", "year", "hour"]),
    )
    def test_fuzz_temporal_transform_never_excludes_matching_day(
        day, secs, off_min, use_t_sep, transform
    ):
        """For ANY rendering of an instant (naive, 'T'/space separator,
        arbitrary UTC offset), the partition holding that instant's UTC
        day/month/year/hour must never be excluded by an equality
        predicate in that rendering — the r8-advice row-loss class."""
        import datetime as dt

        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            _part_range_excl,
        )

        utc = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
            days=day, seconds=secs
        )
        # render the SAME instant shifted into a local offset
        local = utc.astimezone(dt.timezone(dt.timedelta(minutes=off_min)))
        lit = local.isoformat(sep="T" if use_t_sep else " ")
        # the partition value the WRITER derives (from UTC micros, per spec)
        if transform == "day":
            pv = (utc.date() - dt.date(1970, 1, 1)).days
        elif transform == "month":
            pv = (utc.year - 1970) * 12 + utc.month - 1
        elif transform == "year":
            pv = utc.year - 1970
        else:
            pv = int(utc.timestamp()) // 3600
        assert not _part_range_excl(
            pv, pv, "ts", "timestamptz", transform, {"ts": lit}, None
        ), f"instant {lit} lost from its own {transform} partition {pv}"

    @settings(max_examples=300, deadline=None)
    @given(
        day=st.integers(0, 25000),
        secs=st.integers(0, 86399),
        off_min=st.sampled_from([-720, -300, 0, 60, 330, 720]),
        use_t_sep=st.booleans(),
        drop_secs=st.booleans(),
    )
    def test_fuzz_identity_ts_partition_never_excludes_equal_instant(
        day, secs, off_min, use_t_sep, drop_secs
    ):
        """Identity-partitioned timestamps path-encode as strings; an
        equality literal that denotes the SAME instant in any other
        rendering must never exclude that partition (the lexicographic
        comparison hole)."""
        import datetime as dt

        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            _part_range_excl,
        )

        utc = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
            days=day, seconds=secs
        )
        if drop_secs and utc.second == 0:
            pv = utc.strftime("%Y-%m-%d %H:%M")  # no-seconds path encoding
        else:
            pv = utc.strftime("%Y-%m-%d %H:%M:%S")
        local = utc.astimezone(dt.timezone(dt.timedelta(minutes=off_min)))
        lit = local.isoformat(sep="T" if use_t_sep else " ")
        assert not _part_range_excl(
            pv, pv, "ts", "timestamp", "identity", {"ts": lit}, None
        ), f"instant {lit} excluded from identity partition {pv!r}"


def test_decimal_truncate_foreign_pruning_sound_and_effective(lake, spark):
    """A decimal-truncate-partitioned export prunes foreign scans in
    exact Decimal space (spec unscaled-width floor), and never loses a
    row for any probed amount."""
    import decimal

    from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

    lake.sql(
        "CREATE TABLE polaris.db.ftd (id INT, amt DECIMAL(10,2)) USING ICEBERG "
        "PARTITIONED BY (truncate(50, amt))"
    )
    vals = ["10.25", "-10.25", "10.75", "0.49", "-0.01", "123.45"]
    lake.sql(
        "INSERT INTO db.ftd VALUES "
        + ", ".join(f"({i}, {v})" for i, v in enumerate(vals, 1))
    )
    t = lake.wh.table("db", "ftd")
    full = len(IR.read_iceberg_table(spark, t.path).inputFiles())
    for i, v in enumerate(vals, 1):
        fr = IR.read_iceberg_table(spark, t.path, eq={"amt": v})
        got = fr.filter(f"amt = {v}").collect()
        assert [r.id for r in got] == [i], f"amt={v} lost under pruning"
    # effectiveness: a probe in one 0.50-step plans fewer files
    pruned = len(IR.read_iceberg_table(spark, t.path, eq={"amt": "123.45"}).inputFiles())
    assert pruned < full
    # range predicate maps through the monotone transform
    fr = IR.read_iceberg_table(
        spark, t.path, between={"amt": (decimal.Decimal("10.00"), decimal.Decimal("11.00"))}
    )
    assert sorted(r.id for r in fr.filter("amt between 10.00 and 11.00").collect()) == [1, 3]

if _HAS_HYP:

    @settings(max_examples=300, deadline=None)
    @given(
        unscaled=st.integers(-10**6, 10**6),
        w=st.sampled_from([1, 7, 50, 1000]),
        scale=st.sampled_from([0, 2, 4]),
    )
    def test_fuzz_decimal_truncate_probe_never_excluded(unscaled, w, scale):
        """A decimal equality probe must never be excluded by its OWN
        partition value under truncate[W] (spec unscaled-width floor),
        for any rendering of the partition value."""
        import decimal

        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            _part_range_excl,
        )

        v = decimal.Decimal(unscaled).scaleb(-scale)
        t = f"decimal(18,{scale})"
        floored = decimal.Decimal((unscaled // w) * w).scaleb(-scale)
        # partition value as the engine path-encodes it (str) and as a
        # Decimal (avro-typed) — neither may exclude the probe
        for pv in (str(floored), floored):
            assert not _part_range_excl(
                pv, pv, "amt", t, f"truncate[{w}]", {"amt": str(v)}, None
            ), f"{v} lost from its own truncate[{w}] partition {pv!r}"

if _HAS_HYP:

    @settings(max_examples=200, deadline=None)
    @given(
        unscaled=st.integers(-10**6, 10**6),
        w=st.sampled_from([1, 7, 50, 1000]),
        scale=st.sampled_from([0, 2, 4]),
    )
    def test_fuzz_decimal_truncate_int_literal_never_excluded(unscaled, w, scale):
        """r9-advice class: the probe arrives as a plain Python INT (the
        SQL front-end parses WHERE amt = 10 to int) — the column type
        must route it through the unscaled-width floor, never the int
        value-space fast path (which derived partition 0 and excluded
        the matching file)."""
        import decimal

        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            _part_range_excl,
        )

        whole = decimal.Decimal(unscaled)  # integral probe value
        t = f"decimal(18,{scale})"
        u = int(whole.scaleb(scale))  # unscaled units of the column
        floored = decimal.Decimal((u // w) * w).scaleb(-scale)
        for pv in (str(floored), floored):
            assert not _part_range_excl(
                pv, pv, "amt", t, f"truncate[{w}]", {"amt": int(whole)}, None
            ), f"int literal {int(whole)} lost from its own partition {pv!r}"

    @settings(max_examples=200, deadline=None)
    @given(
        day=st.integers(0, 25000),
        secs=st.integers(0, 86399),
        zone_off_min=st.sampled_from([-720, -540, -300, -60, 0, 60, 330, 540, 720]),
        use_t_sep=st.booleans(),
        transform=st.sampled_from(["day", "month", "year", "hour"]),
    )
    def test_fuzz_naive_literal_session_zone_never_excludes_matching_partition(
        day, secs, zone_off_min, use_t_sep, transform
    ):
        """r9-advice class: a NAIVE literal on a timestamptz column is
        read by Spark in the SESSION zone. Under any fixed-offset
        session zone, the partition holding the instant Spark's row
        filter will match must never be excluded — a UTC-only reading
        was off by the session offset."""
        import datetime as dt

        from minio_iceberg_polaris_lakehouse_spark.sources import iceberg_reader as IR

        zone = dt.timezone(dt.timedelta(minutes=zone_off_min))
        naive_local = dt.datetime(1970, 1, 1) + dt.timedelta(days=day, seconds=secs)
        utc = naive_local.replace(tzinfo=zone).astimezone(dt.timezone.utc)
        lit = naive_local.isoformat(sep="T" if use_t_sep else " ")
        if transform == "day":
            pv = (utc.date() - dt.date(1970, 1, 1)).days
        elif transform == "month":
            pv = (utc.year - 1970) * 12 + utc.month - 1
        elif transform == "year":
            pv = utc.year - 1970
        else:
            pv = int(utc.timestamp()) // 3600
        sign = "+" if zone_off_min >= 0 else "-"
        name = f"GMT{sign}{abs(zone_off_min) // 60:02d}:{abs(zone_off_min) % 60:02d}"
        tok = IR._SESSION_TZ.set(name)
        try:
            assert not IR._part_range_excl(
                pv, pv, "ts", "timestamptz", transform, {"ts": lit}, None
            ), f"naive {lit} in session {name} lost from its {transform} partition {pv}"
        finally:
            IR._SESSION_TZ.reset(tok)


def test_foreign_name_of_native_table_prunes_on_column_bounds(lake):
    """Native commits publish each data file's column bounds, so the
    registered foreign name prunes on a NON-partition column exactly as
    the native name does."""
    lake.sql("CREATE TABLE polaris.db.nb (id INT, v STRING) USING ICEBERG")
    lake.sql("INSERT INTO db.nb VALUES (1, 'a'), (2, 'b')")
    lake.sql("INSERT INTO db.nb VALUES (100, 'x'), (200, 'y')")
    t = lake.wh.table("db", "nb")
    lake.sql(
        f"CALL polaris.system.register_table(table => 'ext.nb', metadata_file => '{t.path}')"
    )
    full = len(lake.sql("SELECT id FROM ext.nb").inputFiles())
    foreign = lake.sql("SELECT id, v FROM ext.nb WHERE id = 100")
    native = lake.sql("SELECT id, v FROM db.nb WHERE id = 100")
    assert [tuple(r) for r in foreign.collect()] == [(100, "x")]
    assert len(foreign.inputFiles()) < full
    assert len(foreign.inputFiles()) == len(native.inputFiles())


def test_current_foreign_read_projects_current_schema(lake):
    """A read with no time travel projects the CURRENT schema: after
    ADD COLUMN (no data commit since) the registered foreign name shows
    the new column, NULL or its initial-default for existing rows."""
    lake.sql("CREATE TABLE polaris.db.cs (id INT) USING ICEBERG")
    lake.sql("INSERT INTO db.cs VALUES (1), (2)")
    t = lake.wh.table("db", "cs")
    lake.sql(
        f"CALL polaris.system.register_table(table => 'ext.cs', metadata_file => '{t.path}')"
    )
    lake.sql("ALTER TABLE db.cs ADD COLUMN w INT")
    lake.sql("ALTER TABLE db.cs ADD COLUMN score INT DEFAULT 7")
    rows = lake.sql("SELECT * FROM ext.cs ORDER BY id").collect()
    assert [tuple(r) for r in rows] == [(1, None, 7), (2, None, 7)]
    # time travel keeps the snapshot's schema
    first = t.current_snapshot_id()
    old = lake.sql(f"SELECT * FROM ext.cs VERSION AS OF {first}")
    assert old.columns == ["id"]
