"""One read path: every `Table` read mode answers the same rows over one
table history that exercises each commit shape the engine writes.

The history covers copy-on-write, positional merge-on-read and
equality DELETE/UPDATE, MERGE, ADD/RENAME COLUMN, a day → month
partition-spec change, `materialize_deletes`, compaction, a branch
commit and snapshot expiry. At every snapshot the test reads the table
(plain, with row lineage, with metadata columns) and runs the
incremental and changelog scans from the snapshot's parent, and compares
each answer — row count plus the exact sum of the rows' `xxhash64` — with
answers pinned from the planner that read the engine's snapshot log
directly, before reads moved onto the Iceberg reader. Errors are pinned
by type and message.

The table is write-ordered on `id`, so every write lays rows out the same
way on every run and `_pos` / `_row_id` are reproducible."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse, WarehouseError

DATA = ["id", "v", "label", "d", "n", "w"]


def _rows(spark, ids, tag):
    base = datetime.date(2024, 1, 1)
    return spark.createDataFrame(
        [(i, f"{tag}{i}", base + datetime.timedelta(days=i), i * 1.5) for i in ids],
        "id int, v string, d date, n double",
    )


def _answer(df, cols):
    """(row count, exact sum of xxhash64 over ``cols``) in one job."""
    r = df.agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (int(r.c), str(r.h))


def _probe(fn, cols):
    try:
        return _answer(fn(), cols)
    except WarehouseError as e:
        return f"{type(e).__name__}: {e}"


def _build(spark, t):
    """Run the history; returns the snapshot ids alive before expiry."""
    t.set_write_order("id")
    t.set_properties({"write.delete.equality-columns": "id"})
    t.append(_rows(spark, range(1, 41), "a"))  # 1
    t.append(_rows(spark, range(41, 61), "b"))  # 2
    t.delete_where("id % 7 = 0")  # 3: copy-on-write
    t.delete_where("id % 5 = 0", mode="merge-on-read")  # 4
    t.update_where({"v": "upper(v)"}, "id % 3 = 0", mode="merge-on-read")  # 5
    t.materialize_deletes()  # 6: replace
    t.delete_where("id % 5 = 1", mode="merge-on-read")  # 7
    t.delete_where("id % 11 = 0", mode="merge-on-read-equality")  # 8
    t.set_identifier_fields("id")
    t.upsert(_rows(spark, [2, 4, 70], "u"))  # 9: equality UPDATE
    t.add_column("w", "int", default="7")
    t.append(_rows(spark, [71, 72], "c").withColumn("w", F.lit(1)))  # 10
    t.rename_column("v", "label")
    t.evolve_partition_spec("d", "month")
    t.append(
        _rows(spark, [80, 81], "m").withColumnRenamed("v", "label").withColumn("w", F.lit(2))
    )  # 11
    src = (
        _rows(spark, [8, 9, 10, 90], "s")
        .withColumnRenamed("v", "label")
        .withColumn("w", F.lit(3))
    )
    t.merge_into(src, on="id")  # 12
    t.update_where({"n": "n + 100"}, "id < 10")  # 13: copy-on-write UPDATE
    t.create_ref("audit", "branch")
    t.append(
        _rows(spark, [95], "x").withColumnRenamed("v", "label").withColumn("w", F.lit(4)),
        branch="audit",
    )  # 14: branch commit
    t.compact()  # 15: replace
    t.append(
        _rows(spark, [96, 97], "y").withColumnRenamed("v", "label").withColumn("w", F.lit(5))
    )  # 16
    return [s["snapshot_id"] for s in t._snaps()]


def _checks(t, snap_ids):
    """label → thunk over the table as it stands."""
    meta_cols = [
        "_pos",
        "_spec_id",
        F.to_json(F.col("_partition")),
        F.regexp_extract(F.col("_file"), r"(_p_[^/]*)/[^/]*$", 1),
        "_deleted",
    ]
    lin = ["_row_id", "_last_updated_sequence_number"]
    change = ["_change_type", "_commit_snapshot_id", "_change_ordinal"]
    snaps = {s["snapshot_id"]: s for s in t._snaps()}
    out = {}
    for sid in snap_ids:
        if sid not in snaps:
            continue
        cols = [c for c in DATA if c in t.read(version=sid).columns]
        parent = snaps[sid]["parent_id"]
        out[f"read@{sid}"] = (lambda s=sid: t.read(version=s), cols)
        out[f"lineage@{sid}"] = (lambda s=sid: t.read(version=s, lineage=True), cols + lin)
        out[f"meta@{sid}"] = (
            lambda s=sid: t.read(version=s, metadata_columns=True),
            cols + meta_cols,
        )
        if parent is not None:
            out[f"incremental@{parent}-{sid}"] = (
                lambda p=parent, s=sid: t.incremental_scan(p, s),
                cols,
            )
        out[f"changes@{parent}-{sid}"] = (
            lambda p=parent, s=sid: t.changes(p, s),
            cols + change,
        )
        out[f"changes_lineage@{parent}-{sid}"] = (
            lambda p=parent, s=sid: t.changes(p, s, lineage=True),
            cols + change + ["_row_id"],
        )
    cur = [c for c in DATA if c in t.read().columns]
    out["read@head"] = (lambda: t.read(), cur)
    out["read@audit"] = (lambda: t.read(version="audit"), cur)
    out["meta_lineage@head"] = (
        lambda: t.read(metadata_columns=True, lineage=True),
        cur + meta_cols + lin,
    )
    out["changes@all"] = (lambda: t.changes(), cur + change)
    return out


def _answers(spark, t):
    snap_ids = _build(spark, t)
    got = {k: _probe(fn, cols) for k, (fn, cols) in _checks(t, snap_ids).items()}
    first = t._main_snaps()[0]["snapshot_id"]
    got["incremental@first-head"] = _probe(lambda: t.incremental_scan(first), DATA)
    t.expire_snapshots(keep_last=3)
    after = _checks(t, snap_ids)
    got.update({f"expired/{k}": _probe(fn, cols) for k, (fn, cols) in after.items()})
    return got


PINNED = {
    "changes@1-2": (20, "-31479634936209909755"),
    "changes@10-11": (2, "-10479132319253898979"),
    "changes@11-12": (68, "37116997208063860279"),
    "changes@12-13": (70, "-27989012415011477278"),
    "changes@13-14": "SnapshotNotFoundError: snapshot 14 not found",
    "changes@13-15": (0, "None"),
    "changes@15-16": (2, "13972024298325021409"),
    "changes@2-3": (112, "3093724747566880346"),
    "changes@3-4": (11, "-19405830292542942539"),
    "changes@4-5": (28, "8449256361265820531"),
    "changes@5-6": (0, "None"),
    "changes@6-7": (10, "32390917057954166541"),
    "changes@7-8": (3, "-15273372942220627990"),
    "changes@8-9": (5, "11258819254339734329"),
    "changes@9-10": (2, "8150910302260695925"),
    "changes@None-1": (40, "21508069244025225310"),
    "changes@all": (373, "-46256279121995512105"),
    "changes_lineage@1-2": (20, "-11286287176039516266"),
    "changes_lineage@10-11": (2, "11107763588254503263"),
    "changes_lineage@11-12": (68, "8038953827470429118"),
    "changes_lineage@12-13": (70, "53237890624040366148"),
    "changes_lineage@13-14": "SnapshotNotFoundError: snapshot 14 not found",
    "changes_lineage@13-15": (0, "None"),
    "changes_lineage@15-16": (2, "9683966234886521544"),
    "changes_lineage@2-3": (112, "32094932360791217276"),
    "changes_lineage@3-4": (11, "7943276263113989028"),
    "changes_lineage@4-5": (28, "14209320166800487107"),
    "changes_lineage@5-6": (0, "None"),
    "changes_lineage@6-7": (10, "-23018320314957107099"),
    "changes_lineage@7-8": (3, "-15411362432154263960"),
    "changes_lineage@8-9": (5, "15179303562844757552"),
    "changes_lineage@9-10": (2, "-5253187972608878463"),
    "changes_lineage@None-1": (40, "-26024839958696456741"),
    "expired/changes@12-13": "SnapshotNotFoundError: snapshot 12 not found",
    "expired/changes@13-14": "SnapshotNotFoundError: snapshot 14 not found",
    "expired/changes@13-15": (0, "None"),
    "expired/changes@15-16": (2, "13972024298325021409"),
    "expired/changes@all": (37, "-25844875332975746412"),
    "expired/changes_lineage@12-13": "SnapshotNotFoundError: snapshot 12 not found",
    "expired/changes_lineage@13-14": "SnapshotNotFoundError: snapshot 14 not found",
    "expired/changes_lineage@13-15": (0, "None"),
    "expired/changes_lineage@15-16": (2, "9683966234886521544"),
    "expired/incremental@12-13": "SnapshotNotFoundError: snapshot 12 not found",
    "expired/incremental@13-14": "SnapshotNotFoundError: snapshot 14 not found",
    "expired/incremental@13-15": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) [15]; "
        "data was rewritten — fall back to a full scan"
    ),
    "expired/incremental@15-16": (2, "6021725368454966747"),
    "expired/lineage@13": (35, "34873353597654695512"),
    "expired/lineage@14": (36, "29311267946482288575"),
    "expired/lineage@15": (35, "34873353597654695512"),
    "expired/lineage@16": (37, "44405337866540257010"),
    "expired/meta@13": (35, "13980390361969160917"),
    "expired/meta@14": (36, "5303171271835118652"),
    "expired/meta@15": (35, "13980390361969160917"),
    "expired/meta@16": (37, "12200433824305885946"),
    "expired/meta_lineage@head": (37, "-4957228444042840881"),
    "expired/read@13": (35, "-8952838766755914217"),
    "expired/read@14": (36, "-12990589636874877488"),
    "expired/read@15": (35, "-8952838766755914217"),
    "expired/read@16": (37, "-2931113398300947470"),
    "expired/read@audit": (36, "-12990589636874877488"),
    "expired/read@head": (37, "-2931113398300947470"),
    "incremental@1-2": (20, "-4592385712731443611"),
    "incremental@10-11": (2, "-15822002547253321042"),
    "incremental@11-12": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) [12]; "
        "data was rewritten — fall back to a full scan"
    ),
    "incremental@12-13": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) [13]; "
        "data was rewritten — fall back to a full scan"
    ),
    "incremental@13-14": "SnapshotNotFoundError: snapshot 14 not found",
    "incremental@13-15": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) [15]; "
        "data was rewritten — fall back to a full scan"
    ),
    "incremental@15-16": (2, "6021725368454966747"),
    "incremental@2-3": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) [3]; "
        "data was rewritten — fall back to a full scan"
    ),
    "incremental@3-4": (0, "None"),
    "incremental@4-5": (14, "-15977833734662325005"),
    "incremental@5-6": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) [6]; "
        "data was rewritten — fall back to a full scan"
    ),
    "incremental@6-7": (0, "None"),
    "incremental@7-8": (0, "None"),
    "incremental@8-9": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) [9]; "
        "data was rewritten — fall back to a full scan"
    ),
    "incremental@9-10": (2, "15153956322278984547"),
    "incremental@first-head": (
        "WarehouseError: incremental scan crosses replacing snapshot(s) "
        "[3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 15, 16]; "
        "data was rewritten — fall back to a full scan"
    ),
    "lineage@1": (40, "-25744581166983734119"),
    "lineage@10": (31, "4571012015239729997"),
    "lineage@11": (33, "16661175347534045063"),
    "lineage@12": (35, "11962761588943284700"),
    "lineage@13": (35, "34873353597654695512"),
    "lineage@14": (36, "29311267946482288575"),
    "lineage@15": (35, "34873353597654695512"),
    "lineage@16": (37, "44405337866540257010"),
    "lineage@2": (60, "-5108985135478679997"),
    "lineage@3": (52, "8072695049642855397"),
    "lineage@4": (41, "-10236977013667805701"),
    "lineage@5": (41, "-10527012279474794660"),
    "lineage@6": (41, "-10527012279474794660"),
    "lineage@7": (31, "-40563753205660499065"),
    "lineage@8": (28, "-32785727278943426959"),
    "lineage@9": (29, "-40954604786021197886"),
    "meta@1": (40, "-21098842867200178655"),
    "meta@10": (46, "-10716328831092755089"),
    "meta@11": (48, "-17004701769456306839"),
    "meta@12": (35, "22029258780045337641"),
    "meta@13": (35, "13980390361969160917"),
    "meta@14": (36, "5303171271835118652"),
    "meta@15": (35, "13980390361969160917"),
    "meta@16": (37, "12200433824305885946"),
    "meta@2": (60, "-10187386009619979475"),
    "meta@3": (52, "25639784004850255130"),
    "meta@4": (52, "15965981880225704005"),
    "meta@5": (66, "42485974898890183184"),
    "meta@6": (41, "18996873569492982665"),
    "meta@7": (41, "53130455262242929303"),
    "meta@8": (41, "38235716218673458173"),
    "meta@9": (44, "37051006898877714651"),
    "meta_lineage@head": (37, "-4957228444042840881"),
    "read@1": (40, "40016784359135478947"),
    "read@10": (31, "-6033322151119900403"),
    "read@11": (33, "-21855324698373221445"),
    "read@12": (35, "18444163479852340991"),
    "read@13": (35, "-8952838766755914217"),
    "read@14": (36, "-12990589636874877488"),
    "read@15": (35, "-8952838766755914217"),
    "read@16": (37, "-2931113398300947470"),
    "read@2": (60, "35424398646404035336"),
    "read@3": (52, "22991412787829952802"),
    "read@4": (41, "36654183266326823356"),
    "read@5": (41, "25394553870259394497"),
    "read@6": (41, "25394553870259394497"),
    "read@7": (31, "31511974613410957640"),
    "read@8": (28, "31947838606241370961"),
    "read@9": (29, "6317053588091744393"),
    "read@audit": (36, "-12990589636874877488"),
    "read@head": (37, "-2931113398300947470"),
}


def test_every_read_mode_matches_pinned_answers(spark, tmp_path):
    t = Warehouse(spark, str(tmp_path / "warehouse")).create_table(
        "db",
        "parity",
        "id int, v string, d date, n double",
        partition_by="d",
        transform="day",
    )
    got = _answers(spark, t)
    diff = {
        k: (got.get(k), PINNED.get(k))
        for k in sorted(set(got) | set(PINNED))
        if got.get(k) != PINNED.get(k)
    }
    assert not diff, diff


def _jobs(spark, name, fn) -> int:
    """Spark jobs one read + collect runs, counted under its own group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_reads_run_no_more_jobs_than_the_snapshot_log_planner(spark, tmp_path):
    """Four month-partitioned appends, a merge-on-read DELETE, then a
    copy-on-write DELETE. The planner that read the snapshot log
    directly ran 1 job for a lineage read + collect and 2 (tombstone
    broadcast + scan) for a time-travel read of the merge-on-read
    snapshot; the reader must not run more."""
    t = Warehouse(spark, str(tmp_path / "warehouse")).create_table(
        "db", "jobs", "id bigint, d date, v double", partition_by="d", transform="month"
    )
    for i in range(4):
        t.append(
            spark.range(i * 2000, (i + 1) * 2000).select(
                "id",
                F.expr("date_add(DATE'2024-01-01', CAST(id % 90 AS INT))").alias("d"),
                (F.col("id") * 0.5).alias("v"),
            )
        )
    t.delete_where("id % 13 = 0", mode="merge-on-read")
    mor = t.current_snapshot_id()
    t.delete_where("id % 17 = 0")
    assert _jobs(spark, "parity-lineage", lambda: t.read(lineage=True)) <= 1
    assert _jobs(spark, "parity-mor-travel", lambda: t.read(version=mor)) <= 2
