"""Append to a FOREIGN Iceberg-v2 filesystem table through its open
metadata — the producer side of the open-format promise (reference
README.md:169-178), completing D12: the engine can now write to a table
it did not create, e.g. one registered via `CALL system.register_table`
or served by the REST catalog.

`append_iceberg_table(spark, location, df)` writes new parquet data
files, a new Avro manifest at the next sequence number, a manifest list
carrying every prior manifest plus the new one, and a vN+1 metadata
document; it returns the new metadata path. Existing snapshots,
manifests and data files are never touched (Iceberg metadata is
immutable — an append is pure addition), so any concurrent READER keeps
a consistent view.

Concurrency contract: the filesystem layout has no commit lock. In
`update_hint=True` mode (default) the version hint moves to the new
metadata — correct for a single writer. For multi-writer topologies run
the append inside `RestCatalogClient.commit_with_retry` with
`update_hint=False`: the CATALOG's commitTable CAS arbitrates whose
pointer lands, exactly how Spark writes through Polaris (and the 409
loser re-stages on the fresh base).

Scale: the data write is a normal distributed parquet write; everything
else is driver-side metadata work, O(manifests + files added).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from minio_iceberg_polaris_lakehouse_spark import avro_io, fsio
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    _spark_type,
    resolve_metadata_path,
)

_LIST_FIELDS = [
    ("manifest_path", None),
    ("manifest_length", 0),
    ("partition_spec_id", 0),
    ("content", 0),
    ("sequence_number", 0),
    ("min_sequence_number", 0),
    ("added_snapshot_id", 0),
    ("added_files_count", 0),
    ("existing_files_count", 0),
    ("deleted_files_count", 0),
    ("added_rows_count", 0),
    ("existing_rows_count", 0),
    ("deleted_rows_count", 0),
]


def _sanitize_list_record(rec: dict) -> dict:
    """Project a foreign manifest-list record onto the fields our list
    schema writes (extra writer-specific fields drop; required numerics
    default to 0 — the reader treats them as statistics only)."""
    out = {}
    for name, default in _LIST_FIELDS:
        v = rec.get(name)
        out[name] = default if v is None and default is not None else v
    if out["manifest_path"] is None:
        raise ValueError(f"manifest-list record without manifest_path: {rec!r}")
    return out


_AVRO_OF_ICEBERG = {
    "int": "int",
    "long": "long",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": {"type": "int", "logicalType": "date"},
}


def _identity_partition_triples(spec_fields: list[dict], target: dict):
    """(spec_field_name, source_column_name, field_id, avro_type,
    iceberg_type) per identity partition field of the default spec."""
    by_id = {f["id"]: f for f in target["fields"]}
    triples = []
    for pf in spec_fields:
        src = by_id.get(pf["source-id"])
        if src is None:
            raise ValueError(
                f"partition field {pf['name']!r} sources dropped column id "
                f"{pf['source-id']}"
            )
        avro = _AVRO_OF_ICEBERG.get(src["type"] if isinstance(src["type"], str) else "")
        if avro is None:
            raise ValueError(
                f"unsupported identity partition source type {src['type']!r}"
            )
        triples.append((pf["name"], src["name"], int(pf["field-id"]), avro, src["type"]))
    return triples


def _walk_parquet(out_dir: str, part_triples) -> list[dict]:
    """Every non-empty parquet under ``out_dir`` (recursing through the
    hive-style partition dirs a partitioned write produces) with its
    footer row count, size, and — for partitioned writes — the TYPED
    partition values decoded from the directory names."""
    import urllib.parse

    import pyarrow.parquet as pq

    out: list[dict] = []

    def visit(d: str, values: dict):
        for name in sorted(fsio.listdir(d)):
            p = os.path.join(d, name)
            if fsio.isdir(p):
                sub = dict(values)
                if "=" in name:
                    k, _, raw = name.partition("=")
                    if k.startswith("_pv_"):
                        sub[k[4:]] = urllib.parse.unquote(raw)
                visit(p, sub)
            elif name.endswith(".parquet"):
                # footers through the fsio facade (same pattern as the
                # engine's _parquet_footer_stats) so scheme:// roots work
                pf = pq.ParquetFile(fsio.open_binary(p))
                if not pf.metadata.num_rows:
                    continue
                partition = {}
                for spec_name, _src, _fid, avro, _it in part_triples:
                    partition[spec_name] = _typed_partition_value(
                        values.get(spec_name), avro
                    )
                out.append(
                    {
                        "path": p,
                        "rows": pf.metadata.num_rows,
                        "size": fsio.getsize(p),
                        "partition": partition,
                    }
                )

    visit(out_dir, {})
    return out


def _typed_partition_value(raw: str | None, avro_type):
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if isinstance(avro_type, dict) and avro_type.get("logicalType") == "date":
        import datetime

        return (datetime.date.fromisoformat(raw) - datetime.date(1970, 1, 1)).days
    if avro_type in ("int", "long"):
        return int(raw)
    if avro_type in ("double", "float"):
        return float(raw)
    if avro_type == "boolean":
        return raw.lower() == "true"
    return raw


def append_iceberg_table(
    spark: SparkSession,
    location: str,
    df: DataFrame,
    update_hint: bool = True,
    _replace_all: bool = False,
) -> str:
    """Append ``df`` to the Iceberg table at ``location`` (table dir /
    metadata dir / metadata file); returns the NEW vN+1.metadata.json
    path. ``update_hint=False`` leaves version-hint.text alone so a REST
    catalog's commitTable CAS can arbitrate the pointer swap instead.

    Partitioning scope: unpartitioned tables and IDENTITY-transform
    partition specs (any number of fields) — rows land grouped by
    partition value (hive-style layout) and every manifest entry records
    the typed partition values under the spec's own field ids, so real
    readers keep pruning. Derived transforms (day/bucket/truncate/…)
    raise: deriving them approximately would silently corrupt pruning
    for every other engine reading the table. Columns are matched by
    NAME against the current schema and cast to its types; missing
    nullable columns NULL-fill, missing required columns raise.
    """
    md_path = resolve_metadata_path(location)
    md = json.loads(fsio.read_text(md_path))
    mdir = os.path.dirname(md_path)
    root = md.get("location") or os.path.dirname(mdir)

    specs = md.get("partition-specs", [])
    default_spec = next(
        (s for s in specs if s.get("spec-id") == md.get("default-spec-id", 0)), None
    )
    spec_fields = (default_spec or {}).get("fields") or []
    non_identity = [f for f in spec_fields if f.get("transform") != "identity"]
    if non_identity:
        raise ValueError(
            "append_iceberg_table supports unpartitioned and identity-"
            f"partitioned tables; derived transforms present: {non_identity!r}"
        )

    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    target = schemas[md["current-schema-id"]]
    cols = []
    for f in target["fields"]:
        dt = _spark_type(f["type"])
        if f["name"] in df.columns:
            cols.append(F.col(f["name"]).cast(dt).alias(f["name"]))
        elif not f.get("required"):
            cols.append(F.lit(None).cast(dt).alias(f["name"]))
        else:
            raise ValueError(f"required column {f['name']} missing from append data")
    aligned = df.select(*cols)

    part_triples = _identity_partition_triples(spec_fields, target)
    dirname = f"append-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(root, "data", dirname)
    if part_triples:
        # duplicate each partition source into a _pv_* column and
        # partitionBy THAT: the hive dirs get the values while the data
        # files keep every real column (Iceberg files are full-width —
        # hive-style column elision would NULL the column for readers
        # that don't reconstruct from paths)
        staged = aligned
        for spec_name, src_name, *_rest in part_triples:
            staged = staged.withColumn(f"_pv_{spec_name}", F.col(src_name))
        staged.write.option("compression", "zstd").partitionBy(
            *[f"_pv_{t[0]}" for t in part_triples]
        ).parquet(out_dir)
    else:
        aligned.write.option("compression", "zstd").parquet(out_dir)
    files = _walk_parquet(out_dir, part_triples)
    added_rows = sum(f["rows"] for f in files)

    snaps = md.get("snapshots", [])
    parent = md.get("current-snapshot-id")
    parent_snap = next((s for s in snaps if s["snapshot-id"] == parent), None)
    snapshot_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    now_ms = int(time.time() * 1000)

    # the parent's manifests ride into the new list unchanged; read them
    # now — they also floor the new sequence number for metadata that
    # omits last-sequence-number (the new data MUST outrank every
    # existing delete file, or appended rows would be tombstoned by
    # older equality deletes)
    prev_records: list[dict] = []
    if parent_snap is not None:
        _s, _m, prev = avro_io.read_container(parent_snap["manifest-list"])
        prev_records = [_sanitize_list_record(r) for r in prev]
    seq = (
        max(
            int(md.get("last-sequence-number", 0)),
            max((int(r["sequence_number"] or 0) for r in prev_records), default=0),
            max((int(s.get("sequence-number") or 0) for s in snaps), default=0),
        )
        + 1
    )

    # manifest for the new files, at the new sequence number
    from minio_iceberg_polaris_lakehouse_spark.iceberg_export import (
        _MANIFEST_LIST_SCHEMA,
        _manifest_entry_schema,
    )

    entry_schema = _manifest_entry_schema(
        [(n, t, fid) for n, _src, fid, t, _it in part_triples] or None
    )
    spec_id = md.get("default-spec-id", 0) if part_triples else 0
    man_path = os.path.join(mdir, f"manifest-{dirname}.avro")
    avro_io.write_container(
        man_path,
        entry_schema,
        [
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": f["path"],
                    "file_format": "PARQUET",
                    "partition": f["partition"],
                    "record_count": f["rows"],
                    "file_size_in_bytes": f["size"],
                },
            }
            for f in files
        ],
        metadata={
            "schema": json.dumps(target),
            "partition-spec": json.dumps(spec_fields),
            "partition-spec-id": str(spec_id),
            "format-version": "2",
            "content": "data",
        },
    )

    # manifest list: every manifest the parent referenced (read above),
    # plus ours — existing records pass through with their own sequence
    # numbers, so older files keep their data sequence (equality-delete
    # applicability is preserved) and delete manifests stay in force.
    # The filename carries a per-writer uuid: two writers staging from
    # the same base both compute the same snapshot_id, and a shared name
    # would let the CAS loser overwrite the winner's committed list
    stage_id = uuid.uuid4().hex[:12]
    list_path = os.path.join(mdir, f"snap-{snapshot_id}-{stage_id}-manifest-list.avro")
    avro_io.write_container(
        list_path,
        _MANIFEST_LIST_SCHEMA,
        # replace mode (compaction): the new snapshot references ONLY the
        # rewritten files; prior manifests stay reachable via prior
        # snapshots for time travel (prev_records still floored the seq)
        ([] if _replace_all else prev_records)
        + [
            {
                "manifest_path": man_path,
                # real byte size: Iceberg core passes manifest_length to
                # newInputFile(path, length) — a fake value breaks any
                # real reader's ranged manifest fetch
                "manifest_length": fsio.getsize(man_path),
                "partition_spec_id": spec_id,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": added_rows,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ],
        metadata={
            "snapshot-id": str(snapshot_id),
            "parent-snapshot-id": str(parent),
            "sequence-number": str(seq),
            "format-version": "2",
        },
    )

    return _commit_metadata_doc(
        md,
        md_path,
        mdir,
        snapshot_id=snapshot_id,
        parent=parent,
        seq=seq,
        now_ms=now_ms,
        list_path=list_path,
        summary=(
            {
                "operation": "replace",
                "added-records": str(added_rows),
                "added-data-files": str(len(files)),
            }
            if _replace_all
            else {
                "operation": "append",
                "added-records": str(added_rows),
                "added-data-files": str(len(files)),
            }
        ),
        update_hint=update_hint,
        stage_id=stage_id,
    )


def _commit_metadata_doc(
    md: dict,
    md_path: str,
    mdir: str,
    *,
    snapshot_id: int,
    parent,
    seq: int,
    now_ms: int,
    list_path: str,
    summary: dict,
    update_hint: bool,
    stage_id: str,
) -> str:
    """Write the vN+1 metadata document for a staged snapshot (shared by
    the append and delete commit paths) and advance the version hint in
    single-writer mode; returns the new metadata path."""
    new_md = dict(md)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now_ms
    new_md["current-snapshot-id"] = snapshot_id
    new_md["snapshots"] = md.get("snapshots", []) + [
        {
            "snapshot-id": snapshot_id,
            "parent-snapshot-id": parent,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": list_path,
            "summary": summary,
            "schema-id": md["current-schema-id"],
        }
    ]
    new_md["snapshot-log"] = md.get("snapshot-log", []) + [
        {"timestamp-ms": now_ms, "snapshot-id": snapshot_id}
    ]
    refs = dict(md.get("refs", {}))
    if "main" in refs:
        refs["main"] = {"snapshot-id": snapshot_id, "type": "branch"}
        new_md["refs"] = refs

    m = re.fullmatch(r"v(\d+)(?:-[0-9a-f]+)?\.metadata\.json", os.path.basename(md_path))
    version = (int(m.group(1)) if m else 0) + 1
    if update_hint:
        # single-writer filesystem mode: the hint convention demands the
        # exact vN name
        new_path = os.path.join(mdir, f"v{version}.metadata.json")
    else:
        # CAS mode: two writers staging from the same base both compute
        # version N+1 — a shared name would let the 409 loser's atomic
        # rename REPLACE the winner's committed metadata (lost update
        # behind a consistent-looking pointer). Per-writer uuid in the
        # name (real Iceberg's 00005-<uuid>.metadata.json shape); the
        # catalog pointer, not the filename, is the authority.
        new_path = os.path.join(mdir, f"v{version}-{stage_id}.metadata.json")
    fsio.write_bytes_atomic(
        new_path, json.dumps(new_md).encode(), uuid.uuid4().hex
    )
    if update_hint:
        fsio.write_bytes_atomic(
            os.path.join(mdir, "version-hint.text"),
            str(version).encode(),
            uuid.uuid4().hex,
        )
    return new_path


def delete_iceberg_table_where(
    spark: SparkSession,
    location: str,
    predicate: str,
    update_hint: bool = True,
    dv: bool | None = None,
) -> str | None:
    """Row-level DELETE on a FOREIGN Iceberg table through its open
    metadata: write content=1 POSITION_DELETES files for the live rows
    matching ``predicate`` (merge-on-read — no data file is rewritten),
    a deletes manifest at the next sequence number, and a vN+1 metadata
    document. Returns the new metadata path, or None when no row matched
    (no empty delete snapshot is committed).

    The matched set comes from the reader's own scan with (file, pos)
    lineage (`read_iceberg_table(_keep_lineage=True)`) — existing
    positional AND equality deletes are already applied, so re-deleting
    an already-dead row never emits a duplicate tombstone, and the
    written positions use the same URI normalization the reader applies
    on both sides of its anti-join. Rows appended AFTER this commit live
    in new files and are untouched (a positional tombstone names an
    exact (file, pos)), matching Iceberg's delete semantics.

    Same concurrency contract as append_iceberg_table: version-hint mode
    for a single writer, `update_hint=False` under a REST catalog's
    commitTable CAS for multi-writer arbitration.

    Scale: the scan is the normal distributed read; the tombstone write
    shuffles only matched (file, pos) pairs — O(deleted rows), not
    O(table).

    ``dv=None`` (default) follows the table: a format-version 3
    metadata document gets deletion vectors (the spec makes DVs v3's
    positional-delete representation), v1/v2 get parquet tombstones —
    so a plain SQL ``DELETE FROM`` on a registered v3 table writes DVs
    with no caller opt-in. ``dv=True`` writes the deletes as Iceberg v3
    DELETION VECTORS
    instead of parquet tombstones: one roaring-bitmap blob per touched
    data file inside a single Puffin container, manifest entries
    carrying ``referenced_data_file`` / ``content_offset`` /
    ``content_size_in_bytes`` (fields 143-145), and the metadata
    document bumped to format-version 3. The spec's one-live-DV-per-file
    invariant is kept: a file that already has a DV gets its old
    positions MERGED into the new blob and the old entry marked DELETED
    (status=2) in a rewritten manifest — readers see exactly one DV per
    file. Bitmap encoding runs in executors (one ``applyInPandas`` group
    per file); only the per-file blob bytes pass the driver for the
    container assembly, never the positions.
    """
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    md_path = resolve_metadata_path(location)
    md = json.loads(fsio.read_text(md_path))
    mdir = os.path.dirname(md_path)
    root = md.get("location") or os.path.dirname(mdir)

    live = read_iceberg_table(spark, location, _keep_lineage=True)
    matched = live.filter(predicate).select(
        F.col("__file").alias("file_path"), F.col("__pos").cast("long").alias("pos")
    )
    if dv is None:
        dv = int(md.get("format-version", 2)) >= 3
    if dv:
        return _commit_dv_delete(spark, md, md_path, mdir, root, matched, update_hint)

    dirname = f"delete-{uuid.uuid4().hex[:12]}"
    files = _write_position_deletes(matched, os.path.join(root, "data", dirname))
    if not files:
        return None
    deleted_rows = sum(r for _, r, _ in files)

    return _stage_row_level_commit(
        md,
        md_path,
        mdir,
        tag=dirname,
        delete_files=files,
        data_files=[],
        summary={
            "operation": "delete",
            "deleted-records": str(deleted_rows),
            "added-delete-files": str(len(files)),
            "added-position-deletes": str(deleted_rows),
        },
        update_hint=update_hint,
    )


def _encode_dv_files(
    spark: SparkSession,
    md: dict,
    root: str,
    matched: "DataFrame",
    tag: str,
) -> tuple[list[dict], set[str], int] | None:
    """Encode ``matched`` (file_path, pos) as Iceberg v3 DELETION
    VECTORS: one roaring-bitmap blob per touched data file in a single
    Puffin container written under ``root``/data. Files that already
    carry a live DV get their old positions merged in (the spec's
    one-live-DV-per-file invariant); returns (dv_files entries for
    _stage_row_level_commit, supersede_refs, merged_old_count — the
    positions carried forward from superseded DVs, so callers report
    NEW tombstones as total cardinality minus it without re-counting
    ``matched``), or None when ``matched`` is empty. Shared by the
    DELETE, UPDATE and MERGE paths — any v3 positional tombstone is a
    DV."""
    from minio_iceberg_polaris_lakehouse_spark import puffin
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        _dv_tombstones,
        _is_dv_entry,
    )

    def _norm(p: str) -> str:
        return re.sub(r"^file:(//)?", "", p)

    touched = {r["file_path"] for r in matched.select("file_path").distinct().collect()}
    if not touched:
        return None

    # live DVs already covering touched files: merge their positions into
    # the new blob and mark the old entries DELETED in a rewritten
    # manifest — a reader must never see two live DVs for one file
    old_specs: list[dict] = []
    supersede_refs: set[str] = set()
    merged_old = 0
    snaps = md.get("snapshots", [])
    cur_snap = next(
        (s for s in snaps if s["snapshot-id"] == md.get("current-snapshot-id")), None
    )
    if cur_snap is not None:
        _s, _m, recs = avro_io.read_container(cur_snap["manifest-list"])
        for rec in recs:
            if rec.get("content") != 1:
                continue
            _s2, _m2, entries = avro_io.read_container(rec["manifest_path"])
            for e in entries:
                dfe = e["data_file"]
                if e.get("status") == 2 or not _is_dv_entry(dfe):
                    continue
                ref = _norm(dfe["referenced_data_file"])
                if ref in touched:
                    old_specs.append(
                        {
                            "puffin": dfe["file_path"],
                            "offset": int(dfe["content_offset"]),
                            "length": int(dfe["content_size_in_bytes"]),
                            "referenced": ref,
                        }
                    )
                    supersede_refs.add(ref)
                    merged_old += int(dfe.get("record_count") or 0)
    if old_specs:
        matched = matched.unionByName(
            _dv_tombstones(spark, old_specs).select(
                F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
            )
        )

    # bitmap encoding runs in EXECUTORS, one group per data file; only
    # the compressed blob bytes reach the driver for container assembly
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    def _encode(pdf):
        import pandas as _pd

        from minio_iceberg_polaris_lakehouse_spark import puffin as _puffin

        positions = sorted({int(p) for p in pdf["pos"]})
        return _pd.DataFrame(
            {
                "file_path": [pdf["file_path"].iloc[0]],
                "blob": [_puffin.encode_deletion_vector(positions)],
                "cardinality": [len(positions)],
            }
        )

    enc = (
        matched.groupBy("file_path")
        .applyInPandas(_encode, "file_path string, blob binary, cardinality long")
        .collect()
    )
    if not enc:
        return None

    # snapshot id / sequence for the blob footer metadata (informational;
    # the manifest entries written by _stage_row_level_commit carry the
    # authoritative values, computed from the same metadata document)
    next_snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    next_seq = int(md.get("last-sequence-number", 0)) + 1
    blobs = []
    for row in sorted(enc, key=lambda r: r["file_path"]):
        blobs.append(
            (
                bytes(row["blob"]),
                {
                    "type": "deletion-vector-v1",
                    "fields": [],
                    "snapshot-id": next_snap_id,
                    "sequence-number": next_seq,
                    "properties": {
                        "referenced-data-file": row["file_path"],
                        "cardinality": str(int(row["cardinality"])),
                    },
                },
            )
        )
    buf = puffin.write_puffin(blobs)
    footer = puffin.read_puffin_footer(buf)
    dv_path = os.path.join(root, "data", f"{tag}.puffin")
    fsio.makedirs(os.path.dirname(dv_path))
    fsio.write_bytes(dv_path, buf)
    size = fsio.getsize(dv_path)
    dv_files = [
        {
            "path": dv_path,
            "size": size,
            "referenced": bm["properties"]["referenced-data-file"],
            "offset": int(bm["offset"]),
            "length": int(bm["length"]),
            "cardinality": int(bm["properties"]["cardinality"]),
        }
        for bm in footer["blobs"]
    ]
    return dv_files, supersede_refs, merged_old


def _commit_dv_delete(
    spark: SparkSession,
    md: dict,
    md_path: str,
    mdir: str,
    root: str,
    matched: "DataFrame",
    update_hint: bool,
) -> str | None:
    """Commit ``matched`` (file_path, pos) as a deletion-vector DELETE
    snapshot and bump the table to format-version 3."""
    tag = f"dv-{uuid.uuid4().hex[:12]}"
    enc = _encode_dv_files(spark, md, root, matched, tag)
    if enc is None:
        return None
    dv_files, supersede_refs, merged_old = enc
    total = sum(d["cardinality"] for d in dv_files)
    md = dict(md)
    md["format-version"] = 3  # deletion vectors are a v3 feature
    return _stage_row_level_commit(
        md,
        md_path,
        mdir,
        tag=tag,
        delete_files=[],
        data_files=[],
        summary={
            "operation": "delete",
            "added-dvs": str(len(dv_files)),
            # NEW tombstones only — positions merged forward from
            # superseded DVs stay attributed to their original commits
            "added-position-deletes": str(total - merged_old),
        },
        update_hint=update_hint,
        dv_files=dv_files,
        supersede_refs=supersede_refs,
    )


def _list_parquet(out_dir: str) -> list[tuple[str, int, int]]:
    """(path, rows, size) of every non-empty parquet in a write dir —
    footers through fsio so scheme:// roots work."""
    import pyarrow.parquet as pq

    files = []
    for name in sorted(fsio.listdir(out_dir)):
        if not name.endswith(".parquet"):
            continue
        p = os.path.join(out_dir, name)
        pf = pq.ParquetFile(fsio.open_binary(p))
        if pf.metadata.num_rows:
            files.append((p, pf.metadata.num_rows, fsio.getsize(p)))
    return files


def _write_position_deletes(pos: DataFrame, out_dir: str) -> list[tuple[str, int, int]]:
    """Write ``pos`` (file_path, pos) tombstones as position-delete files
    under ``out_dir``, with Iceberg's own position-delete distribution:
    hash-clustered on file_path and sorted within each task, so one data
    file's tombstones land in one delete file, in the spec's (file_path,
    pos) order, without the sampling job a global sort runs. Returns the
    non-empty files (path, rows, size); a write with no rows leaves no
    directory."""
    pos.repartition("file_path").sortWithinPartitions("file_path", "pos").write.option(
        "compression", "zstd"
    ).parquet(out_dir)
    files = _list_parquet(out_dir)
    if not files:
        fsio.rmtree(out_dir)
    return files


def _stage_row_level_commit(
    md: dict,
    md_path: str,
    mdir: str,
    *,
    tag: str,
    delete_files: list[tuple[str, int, int]],
    data_files: list[tuple[str, int, int]],
    summary: dict,
    update_hint: bool,
    eq_delete_files: list[tuple[str, int, int]] | None = None,
    equality_ids: list[int] | None = None,
    data_partition: tuple | None = None,
    dv_files: list[dict] | None = None,
    supersede_refs: set[str] | None = None,
) -> str:
    """Stage ONE snapshot carrying a POSITION_DELETES manifest and/or an
    EQUALITY_DELETES manifest and/or a data manifest (all at the same new
    sequence number — Iceberg's overwrite shape: positional tombstones
    name exact (file,pos) pairs of OLD files, and the strict
    `data_seq < delete_seq` rule keeps same-snapshot data files out of
    the equality deletes' reach), then write the vN+1 metadata
    document. ``eq_delete_files`` are content=2 entries keyed on the
    schema field ids in ``equality_ids``. ``data_partition`` (optional)
    is ``(part_triples, spec_fields, spec_id)`` for identity-partitioned
    DATA entries: the data manifest then carries the spec's own entry
    schema and each file's typed partition values (``data_files`` must
    be _walk_parquet dicts); delete manifests stay partition-empty —
    positional tombstones name exact (file,pos) pairs and equality
    deletes apply table-wide.

    ``dv_files`` are Iceberg v3 deletion-vector entries
    ({path, size, referenced, offset, length, cardinality}) written as a
    content=1 manifest of PUFFIN entries carrying fields 143-145;
    ``supersede_refs`` (normalized data-file paths) marks any LIVE prior
    DV on those files DELETED by rewriting its manifest — the rewritten
    manifest keeps every other entry as EXISTING with its original
    sequence numbers materialized."""
    snaps = md.get("snapshots", [])
    parent = md.get("current-snapshot-id")
    parent_snap = next((s for s in snaps if s["snapshot-id"] == parent), None)
    snapshot_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    now_ms = int(time.time() * 1000)
    prev_records: list[dict] = []
    if parent_snap is not None:
        _s, _m, prev = avro_io.read_container(parent_snap["manifest-list"])
        prev_records = [_sanitize_list_record(r) for r in prev]
    seq = (
        max(
            int(md.get("last-sequence-number", 0)),
            max((int(r["sequence_number"] or 0) for r in prev_records), default=0),
            max((int(s.get("sequence-number") or 0) for s in snaps), default=0),
        )
        + 1
    )

    from minio_iceberg_polaris_lakehouse_spark.iceberg_export import (
        _MANIFEST_LIST_SCHEMA,
        _manifest_entry_schema,
    )

    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    target = schemas[md["current-schema-id"]]
    entry_schema = _manifest_entry_schema(None)

    def _write_manifest(
        kind: str,
        list_content: int,
        files: list,
        entry_content: int | None = None,
        eq_ids: list[int] | None = None,
        schema_override: dict | None = None,
        spec_fields_json: str = "[]",
        spec_id: int = 0,
    ) -> dict:
        """``list_content`` is the manifest-list record's content code
        (0 data / 1 deletes); ``entry_content`` the per-file code inside
        (1 POSITION_DELETES vs 2 EQUALITY_DELETES ride the same
        list-level deletes code). ``files`` entries are (path, rows,
        size) tuples or _walk_parquet dicts with typed partition
        values."""
        norm = [
            (f["path"], f["rows"], f["size"], f.get("partition", {}))
            if isinstance(f, dict)
            else (f[0], f[1], f[2], {})
            for f in files
        ]
        man_path = os.path.join(mdir, f"manifest-{tag}-{kind}.avro")
        avro_io.write_container(
            man_path,
            schema_override or entry_schema,
            [
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": entry_content if entry_content is not None else list_content,
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": part,
                        "record_count": rows,
                        "file_size_in_bytes": size,
                        **({"equality_ids": list(eq_ids)} if eq_ids else {}),
                    },
                }
                for p, rows, size, part in norm
            ],
            metadata={
                "schema": json.dumps(target),
                "partition-spec": spec_fields_json,
                "partition-spec-id": str(spec_id),
                "format-version": "2",
                "content": "deletes" if list_content else "data",
            },
        )
        return {
            "manifest_path": man_path,
            "manifest_length": fsio.getsize(man_path),
            "partition_spec_id": spec_id,
            "content": list_content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": snapshot_id,
            "added_files_count": len(norm),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(r for _, r, _, _ in norm),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    if supersede_refs:
        # one live DV per data file (v3 invariant): rewrite any prior
        # delete manifest whose live DV entries reference a superseded
        # file, marking them status=2 (DELETED by this snapshot); kept
        # entries become EXISTING with their sequence numbers
        # materialized so inheritance from the old list record survives
        def _norm(p: str) -> str:
            return re.sub(r"^file:(//)?", "", p)

        rewritten: list[dict] = []
        for ridx, rec in enumerate(prev_records):
            if rec.get("content") != 1:
                rewritten.append(rec)
                continue
            _s2, man_meta, entries = avro_io.read_container(rec["manifest_path"])
            hits = {
                id(e)
                for e in entries
                if e.get("status") != 2
                and e["data_file"].get("referenced_data_file") is not None
                and _norm(e["data_file"]["referenced_data_file"]) in supersede_refs
            }
            if not hits:
                rewritten.append(rec)
                continue
            new_entries = []
            kept_files = kept_rows = dead_files = dead_rows = 0
            for e in entries:
                e2 = dict(e)
                e2["data_file"] = dict(e["data_file"])
                eseq = e.get("sequence_number")
                if eseq is None:
                    eseq = int(rec.get("sequence_number") or 0)
                e2["sequence_number"] = int(eseq)
                if e2.get("file_sequence_number") is None:
                    e2["file_sequence_number"] = int(eseq)
                if id(e) in hits:
                    e2["status"] = 2
                    e2["snapshot_id"] = snapshot_id
                    dead_files += 1
                    dead_rows += int(e["data_file"].get("record_count") or 0)
                elif e.get("status") != 2:
                    e2["status"] = 0  # EXISTING in the rewritten manifest
                    kept_files += 1
                    kept_rows += int(e["data_file"].get("record_count") or 0)
                new_entries.append(e2)
            man_path = os.path.join(mdir, f"manifest-{tag}-rewrite{ridx}.avro")
            meta_out = {
                k: (v.decode() if isinstance(v, bytes) else v)
                for k, v in (man_meta or {}).items()
                if k != "avro.schema"
            }
            avro_io.write_container(man_path, entry_schema, new_entries, metadata=meta_out)
            rewritten.append(
                {
                    **rec,
                    "manifest_path": man_path,
                    "manifest_length": fsio.getsize(man_path),
                    "added_snapshot_id": snapshot_id,
                    "added_files_count": 0,
                    "existing_files_count": kept_files,
                    "deleted_files_count": dead_files,
                    "added_rows_count": 0,
                    "existing_rows_count": kept_rows,
                    "deleted_rows_count": dead_rows,
                }
            )
        prev_records = rewritten

    new_records = []
    if dv_files:
        man_path = os.path.join(mdir, f"manifest-{tag}-dv.avro")
        avro_io.write_container(
            man_path,
            entry_schema,
            [
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 1,  # POSITION_DELETES (DV flavor)
                        "file_path": d["path"],
                        "file_format": "PUFFIN",
                        "partition": {},
                        "record_count": d["cardinality"],
                        "file_size_in_bytes": d["size"],
                        "referenced_data_file": d["referenced"],
                        "content_offset": d["offset"],
                        "content_size_in_bytes": d["length"],
                    },
                }
                for d in dv_files
            ],
            metadata={
                "schema": json.dumps(target),
                "partition-spec": "[]",
                "partition-spec-id": "0",
                "format-version": "3",
                "content": "deletes",
            },
        )
        new_records.append(
            {
                "manifest_path": man_path,
                "manifest_length": fsio.getsize(man_path),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(dv_files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(d["cardinality"] for d in dv_files),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        )
    if delete_files:
        new_records.append(_write_manifest("deletes", 1, delete_files))
    if eq_delete_files:
        new_records.append(
            _write_manifest("eqdeletes", 1, eq_delete_files, entry_content=2, eq_ids=equality_ids)
        )
    if data_files:
        if data_partition is not None:
            part_triples, spec_fields, spec_id = data_partition
            from minio_iceberg_polaris_lakehouse_spark.iceberg_export import (
                _manifest_entry_schema as _entry_schema_fn,
            )

            new_records.append(
                _write_manifest(
                    "data",
                    0,
                    data_files,
                    schema_override=_entry_schema_fn(
                        [(n, t, fid) for n, _src, fid, t, _it in part_triples]
                    ),
                    spec_fields_json=json.dumps(spec_fields),
                    spec_id=spec_id,
                )
            )
        else:
            new_records.append(_write_manifest("data", 0, data_files))

    stage_id = uuid.uuid4().hex[:12]
    list_path = os.path.join(mdir, f"snap-{snapshot_id}-{stage_id}-manifest-list.avro")
    avro_io.write_container(
        list_path,
        _MANIFEST_LIST_SCHEMA,
        prev_records + new_records,
        metadata={
            "snapshot-id": str(snapshot_id),
            "parent-snapshot-id": str(parent),
            "sequence-number": str(seq),
            "format-version": "2",
        },
    )

    return _commit_metadata_doc(
        md,
        md_path,
        mdir,
        snapshot_id=snapshot_id,
        parent=parent,
        seq=seq,
        now_ms=now_ms,
        list_path=list_path,
        summary=summary,
        update_hint=update_hint,
        stage_id=stage_id,
    )


def update_iceberg_table_where(
    spark: SparkSession,
    location: str,
    assignments: dict[str, str],
    predicate: str,
    update_hint: bool = True,
) -> str | None:
    """Row-level UPDATE on a FOREIGN Iceberg table through its open
    metadata, as ONE snapshot (Iceberg's merge-on-read overwrite shape):
    matched live rows are tombstoned by content=1 positional delete
    files AND re-written to new data files with ``assignments`` applied
    (`{column: SQL expression}`, expressions see the pre-update row).
    Returns the new metadata path, or None when nothing matched.

    Readers of the old snapshot see the pre-update rows; readers of the
    new snapshot see exactly one copy of each matched row with the
    assignments applied — never zero, never two, because the tombstone
    and the rewrite commit atomically together.

    Same scope (unpartitioned) and concurrency contract (version-hint /
    REST CAS) as append/delete. Scale: one distributed scan per output
    (tombstones, rewritten rows) — both O(matched), not O(table)."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    md_path = resolve_metadata_path(location)
    md = json.loads(fsio.read_text(md_path))
    mdir = os.path.dirname(md_path)
    root = md.get("location") or os.path.dirname(mdir)

    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    target = schemas[md["current-schema-id"]]
    bad = [c for c in assignments if c not in {f["name"] for f in target["fields"]}]
    if bad:
        raise ValueError(f"UPDATE assigns unknown columns: {bad}")

    live = read_iceberg_table(spark, location, _keep_lineage=True)
    matched = live.filter(predicate)

    tag = f"update-{uuid.uuid4().hex[:12]}"
    use_dv = int(md.get("format-version", 2)) >= 3
    pos_df = matched.select(
        F.col("__file").alias("file_path"), F.col("__pos").cast("long").alias("pos")
    )
    delete_files: list = []
    dv_files: list[dict] = []
    supersede_refs: set[str] = set()
    if not use_dv:
        delete_files = _write_position_deletes(
            pos_df, os.path.join(root, "data", f"{tag}-deletes")
        )

    # rewritten rows: assignments applied on the pre-update values, then
    # cast back to the declared column types (Iceberg UPDATE semantics)
    rewritten = matched.drop("__file", "__pos").select(
        *[
            (F.expr(assignments[f["name"]]) if f["name"] in assignments else F.col(f["name"]))
            .cast(_spark_type(f["type"]))
            .alias(f["name"])
            for f in target["fields"]
        ]
    )
    data_dir = os.path.join(root, "data", f"{tag}-rows")
    rewritten.write.option("compression", "zstd").parquet(data_dir)

    data_files = _list_parquet(data_dir)
    updated_rows = sum(r for _, r, _ in data_files)
    if use_dv and updated_rows:
        # v3 tables tombstone with deletion vectors (the spec's only
        # positional-delete form at format-version 3); same one-snapshot
        # atomicity — DV manifest and data manifest commit together
        enc = _encode_dv_files(spark, md, root, pos_df, tag)
        if enc is not None:
            dv_files, supersede_refs, _ = enc
    if updated_rows == 0:
        fsio.rmtree(data_dir)
        return None

    return _stage_row_level_commit(
        md,
        md_path,
        mdir,
        tag=tag,
        delete_files=delete_files,
        data_files=data_files,
        summary={
            "operation": "overwrite",
            "updated-records": str(updated_rows),
            "added-delete-files": str(len(delete_files) or len(dv_files)),
            "added-data-files": str(len(data_files)),
            "added-records": str(sum(r for _, r, _ in data_files)),
        },
        update_hint=update_hint,
        dv_files=dv_files or None,
        supersede_refs=supersede_refs or None,
    )


def upsert_iceberg_table(
    spark: SparkSession,
    location: str,
    df: DataFrame,
    update_hint: bool = True,
    keys: list[str] | None = None,
) -> str:
    """Flink/CDC-style UPSERT on a FOREIGN Iceberg table through its open
    metadata: ONE snapshot carrying (a) the batch rows as data files and
    (b) a raw content=2 EQUALITY_DELETES file (keyed by the schema's
    identifier-field-ids, or explicit ``keys``) at the same sequence
    number — the strict `data_seq < delete_seq` rule kills every
    pre-existing row with a matching key and spares the batch. This is
    byte-level what a Flink upsert sink commits; any spec-compliant
    reader (including sources/iceberg_reader.py) applies it.

    O(batch): the table is never scanned. Scope matches
    append_iceberg_table: unpartitioned and IDENTITY-partitioned tables
    (the data manifest carries typed partition values under the spec's
    field ids; the equality-delete file is partition-independent and
    kills matching keys in EVERY partition — a key may move partitions
    between upserts); derived transforms refuse. The batch must hold at
    most one row per key (checked on the written files; both copies
    would survive the equal-sequence rule otherwise).
    """
    md_path = resolve_metadata_path(location)
    md = json.loads(fsio.read_text(md_path))
    mdir = os.path.dirname(md_path)
    root = md.get("location") or os.path.dirname(mdir)

    specs = md.get("partition-specs", [])
    default_spec = next(
        (s for s in specs if s.get("spec-id") == md.get("default-spec-id", 0)), None
    )
    spec_fields = (default_spec or {}).get("fields") or []
    non_identity = [f for f in spec_fields if f.get("transform") != "identity"]
    if non_identity:
        raise ValueError(
            "upsert_iceberg_table supports unpartitioned and identity-"
            f"partitioned tables; derived transforms present: {non_identity!r}"
        )

    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    target = schemas[md["current-schema-id"]]
    by_id = {f["id"]: f["name"] for f in target["fields"]}
    by_name = {f["name"]: f["id"] for f in target["fields"]}
    if keys is None:
        ids = target.get("identifier-field-ids") or []
        if not ids:
            raise ValueError(
                "upsert needs the schema's identifier-field-ids (or explicit keys=)"
            )
        keys = [by_id[i] for i in ids]
    unknown = [k for k in keys if k not in by_name]
    if unknown:
        raise ValueError(f"upsert keys not in schema: {unknown}")
    eq_ids = [by_name[k] for k in keys]

    cols = []
    for f in target["fields"]:
        dt = _spark_type(f["type"])
        if f["name"] in df.columns:
            cols.append(F.col(f["name"]).cast(dt).alias(f["name"]))
        elif not f.get("required"):
            cols.append(F.lit(None).cast(dt).alias(f["name"]))
        else:
            raise ValueError(f"required column {f['name']} missing from upsert data")
    aligned = df.select(*cols)

    part_triples = _identity_partition_triples(spec_fields, target)
    tag = f"upsert-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(root, "data", tag)
    if part_triples:
        # same hive-style layout as append_iceberg_table: _pv_* dir keys
        # carry the values, the data files keep every real column
        staged = aligned
        for spec_name, src_name, *_rest in part_triples:
            staged = staged.withColumn(f"_pv_{spec_name}", F.col(src_name))
        staged.write.option("compression", "zstd").partitionBy(
            *[f"_pv_{t[0]}" for t in part_triples]
        ).parquet(out_dir)
    else:
        aligned.write.option("compression", "zstd").parquet(out_dir)
    written = spark.read.parquet(out_dir).select(*[f["name"] for f in target["fields"]])
    dup = written.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        fsio.rmtree(out_dir)
        raise ValueError(
            f"upsert batch carries multiple rows for key {[dup[0][k] for k in keys]}; "
            "dedup the batch first"
        )
    data_files = _walk_parquet(out_dir, part_triples) if part_triples else _list_parquet(out_dir)

    eq_dir = os.path.join(root, "data", f"{tag}-eqdel")
    written.select(*keys).dropDuplicates(keys).write.option("compression", "zstd").parquet(
        eq_dir
    )
    eq_files = _list_parquet(eq_dir)

    added_rows = sum(
        f["rows"] if isinstance(f, dict) else f[1] for f in data_files
    )
    return _stage_row_level_commit(
        md,
        md_path,
        mdir,
        tag=tag,
        delete_files=[],
        data_files=data_files,
        eq_delete_files=eq_files,
        equality_ids=eq_ids,
        data_partition=(
            (part_triples, spec_fields, md.get("default-spec-id", 0))
            if part_triples
            else None
        ),
        summary={
            "operation": "overwrite",
            "upsert": "true",
            "added-records": str(added_rows),
            "added-delete-files": str(len(eq_files)),
            "added-equality-deletes": str(sum(r for _, r, _ in eq_files)),
        },
        update_hint=update_hint,
    )


def overwrite_iceberg_table_partitions(
    spark: SparkSession,
    location: str,
    df: DataFrame,
    update_hint: bool = True,
) -> str:
    """Dynamic partition overwrite on a FOREIGN Iceberg table through its
    open metadata: the incoming rows land as identity-partitioned data
    files and every live row of a TOUCHED partition is positionally
    tombstoned, in ONE snapshot (delete manifest + data manifest at one
    sequence number — the engine-side overwrite_partitions contract,
    open-format edition). Untouched partitions carry over; any
    spec-compliant reader flips atomically. Identity specs only, like
    every partitioned foreign write here; single-column specs (the
    dominant case) — multi-field touched-set semantics are a follow-up."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    md_path = resolve_metadata_path(location)
    md = json.loads(fsio.read_text(md_path))
    mdir = os.path.dirname(md_path)
    root = md.get("location") or os.path.dirname(mdir)

    specs = md.get("partition-specs", [])
    default_spec = next(
        (s for s in specs if s.get("spec-id") == md.get("default-spec-id", 0)), None
    )
    spec_fields = (default_spec or {}).get("fields") or []
    non_identity = [f for f in spec_fields if f.get("transform") != "identity"]
    if non_identity or not spec_fields:
        raise ValueError(
            "dynamic foreign overwrite needs an identity-partitioned table; "
            f"spec fields: {spec_fields!r}"
        )
    if len(spec_fields) != 1:
        raise ValueError("dynamic foreign overwrite supports single-field specs")

    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    target = schemas[md["current-schema-id"]]
    cols = []
    for f in target["fields"]:
        dt = _spark_type(f["type"])
        if f["name"] in df.columns:
            cols.append(F.col(f["name"]).cast(dt).alias(f["name"]))
        elif not f.get("required"):
            cols.append(F.lit(None).cast(dt).alias(f["name"]))
        else:
            raise ValueError(f"required column {f['name']} missing from overwrite data")
    aligned = df.select(*cols)

    part_triples = _identity_partition_triples(spec_fields, target)
    src_name = part_triples[0][1]
    tag = f"dynover-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(root, "data", tag)
    staged = aligned
    for spec_name, sname, *_rest in part_triples:
        staged = staged.withColumn(f"_pv_{spec_name}", F.col(sname))
    staged.write.option("compression", "zstd").partitionBy(
        *[f"_pv_{t[0]}" for t in part_triples]
    ).parquet(out_dir)
    data_files = _walk_parquet(out_dir, part_triples)

    # touched SOURCE values, type-exact from the written files
    written = spark.read.parquet(out_dir)
    touched = [r[0] for r in written.select(src_name).distinct().collect()]
    live = read_iceberg_table(spark, location, _keep_lineage=True)
    non_null = [v for v in touched if v is not None]
    cond = F.lit(False)
    if non_null:
        cond = live[src_name].isin(non_null)
    if any(v is None for v in touched):
        cond = cond | live[src_name].isNull()
    matched = live.filter(cond).select(
        F.col("__file").alias("file_path"), F.col("__pos").cast("long").alias("pos")
    )
    # no delete files when the write touched only fresh partitions
    delete_files = _write_position_deletes(matched, os.path.join(root, "data", f"{tag}-del"))

    return _stage_row_level_commit(
        md,
        md_path,
        mdir,
        tag=tag,
        delete_files=delete_files,
        data_files=data_files,
        data_partition=(part_triples, spec_fields, md.get("default-spec-id", 0)),
        summary={
            "operation": "overwrite",
            "overwrite-mode": "dynamic",
            "replaced-partitions": str(len(touched)),
            "added-records": str(sum(f["rows"] for f in data_files)),
            "added-position-deletes": str(sum(r for _, r, _ in delete_files)),
        },
        update_hint=update_hint,
    )


def merge_iceberg_table(
    spark: SparkSession,
    location: str,
    source: DataFrame,
    on: str,
    matched_arms: list[dict] | None = None,
    insert_arm: dict | None = None,
    not_matched_by_source_arm: dict | None = None,
    target_alias: str = "t",
    source_alias: str = "s",
    update_hint: bool = True,
) -> str | None:
    """MERGE INTO a FOREIGN Iceberg table through its open metadata, as
    ONE merge-on-read snapshot — the upsert form the reference points at
    for dedup remediation (SETUP_GUIDE_WIN.md:368), on tables the engine
    didn't create, with every clause form of `Table.merge_into_arms`.

    The plan is the engine's one MERGE plan (`warehouse._merge_plan`)
    over the reader's live rows with their (file, pos) lineage: every
    target row whose action is not carry-over is tombstoned (position
    deletes, or deletion vectors at format-version 3), and the rows an
    UPDATE arm or the INSERT arm produce land as new data files. The
    cardinality check fails the first write; a failed MERGE removes
    what it staged and commits nothing. Returns the new metadata path,
    or None when the merge changes nothing."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )
    from minio_iceberg_polaris_lakehouse_spark.warehouse import (
        _CARRY,
        _merge_cardinality,
        _merge_plan,
    )

    md_path = resolve_metadata_path(location)
    md = json.loads(fsio.read_text(md_path))
    mdir = os.path.dirname(md_path)
    root = md.get("location") or os.path.dirname(mdir)
    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    schema = T.StructType(
        [
            T.StructField(f["name"], _spark_type(f["type"]))
            for f in schemas[md["current-schema-id"]]["fields"]
        ]
    )
    live = read_iceberg_table(spark, md_path, _keep_lineage=True, _metadata=md)
    rows, values = _merge_plan(
        live,
        source,
        on,
        schema,
        matched_arms,
        insert_arm,
        not_matched_by_source_arm,
        target_alias,
        source_alias,
    )
    code = F.col("__act")
    ta = target_alias
    doomed = rows.filter(F.col(f"{ta}.__file").isNotNull() & ~code.eqNullSafe(_CARRY)).select(
        F.col(f"{ta}.__file").alias("file_path"), F.col(f"{ta}.__pos").cast("long").alias("pos")
    )
    new_rows = rows.filter(code != _CARRY).select(*values)

    tag = f"merge-{uuid.uuid4().hex[:12]}"
    del_dir, dv_path, data_dir = (
        os.path.join(root, "data", f"{tag}{suffix}") for suffix in ("-deletes", ".puffin", "-rows")
    )
    delete_files: list = []
    dv_files: list[dict] = []
    supersede_refs: set[str] = set()
    deleted_records = 0
    try:
        with _merge_cardinality(source, on):
            if int(md.get("format-version", 2)) >= 3:
                # deleted_records is the NEW tombstone count: positions
                # merged forward from superseded DVs stay attributed to
                # their original commits
                enc = _encode_dv_files(spark, md, root, doomed, tag)
                if enc is not None:
                    dv_files, supersede_refs, merged_old = enc
                    deleted_records = sum(d["cardinality"] for d in dv_files) - merged_old
            else:
                delete_files = _write_position_deletes(doomed, del_dir)
                deleted_records = sum(r for _, r, _ in delete_files)
            new_rows.write.option("compression", "zstd").parquet(data_dir)
    except BaseException:
        fsio.rmtree(del_dir, ignore_errors=True)
        fsio.rmtree(data_dir, ignore_errors=True)
        if fsio.exists(dv_path):
            fsio.remove(dv_path)
        raise
    data_files = _list_parquet(data_dir)
    if not data_files:
        fsio.rmtree(data_dir)
        if not delete_files and not dv_files:
            return None

    return _stage_row_level_commit(
        md,
        md_path,
        mdir,
        tag=tag,
        delete_files=delete_files,
        data_files=data_files,
        summary={
            "operation": "overwrite",
            "merge-on": on,
            "added-delete-files": str(len(delete_files) or len(dv_files)),
            "deleted-records": str(deleted_records),
            "added-data-files": str(len(data_files)),
            "added-records": str(sum(r for _, r, _ in data_files)),
        },
        update_hint=update_hint,
        dv_files=dv_files or None,
        supersede_refs=supersede_refs or None,
    )


def rewrite_iceberg_table_files(
    spark: SparkSession,
    location: str,
    update_hint: bool = True,
) -> str:
    """Compaction for a FOREIGN Iceberg table (`CALL
    system.rewrite_data_files` on a registered name): read the LIVE rows
    (positional and equality deletes applied), rewrite them as fresh
    data files, and commit a `replace` snapshot that references ONLY the
    rewritten files — tombstones are absorbed, small files fold
    together, and prior snapshots keep time-traveling to the old layout.
    A logical no-op by construction: readers before and after see the
    same rows (the engine's incremental/CDC consumers skip `replace`
    snapshots for exactly this reason).

    Same scope and concurrency contract as append (identity partitioning
    preserved via the same grouped write; version-hint / REST CAS)."""
    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    live = read_iceberg_table(spark, location)
    return append_iceberg_table(
        spark, location, live, update_hint=update_hint, _replace_all=True
    )
