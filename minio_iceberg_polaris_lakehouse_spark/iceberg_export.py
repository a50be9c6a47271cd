"""Iceberg v2 metadata, written by every native commit.

The reference's whole point is an OPEN table format: any engine can read
the table by walking `vN.metadata.json` → manifest list → manifests →
data files (reference README.md:169-178 shows the metadata tree;
getting_started.ipynb:137-152 the real paths). The engine's own snapshot
log (`_meta.json`/`_snapshots.json`) drives its commits; every commit
also writes metadata following the PUBLIC Apache Iceberg table spec
(https://iceberg.apache.org/spec/ — field names, layout and the
filesystem-table `version-hint.text` convention):

    <table>/metadata/v<N>.metadata.json             table metadata (spec §Table Metadata)
    <table>/metadata/snap-<id>-manifest-list.avro   one manifest list per snapshot
    <table>/metadata/manifest-<dir>.avro            one manifest per data/delete dir
    <table>/metadata/version-hint.text              latest metadata version

so an independent reader can resolve the current schema (with stable
field ids), partition specs, the snapshot chain, and the exact data-file
list with record counts, sizes and column bounds — without this
engine's code. Manifest lists and manifests are Avro object-container
files (deflate codec, field-id annotated schemas) produced by the
engine's pure-stdlib Avro writer (avro_io.py, byte-validated in tests
against the independent Java Avro implementation on Spark's classpath).

Sequence numbers: a snapshot's sequence number is its snapshot id (ids
are monotonic and never reused), and a dir's is the id of the snapshot
that added it — the same numbers `dir_seqs`, `.entries` and the
equality-delete rule use, so expiry never renumbers anything.

Cost model: a commit writes O(1) metadata files — the new dirs'
manifests, the new snapshot's manifest list, vN+1 and the hint.
Manifests and manifest lists are immutable and written once; earlier
lists are never rewritten. Everything is built driver-side from footer
stats CACHED at write time (per-dir .stats.json sidecars) — no data
reads, no Spark job.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import re
import struct
import urllib.parse
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

from minio_iceberg_polaris_lakehouse_spark import avro_io, fsio
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import _date_days, _ts_micros
from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    DIR_STATS_FILE,
    Table,
    _atomic_write_json,
    _load_dir_stats,
    _parquet_footer_stats,
)

_PRIMITIVES: dict[str, str] = {
    "integer": "int",
    "long": "long",
    "short": "int",
    "byte": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",  # Spark TimestampType is tz-adjusted
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _iceberg_type(dt: T.DataType, next_id: list[int]):
    """Spark type → Iceberg spec type (JSON form). Nested types allocate
    element/field ids from the shared counter, per the spec."""
    name = dt.typeName()
    if name in _PRIMITIVES:
        return _PRIMITIVES[name]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        next_id[0] += 1
        eid = next_id[0]
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        next_id[0] += 2
        kid, vid = next_id[0] - 1, next_id[0]
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            next_id[0] += 1
            fields.append(
                {
                    "id": next_id[0],
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    raise ValueError(f"no Iceberg mapping for Spark type {dt.simpleString()}")


def _transform_name(transform: str) -> str:
    """Engine transform string → Iceberg spec transform name
    (bucket<N> → bucket[N], truncate<N> → truncate[N])."""
    if transform in ("identity", "day", "month", "year", "hour"):
        return transform
    for prefix in ("bucket", "truncate"):
        if transform.startswith(prefix) and transform[len(prefix) :].isdigit():
            return f"{prefix}[{int(transform[len(prefix):])}]"
    return transform


def _default_json(lit: str, dtype: T.DataType):
    """A column's DEFAULT SQL literal as the Iceberg v3 JSON
    single-value form: numbers as numbers, strings unquoted, booleans as
    booleans, decimals as their exact string form (JSON floats would
    drop scale), date/timestamp literals as their ISO strings."""
    s = lit.strip()
    typed = re.fullmatch(r"(?is)(?:DATE|TIMESTAMP(?:_NTZ|_LTZ)?)\s*('.*')", s)
    if typed:  # DATE '2024-01-01' → its ISO string
        s = typed.group(1)
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        s = s[1:-1]
    if isinstance(dtype, T.BooleanType):
        return s.lower() == "true"
    if isinstance(dtype, T.DecimalType):
        return s
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(s)
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(s)
    return s


def _schema_json(meta: dict, schema_id: int, schema: T.StructType) -> dict:
    ids = meta.get("column_ids", {})
    defaults = meta.get("column_defaults", {})
    write_defaults = meta.get("column_write_defaults", {})
    last = int(meta.get("last_column_id", len(schema.fields)))
    counter = [last]
    fields = []
    for i, f in enumerate(schema.fields):
        rec = {
            "id": int(ids.get(f.name, i + 1)),
            "name": f.name,
            "required": not f.nullable,
            "type": _iceberg_type(f.dataType, counter),
        }
        if f.name in defaults:
            # Iceberg v3 default values: external readers backfill
            # pre-evolution files with initial-default and writers fill
            # omitted columns with write-default — the same contract the
            # engine honors internally (warehouse.Table.add_column)
            rec["initial-default"] = _default_json(defaults[f.name], f.dataType)
        wd = write_defaults[f.name] if f.name in write_defaults else defaults.get(f.name)
        if wd is not None:
            rec["write-default"] = _default_json(wd, f.dataType)
        fields.append(rec)
    out = {"type": "struct", "schema-id": schema_id, "fields": fields}
    ident = meta.get("identifier_fields") or []
    if ident:
        # Iceberg schema identifier-field-ids: the declared row-identity
        # key (what upsert()/CDC writers key equality deletes on)
        out["identifier-field-ids"] = [
            int(ids.get(c, schema.fieldNames().index(c) + 1)) for c in ident
        ]
    return out


def _partition_specs(meta: dict, ids: dict) -> list[dict]:
    specs = []
    history = meta.get("spec_history") or [meta["partition"]]
    for spec_id, spec in enumerate(history):
        fields = []
        if spec.get("source") is not None:
            transform = _transform_name(spec.get("transform", "identity"))
            fields.append(
                {
                    "name": f"_p_{spec.get('transform', 'identity')}_{spec['source']}",
                    "transform": transform,
                    "source-id": int(ids.get(spec["source"], 0)),
                    "field-id": 1000 + spec_id,
                }
            )
        specs.append({"spec-id": spec_id, "fields": fields})
    return specs


# ---------------------------------------------------------------------------
# Avro manifest / manifest-list layer (Iceberg spec §Manifests, §Manifest
# Lists — schemas carry the spec's field-ids so id-based schema resolution
# works in real readers)
# ---------------------------------------------------------------------------
_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        {
            # spec field 507: per-partition-field value summaries — what
            # lets a reader skip a WHOLE manifest (and its avro open)
            # when the predicate provably excludes its value range
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "element-id": 508,
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {
                                "name": "contains_null",
                                "type": "boolean",
                                "field-id": 509,
                            },
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "default": None,
                                "field-id": 518,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 510,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 511,
                            },
                        ],
                    },
                },
            ],
            "default": None,
            "field-id": 507,
        },
    ],
}

# identity-transform partition values: Spark type name -> Avro schema
_AVRO_IDENTITY = {
    "integer": "int",
    "long": "long",
    "short": "int",
    "byte": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": {"type": "int", "logicalType": "date"},
}
def _avro_transform_type(transform: str, meta: dict, source: str) -> object:
    """Avro type of a derived partition value. truncate keeps the source's
    type (string fallback when the source was dropped — values parse from
    the hive path anyway)."""
    if transform == "day":
        return {"type": "int", "logicalType": "date"}
    if transform in ("month", "hour"):
        # spec partition-space values: months / hours from epoch as int
        # (the engine's hive paths encode yyyy-MM / yyyy-MM-dd-HH;
        # _partition_value converts by field-name prefix)
        return "int"
    if transform == "year" or transform.startswith("bucket"):
        return "int"
    if transform.startswith("truncate"):
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        if source in schema.fieldNames():
            return _AVRO_IDENTITY.get(schema[source].dataType.typeName(), "string")
    return "string"


def _bound_bytes(v, avro_type) -> bytes | None:
    """Iceberg single-value serialization (spec Appendix D) of a
    partition value (Avro type) or a data file's column bound (Iceberg
    type; footer stats carry dates, timestamps and decimals as strings).
    None when the value has no safe encoding — the bound is then left
    out, which only costs pruning."""
    if v is None:
        return None
    t = avro_type.get("type") if isinstance(avro_type, dict) else str(avro_type)
    try:
        if t == "int":
            return struct.pack("<i", int(v))
        if t == "long":
            return struct.pack("<q", int(v))
        if t in ("float", "double"):
            f = float(v)
            if f != f:  # NaN is never a bound
                return None
            return struct.pack("<f" if t == "float" else "<d", f)
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t == "string":
            return str(v).encode("utf-8")
        if t == "date":
            days = v if isinstance(v, int) else _date_days(str(v))
            return None if days is None else struct.pack("<i", days)
        if t in ("timestamptz", "timestamp"):
            # a timestamptz bound must name its instant, a timestamp
            # (no zone) bound must not: anything else is ambiguous
            if (datetime.datetime.fromisoformat(str(v)).tzinfo is not None) != (t == "timestamptz"):
                return None
            return struct.pack("<q", _ts_micros(str(v)))
        if t.startswith("decimal("):
            scale = int(t[len("decimal(") : -1].split(",")[1])
            unscaled = decimal.Decimal(str(v)).scaleb(scale)
            if unscaled != unscaled.to_integral_value():
                return None
            n = int(unscaled)  # minimal big-endian two's complement
            return n.to_bytes((n + (n < 0)).bit_length() // 8 + 1, "big", signed=True)
    except (ValueError, TypeError, IndexError, struct.error, decimal.InvalidOperation):
        return None
    return None


def _column_bounds(iceberg_schema: dict, files: list[dict]) -> list[tuple[list, list]]:
    """Per data file, the manifest entry's lower_bounds / upper_bounds
    (fields 125/128): footer [min, max] keyed by the field id the
    manifest's own schema gives the file's column name, in that field's
    single-value encoding. Nested, binary and uuid columns carry none."""
    fields = {
        f["name"]: (int(f["id"]), f["type"])
        for f in iceberg_schema["fields"]
        if isinstance(f["type"], str) and f["type"] not in ("binary", "uuid")
    }
    out = []
    for f in files:
        lower, upper = [], []
        for name, (lo, hi) in (f.get("bounds") or {}).items():
            if name not in fields:
                continue
            fid, t = fields[name]
            lo_b, hi_b = _bound_bytes(lo, t), _bound_bytes(hi, t)
            if lo_b is not None and hi_b is not None:
                lower.append({"key": fid, "value": lo_b})
                upper.append({"key": fid, "value": hi_b})
        out.append((lower, upper))
    return out


def _is_utcish_tz(tz) -> bool:
    """True when a dir's recorded write-session zone is UTC (or unset —
    zone-free transforms / legacy dirs). Alias list shared with the
    scan-side and reader-side guards (tzones.py)."""
    from minio_iceberg_polaris_lakehouse_spark.tzones import is_utcish

    return tz is None or is_utcish(tz)


def _partition_summary(meta: dict, spec_rec: dict, files: list[dict]) -> list[dict] | None:
    """The manifest-list `partitions` field-summary list for one
    manifest's files (this engine's one-partition-field specs). Bounds
    are written only in spec byte form: a non-string source whose values
    this export string-encodes (decimal) gets none — its text order is
    not its value order."""
    part_field = _partition_avro_field(meta, spec_rec)
    if part_field is None:
        return None
    name, avro_type = part_field
    vals = [_partition_value(f["path"], name, avro_type, tz=spec_rec.get("tz")) for f in files]
    present = [v for v in vals if v is not None]
    try:
        lo, hi = (min(present), max(present)) if present else (None, None)
    except TypeError:
        lo = hi = None
    if avro_type == "string":
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        source = spec_rec.get("source")
        if source not in schema.fieldNames() or not isinstance(
            schema[source].dataType, T.StringType
        ):
            lo = hi = None
    return [
        {
            "contains_null": any(v is None for v in vals),
            "contains_nan": None,
            "lower_bound": _bound_bytes(lo, avro_type),
            "upper_bound": _bound_bytes(hi, avro_type),
        }
    ]


def _partition_avro_field(meta: dict, spec: dict) -> tuple[str, object] | None:
    """(field_name, avro_type) for a dir's partition column, or None for
    unpartitioned specs. Sources dropped from the current schema fall back
    to string (values parse from the hive path anyway)."""
    source = spec.get("source")
    if source is None:
        return None
    transform = spec.get("transform", "identity")
    name = f"_p_{transform}_{source}"
    if transform != "identity":
        return name, _avro_transform_type(transform, meta, source)
    schema = T.StructType.fromJson(json.loads(meta["schema"]))
    if source in schema.fieldNames():
        return name, _AVRO_IDENTITY.get(schema[source].dataType.typeName(), "string")
    return name, "string"


def _partition_value(rel_path: str, field_name: str, avro_type, tz=None) -> object:
    """Decode the hive-style partition value embedded in a data file's
    relative path (``_p_day_ts=2024-11-25/part-….parquet``) to the typed
    Avro datum. Unparseable / __HIVE_DEFAULT_PARTITION__ → None.

    ``tz`` is the dir's recorded write-session zone (warehouse spec_rec
    'tz'): the spec defines temporal transforms over UTC micros, but the
    engine's hive dirs extract calendar fields in the write session's
    zone. A non-UTC temporal dir genuinely straddles two UTC
    day/hour/month buckets, so NO single spec value is correct for its
    files — export NULL (spec 'unknown': consumers keep the file and
    filter rows) instead of a shifted value a compliant reader would
    prune wrongly on (row loss in ANY spec-following engine)."""
    if not _is_utcish_tz(tz) and any(
        field_name.startswith(p) for p in ("_p_day_", "_p_month_", "_p_year_", "_p_hour_")
    ):
        return None
    for part in rel_path.split(os.sep)[:-1]:
        if "=" not in part:
            continue
        k, _, raw = part.partition("=")
        if k != field_name:
            continue
        val = urllib.parse.unquote(raw)
        if val == "__HIVE_DEFAULT_PARTITION__":
            return None
        try:
            if isinstance(avro_type, dict) and avro_type.get("logicalType") == "date":
                return (datetime.date.fromisoformat(val) - datetime.date(1970, 1, 1)).days
            # spec partition-space conversions for the engine's
            # string-encoded hive paths (field name carries the transform)
            if field_name.startswith("_p_month_"):
                y, m = val.split("-", 1)
                return (int(y) - 1970) * 12 + int(m) - 1
            if field_name.startswith("_p_hour_"):
                y, m, d, h = val.split("-")
                ts = datetime.datetime(int(y), int(m), int(d), int(h), tzinfo=datetime.timezone.utc)
                return int(ts.timestamp()) // 3600
            if avro_type == "int" or avro_type == "long":
                return int(val)
            if avro_type == "double" or avro_type == "float":
                return float(val)
            if avro_type == "boolean":
                return val.lower() == "true"
            return val
        except ValueError:
            return None
    return None


def _bounds_field(name: str, field_id: int) -> dict:
    kv = {
        "type": "record",
        "name": f"k{field_id + 1}_v{field_id + 2}",
        "fields": [
            {"name": "key", "type": "int", "field-id": field_id + 1},
            {"name": "value", "type": "bytes", "field-id": field_id + 2},
        ],
    }
    return {
        "name": name,
        "type": ["null", {"type": "array", "logicalType": "map", "items": kv}],
        "default": None,
        "field-id": field_id,
    }


def _manifest_entry_schema(partition_field) -> dict:
    """Entry schema with the partition record's fields. Accepts the
    engine's single ``(name, avro_type)`` tuple (field-id 1000, its own
    spec convention) or a list of ``(name, avro_type, field_id)`` for
    foreign specs with several fields / explicit ids."""
    part_fields = []
    if partition_field is not None:
        triples = (
            partition_field
            if isinstance(partition_field, list)
            else [(partition_field[0], partition_field[1], 1000)]
        )
        for name, avro_type, fid in triples:
            part_fields.append(
                {"name": name, "type": ["null", avro_type], "default": None, "field-id": fid}
            )
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {"type": "record", "name": "r102", "fields": part_fields},
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        # per-column footer [min, max] (spec fields 125/128,
                        # maps from field id to single-value bytes, written
                        # as Avro k/v record arrays): what a reader's file
                        # pruning compares predicates against
                        _bounds_field("lower_bounds", 125),
                        _bounds_field("upper_bounds", 128),
                        {
                            # Iceberg v2 equality_ids (field-id 135): the
                            # schema field ids an EQUALITY_DELETES file
                            # (content=2) keys on; null for data and
                            # positional-delete files. Absent from a
                            # record dict → encodes the null branch, so
                            # every existing write site is unaffected.
                            "name": "equality_ids",
                            "type": [
                                "null",
                                {"type": "array", "items": "int", "element-id": 136},
                            ],
                            "default": None,
                            "field-id": 135,
                        },
                        {
                            # Iceberg v3 deletion vectors (spec
                            # §Deletion Vectors): a content=1 entry whose
                            # file_path is a PUFFIN file carries the data
                            # file its DV tombstones (field-id 143) and
                            # the blob's byte range within the Puffin
                            # container (144/145). Null for parquet
                            # positional-delete files and data files —
                            # absent keys encode the null branch, so v2
                            # write sites are unaffected.
                            "name": "referenced_data_file",
                            "type": ["null", "string"],
                            "default": None,
                            "field-id": 143,
                        },
                        {
                            "name": "content_offset",
                            "type": ["null", "long"],
                            "default": None,
                            "field-id": 144,
                        },
                        {
                            "name": "content_size_in_bytes",
                            "type": ["null", "long"],
                            "default": None,
                            "field-id": 145,
                        },
                        {
                            # Iceberg v3 row lineage (field-id 142): the
                            # first row id assigned to this data file —
                            # the only place the export records it. Null
                            # for delete files and pre-lineage commits.
                            "name": "first_row_id",
                            "type": ["null", "long"],
                            "default": None,
                            "field-id": 142,
                        },
                    ],
                },
            },
        ],
    }


def _name_as_written(table: Table, meta: dict, dirname: str, iceberg_schema: dict) -> None:
    """Give each field the name the dir's files carry it under. A
    manifest first written after a RENAME COLUMN (its commit's export
    failed) must still name its files' columns, or readers NULL them;
    the rename chain resolves as the engine's own reads do (_dir_frames)."""
    current = {f["name"] for f in iceberg_schema["fields"]}
    as_written = {}
    for w in table._dir_columns(dirname, meta) or []:
        n = w
        for r in meta["renames"]:
            if n in current:
                break
            if n == r["from"]:
                n = r["to"]
        as_written[n] = w
    for f in iceberg_schema["fields"]:
        f["name"] = as_written.get(f["name"], f["name"])


def _write_manifest_avro(
    table: Table,
    meta: dict,
    dirname: str,
    files: list[dict],
    seq: int,
    spec_rec: dict,
    content: int = 0,
) -> str:
    """One immutable Avro manifest per data directory (written once;
    manifests are content-addressed by dir, which is itself immutable).
    ``seq`` is the dir's sequence number, which is also the id of the
    snapshot that added it. ``content`` is the Iceberg v2 file-content
    code: 0 = DATA, 1 = POSITION_DELETES (merge-on-read tombstone
    files)."""
    mdir = os.path.join(table.path, "metadata")
    path = os.path.join(mdir, f"manifest-{dirname}.avro")
    if fsio.isfile(path):
        return path
    part_field = _partition_avro_field(meta, spec_rec)
    schema = _manifest_entry_schema(part_field)
    # v3 row lineage IN the Avro records (field-id 142): per data file,
    # the dir's commit-assigned base + its row-count offset in canonical
    # path order; readers derive `_row_id` as first row id + position
    first_ids: dict[str, int] = {}
    row_base = meta.get("dir_row_ids", {}).get(dirname) if content == 0 else None
    if row_base is not None:
        off = 0
        for f in sorted(files, key=lambda r: r["path"]):
            first_ids[f["path"]] = int(row_base) + off
            off += int(f.get("rows", 0))
    ids = meta.get("column_ids", {})
    iceberg_schema = _schema_json(meta, 0, T.StructType.fromJson(json.loads(meta["schema"])))
    if content == 0 and meta.get("renames"):
        _name_as_written(table, meta, dirname, iceberg_schema)
    bounds = _column_bounds(iceberg_schema, files) if content == 0 else [([], [])] * len(files)
    records = []
    for f, (lower, upper) in zip(files, bounds):
        partition: dict[str, object] = {}
        if part_field is not None:
            partition[part_field[0]] = _partition_value(
                f["path"], part_field[0], part_field[1], tz=spec_rec.get("tz")
            )
        records.append(
            {
                "status": 1,  # ADDED (in its adding snapshot)
                "snapshot_id": seq,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": content,
                    "file_path": os.path.join(table.path, dirname, f["path"]),
                    "file_format": "PARQUET",
                    "partition": partition,
                    "record_count": f["rows"],
                    "file_size_in_bytes": f["bytes"],
                    "lower_bounds": lower or None,
                    "upper_bounds": upper or None,
                    **(
                        {"first_row_id": first_ids[f["path"]]}
                        if f["path"] in first_ids
                        else {}
                    ),
                },
            }
        )
    specs = _partition_specs(meta, ids)
    sid = min(int(spec_rec.get("spec_id", 0)), len(specs) - 1)
    avro_io.write_container(
        path,
        schema,
        records,
        metadata={
            "schema": json.dumps(iceberg_schema),
            "partition-spec": json.dumps(specs[sid]["fields"]),
            "partition-spec-id": str(sid),
            "format-version": "2",
            "content": "data" if content == 0 else "deletes",
        },
    )
    return path


def _compile_eq_deletes(table: Table, meta: dict, snap: dict) -> str | None:
    """Compile a snapshot's live EQUALITY deletes into a POSITIONAL
    delete parquet dir (Iceberg v2 `(file_path, pos)` schema) so the
    export carries only content=0/1 manifests any v2 reader understands —
    without this, an external reader would see equality-deleted keys as
    live rows, breaking the open-format promise the reference is built on
    (reference README.md:169-178).

    Honors sequence numbers by construction: the semi-join keeps only
    rows whose data sequence PREDATES the delete's (`_seq < rec.seq`),
    so re-inserted keys are never tombstoned — the applicability rule is
    baked into the emitted positions, making the compiled file valid
    under any reader's sequence handling.

    Cost: one Spark job per DISTINCT (eq-delete set, affected dirs)
    fingerprint — the output dir is content-addressed and immutable, so
    the every-commit export path reuses it for free (appends after the
    delete change neither term: new dirs carry higher sequences). The
    job itself is the same broadcast semi-join shape as the engine's own
    eq-delete read path: O(data scanned once), delete keys broadcast."""
    eq_recs = snap.get("eq_deletes", [])
    if not eq_recs:
        return None
    seqs = table._dir_seqs()
    max_seq = max(int(r["seq"]) for r in eq_recs)
    affected = sorted(d for d in snap["manifest"] if int(seqs.get(d, 1)) < max_seq)
    if not affected:
        return None
    fp = hashlib.sha1(
        json.dumps(
            {
                "eq": sorted((r["dir"], int(r["seq"]), list(r["cols"])) for r in eq_recs),
                "dirs": affected,
            },
            sort_keys=True,
        ).encode()
    ).hexdigest()[:12]
    dirname = f"eqpos-{fp}"  # no data-/delete- prefix: GC never touches it
    out = os.path.join(table.path, dirname)
    if fsio.isfile(os.path.join(out, DIR_STATS_FILE)):
        return dirname
    schema = T.StructType.fromJson(json.loads(snap.get("schema") or meta["schema"]))
    df = table._read_dirs(snap["manifest"], schema, file_pos=True, seq_of=seqs)
    matched = None
    for rec in eq_recs:
        m = df.join(
            F.broadcast(table._eq_key_frame(rec)), table._eq_match_cond(df, rec), "left_semi"
        )
        matched = m if matched is None else matched.unionByName(m)
    hits = (
        matched
        # plain absolute path, byte-identical to the manifests' file_path
        # (Spark's _metadata.file_path is a file: URI)
        .select(
            F.regexp_replace(F.col("_file"), "^file:(//)?", "").alias("file_path"),
            F.col("_pos").alias("pos"),
        )
        .dropDuplicates(["file_path", "pos"])
        # the spec requires position-delete rows sorted by (file_path, pos)
        .orderBy("file_path", "pos")
        .coalesce(1)
    )
    # Crash-safe publish: build the dir (parquet + stats sidecar) at a
    # temp path, then rename into place. The sidecar's presence is the
    # completeness marker checked above, so a dir at the final path is
    # always whole; a half-written leftover from a crash between the
    # parquet write and the sidecar (which would make every later export
    # — and hence every commit — fail with 'path already exists') is
    # detected by its missing sidecar and replaced.
    tmp = os.path.join(table.path, f".{dirname}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    hits.write.option("compression", "zstd").parquet(tmp)
    # deterministic file names: the dir's content is a pure function of
    # its fingerprint (hits are globally sorted and coalesced), so naming
    # the parts by index makes a rebuilt dir path-identical to the
    # original — already-exported immutable manifests that recorded the
    # old file path stay valid after a self-heal
    for i, f in enumerate(sorted(p for p in fsio.listdir(tmp) if p.endswith(".parquet"))):
        fsio.rename(os.path.join(tmp, f), os.path.join(tmp, f"eqpos-{i:05d}.parquet"))
    for f in fsio.listdir(tmp):  # Spark job markers don't belong in the artifact
        if f == "_SUCCESS" or f.endswith(".crc"):
            fsio.remove(os.path.join(tmp, f))
    _parquet_footer_stats(tmp)
    if fsio.isdir(out):
        if fsio.isfile(os.path.join(out, DIR_STATS_FILE)):
            # a concurrent exporter published the identical fingerprint
            fsio.rmtree(tmp, ignore_errors=True)
            return dirname
        fsio.rmtree(out)  # crashed leftover without sidecar
    try:
        fsio.rename(tmp, out)
    except OSError:
        # lost a publish race: keep the winner if complete, else re-raise
        if not fsio.isfile(os.path.join(out, DIR_STATS_FILE)):
            raise
        fsio.rmtree(tmp, ignore_errors=True)
    return dirname


def _manifest_record(
    table: Table, meta: dict, snap: dict, d: str, seq: int, content: int
) -> dict:
    """The manifest-list record for dir ``d`` in ``snap``, writing the
    dir's manifest on first use. ``seq`` is the dir's sequence number,
    which is also the id of the snapshot that added it."""
    files = _load_dir_stats(table.path, d, meta)
    spec_rec = meta.get("dir_specs", {}).get(d, {"source": None, "transform": "identity", "spec_id": 0})
    mpath = _write_manifest_avro(table, meta, d, files, seq, spec_rec, content=content)
    rows = sum(f["rows"] for f in files)
    added = seq == snap["snapshot_id"]
    rec = {
        "manifest_path": mpath,
        "manifest_length": fsio.getsize(mpath),
        "partition_spec_id": int(spec_rec.get("spec_id", 0)),
        "content": content,  # 0 = DATA, 1 = POSITION_DELETES
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": seq,
        "added_files_count": len(files) if added else 0,
        "existing_files_count": 0 if added else len(files),
        "deleted_files_count": 0,
        "added_rows_count": rows if added else 0,
        "existing_rows_count": 0 if added else rows,
        "deleted_rows_count": 0,
    }
    if content == 0:
        # field 507: partition value summary — readers skip this manifest
        # (never opening its avro) when a predicate provably excludes its
        # value range
        rec["partitions"] = _partition_summary(meta, spec_rec, files)
    return rec


def write_iceberg_metadata(table: Table) -> str:
    """Export the table's current state as Iceberg-v2 metadata. Returns
    the metadata file path. Called after every commit and metadata
    change; safe to call standalone. Writes a manifest list only for a
    snapshot that has none yet (lists, like manifests, are immutable),
    then the vN+1 metadata document and the version hint. Equality
    deletes are compiled into positional delete files at export time
    (_compile_eq_deletes), so external readers see exactly the engine's
    own row set."""
    meta = table._meta()
    snaps = table._snaps()
    mains = [s for s in snaps if not s.get("branch")]
    ids = meta.get("column_ids", {})
    mdir = os.path.join(table.path, "metadata")
    fsio.makedirs(mdir, exist_ok=True)

    # distinct schemas across snapshots (dedup by json), current last
    schema_versions: list[str] = []
    for s in snaps:
        sj = s.get("schema") or meta["schema"]
        if sj not in schema_versions:
            schema_versions.append(sj)
    if meta["schema"] not in schema_versions:
        schema_versions.append(meta["schema"])
    schemas = [
        _schema_json(meta, i, T.StructType.fromJson(json.loads(sj)))
        for i, sj in enumerate(schema_versions)
    ]
    current_schema_id = schema_versions.index(meta["schema"])

    # one sequence-number rule: a dir's sequence number is the id of the
    # snapshot that added it (table meta's dir_seqs survives expiry)
    dir_seqs = meta.get("dir_seqs", {})
    snapshot_entries = []
    for s in snaps:
        sid = s["snapshot_id"]
        # equality deletes surface to external readers as a compiled
        # positional delete dir (always compiled, so a crashed build
        # self-heals); its sequence number is the newest compiled
        # delete's, above every data dir whose positions it lists
        eqpos = _compile_eq_deletes(table, meta, s)
        manifest_list = os.path.join(mdir, f"snap-{sid}-manifest-list.avro")
        if not fsio.isfile(manifest_list):
            records = [
                _manifest_record(table, meta, s, d, int(dir_seqs.get(d, sid)), 0)
                for d in s["manifest"]
            ] + [
                _manifest_record(table, meta, s, d, int(dir_seqs.get(d, sid)), 1)
                for d in s.get("delete_dirs", [])
            ]
            if eqpos:
                eq_seq = max(int(r["seq"]) for r in s["eq_deletes"])
                records.append(_manifest_record(table, meta, s, eqpos, eq_seq, 1))
            avro_io.write_container(
                manifest_list,
                _MANIFEST_LIST_SCHEMA,
                records,
                metadata={
                    "snapshot-id": str(sid),
                    "parent-snapshot-id": str(s["parent_id"]),
                    "sequence-number": str(sid),
                    "format-version": "2",
                },
            )
        schema_json = s.get("schema") or meta["schema"]
        snapshot_entries.append(
            {
                "snapshot-id": sid,
                "parent-snapshot-id": s["parent_id"],
                "sequence-number": sid,
                "timestamp-ms": s["committed_at_ms"],
                "manifest-list": manifest_list,
                "summary": {
                    "operation": (
                        s["operation"] if s["operation"] in ("append", "replace", "overwrite", "delete") else "overwrite"
                    ),
                    **{k: str(v) for k, v in s.get("summary", {}).items()},
                },
                "schema-id": schema_versions.index(schema_json),
                # Iceberg v3 row lineage (readers of v2 ignore unknown
                # fields): the first row id carved out for files this
                # commit added; absent on commits that added no data
                **(
                    {"first-row-id": int(s["first_row_id"])}
                    if s.get("first_row_id") is not None
                    else {}
                ),
            }
        )

    doc = {
        "format-version": 2,
        "table-uuid": meta.get("table_uuid", "00000000-0000-0000-0000-000000000000"),
        "location": table.path,
        # never decreases: expiry may drop the highest snapshot, but its
        # id is never reused (Table._append_snapshot)
        "last-sequence-number": max(
            [int(meta.get("last_sequence_number", 0))] + [s["snapshot_id"] for s in snaps]
        ),
        "last-updated-ms": snaps[-1]["committed_at_ms"] if snaps else meta.get("created_at_ms", 0),
        "last-column-id": int(meta.get("last_column_id", len(ids))),
        "schemas": schemas,
        "current-schema-id": current_schema_id,
        "partition-specs": _partition_specs(meta, ids),
        # position of the CURRENT spec in history, not the last index:
        # evolving back to a previously used spec (A->B->A) dedups history,
        # so current may sit at an earlier position — must agree with the
        # spec_id new data files are stamped with (Table._current_spec_id)
        "default-spec-id": table._current_spec_id(meta),
        "last-partition-id": 1000 + len(meta.get("spec_history", [0])) - 1,
        # the engine's DEFAULT bucket transform hashes with Spark's
        # murmur3 (seed 42), NOT the Iceberg-spec bucket hash — stamp
        # that so a spec-aware consumer never derives bucket predicates
        # against these partition values (read_iceberg_table's pruner
        # checks it). Tables that opted into the spec hash
        # (write.bucket-hash=iceberg-murmur3) keep their own property.
        "properties": {
            **meta.get("properties", {}),
            **(
                {"write.bucket-hash": "spark-murmur3-seed42"}
                if (
                    "write.bucket-hash" not in meta.get("properties", {})
                    and any(
                        str(s.get("transform", "")).startswith("bucket")
                        for s in (meta.get("spec_history") or [meta["partition"]])
                    )
                )
                else {}
            ),
        },
        # main's head — branch-staged (write-audit-publish) snapshots are
        # present in "snapshots" but referenced only by their named ref
        "current-snapshot-id": mains[-1]["snapshot_id"] if mains else -1,
        # v3 row-lineage counter (ignored by v2 readers): the next unused
        # row id — every committed data dir advanced it by its row count
        "next-row-id": int(meta.get("next_row_id", 0)),
        "snapshots": snapshot_entries,
        "snapshot-log": [
            {"timestamp-ms": s["committed_at_ms"], "snapshot-id": s["snapshot_id"]}
            for s in mains
        ],
        "metadata-log": [],
        # the Iceberg sort-order list: order 0 is always the unsorted
        # order; WRITE ORDERED BY publishes order 1 (identity transform,
        # asc, nulls-first — matching this engine's sortWithinPartitions
        # write clustering) and makes it the default
        "sort-orders": [{"order-id": 0, "fields": []}]
        + (
            [
                {
                    "order-id": 1,
                    "fields": [
                        {
                            "transform": "identity",
                            "source-id": int(ids.get(c, 0)),
                            "direction": "asc",
                            "null-order": "nulls-first",
                        }
                        for c in meta["sort_order"]
                    ],
                }
            ]
            if meta.get("sort_order")
            else []
        ),
        "default-sort-order-id": 1 if meta.get("sort_order") else 0,
        # Puffin statistics files (apache-datasketches-theta-v1 NDV
        # sketches written by ANALYZE) — the Iceberg-spec `statistics`
        # list, so foreign planners read this engine's stats the same
        # way they read its deletes
        "statistics": [
            e
            for e in meta.get("statistics_files", [])
            if any(s["snapshot_id"] == e["snapshot-id"] for s in snaps)
        ],
        # the spec's partition-statistics list (compute_partition_stats
        # writes the referenced Parquet file)
        "partition-statistics": [
            e
            for e in meta.get("partition_statistics_files", [])
            if any(s["snapshot_id"] == e["snapshot-id"] for s in snaps)
        ],
        "refs": {
            **(
                {"main": {"snapshot-id": mains[-1]["snapshot_id"], "type": "branch"}}
                if mains
                else {}
            ),
            **{
                name: {"snapshot-id": int(rec["snapshot_id"]), "type": rec["type"].lower()}
                for name, rec in meta.get("refs", {}).items()
            },
        },
    }
    # the next version follows the hint (the foreign writer's rule):
    # vN files are immutable history, never overwritten
    hint = os.path.join(mdir, "version-hint.text")
    try:
        version = int(fsio.read_text(hint).strip()) + 1
    except FileNotFoundError:
        version = 1
    path = os.path.join(mdir, f"v{version}.metadata.json")
    _atomic_write_json(path, doc)
    fsio.write_bytes_atomic(hint, str(version).encode(), uuid.uuid4().hex)
    return path
