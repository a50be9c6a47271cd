"""Read a standard Iceberg-v2 FILESYSTEM table from its metadata — the
consumer side of the open-format promise (reference README.md:169-178:
"any engine can read the table by walking the metadata tree").

`read_iceberg_table(spark, location)` resolves `version-hint.text` →
`vN.metadata.json` → manifest-list Avro → manifest Avros → parquet data
files, applies content=1 POSITIONAL and content=2 EQUALITY delete files
(per the Iceberg v2 sequence-number rule), and returns a plain
DataFrame — using none of the engine's private snapshot log. It reads
tables this engine exported AND any other filesystem table following
the same spec subset (v2, positional + equality deletes, identity-style
layout where logical columns live in the data files) — including
Flink/CDC-written tables, whose writers emit equality deletes. It is
also the engine's own read path: every `Table` read mode (time travel,
row lineage, metadata columns, incremental and changelog scans) is a
call into this module over the table's published metadata.

Schema evolution is resolved the way Iceberg resolves it — by FIELD ID,
not by name: each data manifest is read with the schema version its
adding snapshot recorded, then aligned to the selected snapshot's
schema by matching field ids (renames map, dropped columns disappear,
added columns NULL-fill, int→long/float→double widenings cast).

Scale: metadata walking is driver-side and O(manifests); the data read
is a normal distributed parquet scan per schema-generation (file groups
union after alignment). Positional-delete application is an anti-join
on (file path, row position) using Spark's `_metadata.row_index`;
equality-delete application is a null-safe anti-join on the delete
file's `equality_ids` columns gated by `data_seq < delete_seq` (so a
key re-inserted AFTER the delete survives). Both join the broadcast
tombstone side — delete files are metadata-sized next to the data they
tombstone — so neither shuffles the data.
"""

from __future__ import annotations

import json
import os
import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from minio_iceberg_polaris_lakehouse_spark import avro_io, fsio
from minio_iceberg_polaris_lakehouse_spark.session import local_frame

_PRIM_TO_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
    "binary": T.BinaryType(),
    "uuid": T.StringType(),
}

# legal Iceberg primitive-type promotions (spec §Schema Evolution)
_WIDENS = {("int", "long"), ("float", "double")}


def _is_dv_entry(data_file: dict) -> bool:
    """True for an Iceberg v3 deletion-vector entry: content=1 with a
    referenced_data_file + Puffin byte range (fields 143-145) instead of
    a parquet (file_path, pos) tombstone file."""
    return (
        data_file.get("referenced_data_file") is not None
        and data_file.get("content_offset") is not None
    )


def _dv_tombstones(spark: SparkSession, specs: list[dict]) -> DataFrame:
    """Decode deletion-vector blobs into (__file, __pos) tombstone rows.

    One executor task per blob (``mapInPandas`` over the blob index) —
    the decoded positions never pass through the driver, and at cluster
    scale each task range-reads only its own ``[offset, offset+length)``
    slice of the Puffin container (a DV is bounded by its data file's
    row count, so a task's output is at most one file's worth of
    positions). ``referenced`` paths arrive URI-normalized so they join
    ``_metadata.file_path`` exactly like parquet tombstones."""
    import pandas as pd

    spec_df = local_frame(
        spark,
        [
            (s["puffin"], int(s["offset"]), int(s["length"]), s["referenced"])
            for s in specs
        ],
        "puffin string, offset long, length long, referenced string",
    ).repartition(min(len(specs), 32))

    def _decode(batches):
        from minio_iceberg_polaris_lakehouse_spark import fsio as _fsio
        from minio_iceberg_polaris_lakehouse_spark import puffin as _puffin

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                with _fsio.open_binary(row.puffin) as fh:
                    fh.seek(int(row.offset))
                    blob = fh.read(int(row.length))
                positions = _puffin.decode_deletion_vector(blob)
                yield pd.DataFrame(
                    {"__file": row.referenced, "__pos": pd.Series(positions, dtype="int64")}
                )

    return spec_df.mapInPandas(_decode, "__file string, __pos long")


def _legal_promotion(src, tgt) -> bool:
    """True iff src -> tgt is a promotion the spec allows: int→long,
    float→double, or decimal precision growth at the same scale. Nested
    (dict) types only match exactly — handled by the == check upstream,
    so any dict pair reaching here is an illegal change."""
    if not (isinstance(src, str) and isinstance(tgt, str)):
        return False
    if (src, tgt) in _WIDENS:
        return True
    ms = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", src)
    mt = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", tgt)
    return bool(
        ms and mt and ms.group(2) == mt.group(2) and int(mt.group(1)) >= int(ms.group(1))
    )


def _spark_type(t) -> T.DataType:
    if isinstance(t, str):
        if t in _PRIM_TO_SPARK:
            return _PRIM_TO_SPARK[t]
        m = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        raise ValueError(f"unsupported Iceberg type: {t}")
    if isinstance(t, dict) and t.get("type") == "struct":
        return T.StructType(
            [
                T.StructField(f["name"], _spark_type(f["type"]), not f.get("required"))
                for f in t["fields"]
            ]
        )
    if isinstance(t, dict) and t.get("type") == "list":
        return T.ArrayType(_spark_type(t["element"]), not t.get("element-required"))
    if isinstance(t, dict) and t.get("type") == "map":
        return T.MapType(
            _spark_type(t["key"]), _spark_type(t["value"]), not t.get("value-required")
        )
    raise ValueError(f"unsupported Iceberg type: {t!r}")


def _struct(schema_json: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], _spark_type(f["type"]), not f.get("required"))
            for f in schema_json["fields"]
        ]
    )


def resolve_metadata_path(location: str) -> str:
    """Accept a table dir, a metadata dir, or a vN.metadata.json path."""
    if location.endswith(".metadata.json"):
        return location
    mdir = location if fsio.basename(location) == "metadata" else os.path.join(location, "metadata")
    hint = fsio.read_text(os.path.join(mdir, "version-hint.text")).strip()
    return os.path.join(mdir, f"v{hint}.metadata.json")


def _entry_seq(entry: dict, manifest_rec: dict) -> int:
    """Data sequence number of a manifest entry: the entry's own
    sequence_number, inheriting the manifest-list record's when null
    (Iceberg v2 metadata inheritance for status=ADDED entries); 0 for
    v1-style metadata that carries neither."""
    seq = entry.get("sequence_number")
    if seq is None:
        seq = manifest_rec.get("sequence_number")
    return int(seq) if seq is not None else 0



def _default_lit(f: dict, out_t):
    """Iceberg v3 `initial-default` as a Spark literal: the JSON
    single-value forms for primitives (numbers, strings, booleans; date/
    timestamp as their ISO-string or epoch-unit encodings) cast to the
    field's Spark type. Non-primitive defaults (struct/list/map) are not
    produced by any writer we read; fall back to NULL rather than guess."""
    v = f.get("initial-default")
    if v is None or isinstance(v, (dict, list)):
        return F.lit(None).cast(out_t)
    t = f["type"]
    if t == "date" and isinstance(v, int):
        return F.date_add(F.lit("1970-01-01").cast("date"), v)
    if isinstance(t, str) and t.startswith("timestamp") and isinstance(v, int):
        return (F.lit(v) / F.lit(1_000_000)).cast("timestamp")  # micros
    return F.lit(v).cast(out_t)


def _align_cols(file_schema: dict, target: dict) -> list:
    """Field-id schema alignment, shared by every reader path: for each
    target field, the file's column with the SAME FIELD ID is renamed to
    the target name; a missing id fills the field's v3 `initial-default`
    when declared, else NULL (column added after the file was written);
    equal types pass through; legal promotions (int→long, float→double,
    decimal precision growth) cast; anything else is metadata
    corruption, not evolution — silently casting would truncate/NULL
    data, so it raises."""
    by_fid = {f["id"]: f for f in file_schema["fields"]}
    cols = []
    for f in target["fields"]:
        src = by_fid.get(f["id"])
        out_t = _spark_type(f["type"])
        if src is None:
            cols.append(_default_lit(f, out_t).alias(f["name"]))
        elif src["type"] == f["type"]:
            cols.append(F.col(src["name"]).alias(f["name"]))
        elif _legal_promotion(src["type"], f["type"]):
            cols.append(F.col(src["name"]).cast(out_t).alias(f["name"]))
        else:
            raise ValueError(
                f"illegal type change for field id {f['id']} "
                f"({f['name']}): {src['type']!r} -> {f['type']!r}"
            )
    return cols


def _decode_bound(raw: bytes, type_str: str):
    """Inverse of Iceberg's single-value binary serialization (spec
    Appendix D) for the bound types manifests carry. Returns None for
    types this pruner doesn't compare (conservative: no skip)."""
    import struct as _st

    if not isinstance(raw, (bytes, bytearray)):
        return None
    t = str(type_str)
    try:
        if t in ("int", "date") and len(raw) == 4:
            return _st.unpack("<i", raw)[0]
        if t in ("long", "time") or t.startswith("timestamp"):
            return _st.unpack("<q", raw)[0] if len(raw) == 8 else None
        if t == "float" and len(raw) == 4:
            return _st.unpack("<f", raw)[0]
        if t == "double" and len(raw) == 8:
            return _st.unpack("<d", raw)[0]
        if t == "string":
            return raw.decode("utf-8")
        if t.startswith("decimal"):
            import decimal as _dec
            import re as _re

            m = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
            scale = int(m.group(2)) if m else 0
            unscaled = int.from_bytes(raw, "big", signed=True)
            return _dec.Decimal(unscaled).scaleb(-scale)
    except (ValueError, _st.error):
        return None
    return None


import contextvars as _contextvars

# Session timezone the CURRENT scan's predicate literals were written
# in. Spark evaluates a zone-less timestamp literal against a
# timestamptz column in spark.sql.session.timeZone, NOT UTC — a pruner
# that assumes UTC derives an instant offset from what Spark's row
# filter matches and can exclude the file holding the matching row.
# Entry points (read_iceberg_table & co) set this from the live session
# conf; pure-function callers (tests) get the UTC default.
_SESSION_TZ = _contextvars.ContextVar("iceberg_reader_session_tz", default="UTC")


def _session_zone():
    """tzinfo for _SESSION_TZ, or None when the zone name is unknown
    (conservative: callers decline to prune naive literals)."""
    import datetime as _dt

    from minio_iceberg_polaris_lakehouse_spark.tzones import is_utcish

    name = _SESSION_TZ.get()
    if is_utcish(name):
        return _dt.timezone.utc
    m = re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2}):?(\d{2})?", name)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        mins = int(m.group(2)) * 60 + int(m.group(3) or 0)
        return _dt.timezone(sign * _dt.timedelta(minutes=mins))
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(name)
    except Exception:
        return None


def _resolve_naive(d):
    """Map a NAIVE wall-clock datetime (a predicate literal on a
    timestamptz column) to the aware UTC instant Spark's row filter will
    use — via the session zone. Returns None (no pruning) for unknown
    zones and for DST-ambiguous/nonexistent wall times, where Python's
    fold disambiguation need not match Spark's."""
    import datetime as _dt

    z = _session_zone()
    if z is None:
        return None
    if z is _dt.timezone.utc:
        return d.replace(tzinfo=_dt.timezone.utc)
    a = d.replace(tzinfo=z)
    b = d.replace(tzinfo=z, fold=1)
    if a.utcoffset() != b.utcoffset():
        return None
    return a.astimezone(_dt.timezone.utc)


def _micros(d) -> int:
    """UTC epoch microseconds of an aware datetime, exactly (no float)."""
    import datetime as _dt

    delta = d - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds


def _ts_micros(s: str, session_naive: bool = False) -> int | None:
    """Parse a timestamp string (path-encoded partition value or
    predicate literal, ' ' or 'T' separator, optional offset) to UTC
    epoch micros; None when unparsable (conservative: no pruning).
    ``session_naive`` marks a PREDICATE literal on a timestamptz
    column, whose zone-less form Spark reads in the session zone —
    partition-side values stay UTC (the spec path-encodes instants)."""
    import datetime as _dt

    try:
        d = _dt.datetime.fromisoformat(s)
    except ValueError:
        return None
    if d.tzinfo is None:
        d = _resolve_naive(d) if session_naive else d.replace(tzinfo=_dt.timezone.utc)
        if d is None:
            return None
    return _micros(d)


def _date_days(s: str) -> int | None:
    import datetime as _dt

    try:
        return (_dt.date.fromisoformat(s) - _dt.date(1970, 1, 1)).days
    except ValueError:
        return None


def _object_literal(v, t: str) -> int | None:
    """Epoch days (date column) or UTC epoch micros (timestamptz column)
    of a date/datetime OBJECT predicate value, in the frame Spark gives
    its literal: PySpark turns a naive datetime into a Catalyst literal
    in the process-local zone (time.mktime), and a date compared with a
    timestamp column casts in the session zone. None (no pruning) for
    the mixed and zone-less cases."""
    import datetime as _dt

    is_dt = isinstance(v, _dt.datetime)
    if t == "date":
        return None if is_dt else (v - _dt.date(1970, 1, 1)).days
    if t != "timestamptz":
        return None
    d = v.astimezone(_dt.timezone.utc) if is_dt else _resolve_naive(
        _dt.datetime(v.year, v.month, v.day)
    )
    return None if d is None else _micros(d)


def _coerce_vals(pv, v, col_type) -> tuple | None:
    """(a, b) made comparable for pruning, or None (no pruning on this
    pair — conservative)."""
    import datetime as _dt

    if pv is None or v is None:
        return None
    if isinstance(pv, bool) or isinstance(v, bool):
        return None
    t = str(col_type)
    if isinstance(v, _dt.date):
        # a date/datetime OBJECT (the Table.scan API) → the column's
        # epoch-unit space, in the frame its Catalyst literal takes
        v = _object_literal(v, t)
        if v is None:
            return None
        if isinstance(pv, str):
            pv = _ts_micros(pv) if t.startswith("timestamp") else _date_days(pv)
        return None if not isinstance(pv, int) else (pv, v)
    if t.startswith("decimal"):
        # decimal partition values appear as path strings ('10.00'),
        # Avro-decoded Decimals, or derived-literal Decimals — compare
        # everything in exact Decimal space, never as text
        import decimal as _dec

        try:
            a = pv if isinstance(pv, _dec.Decimal) else _dec.Decimal(str(pv))
            b = v if isinstance(v, _dec.Decimal) else _dec.Decimal(str(v))
            return (a, b)
        except _dec.InvalidOperation:
            return None
    if isinstance(pv, (int, float)) and isinstance(v, (int, float)):
        return (pv, v)
    if isinstance(pv, str) and isinstance(v, str):
        # raw lexicographic comparison is only sound for STRING columns:
        # identity-partitioned timestamps path-encode as
        # '2024-01-01 10:00:00', and an equivalent literal in another
        # format ('2024-01-01T10:00:00', no-seconds) compares unequal /
        # mis-ordered AS TEXT — excluding the file that holds the
        # matching instant. Parse typed columns to their numeric space.
        if t == "string":
            return (pv, v)
        if t.startswith("timestamp"):
            # pv is the partition/bound side (UTC-encoded per spec);
            # v is the predicate literal (session-zone when naive + tz)
            a = _ts_micros(pv)
            b = _ts_micros(v, session_naive=(t == "timestamptz"))
            return None if a is None or b is None else (a, b)
        if t == "date":
            try:
                return (
                    _dt.date.fromisoformat(pv).toordinal(),
                    _dt.date.fromisoformat(v).toordinal(),
                )
            except ValueError:
                return None
        return None
    if isinstance(pv, int) and isinstance(v, str) and t == "date":
        try:
            return (pv, (_dt.date.fromisoformat(v) - _dt.date(1970, 1, 1)).days)
        except ValueError:
            return None
    if t.startswith("timestamp") and not isinstance(pv, float) and not isinstance(v, float):
        # binary-decoded manifest bounds are epoch micros (int); literals
        # and path-encoded partition values are strings — parse the
        # string side so identity-timestamp summaries prune too
        if isinstance(pv, int) and isinstance(v, str):
            b = _ts_micros(v, session_naive=(t == "timestamptz"))
            return None if b is None else (pv, b)
        if isinstance(pv, str) and isinstance(v, int):
            a = _ts_micros(pv)
            return None if a is None else (a, v)
        return None
    if isinstance(pv, str) and isinstance(v, (int, float)):
        try:  # path-encoded partition value vs numeric literal
            return (type(v)(pv), v)
        except (TypeError, ValueError):
            return None
    return None


def _transform_pred(transform: str, v, col_type) -> tuple[object, bool] | None:
    """Map a PREDICATE value into partition space under an Iceberg
    transform: returns (partition_value, monotonic) or None when the
    derivation isn't possible (conservative — no pruning). Monotonic
    transforms (day/month/year/hour/numeric truncate) also prune
    ranges; bucket prunes equality only."""
    import datetime as _dt

    t = str(col_type)

    def _as_dt(x) -> _dt.datetime | None:
        try:
            if isinstance(x, str):
                d = _dt.datetime.fromisoformat(x)
            elif isinstance(x, _dt.datetime):
                d = x
            elif isinstance(x, _dt.date):
                d = _dt.datetime(x.year, x.month, x.day)
            else:
                return None
            # Iceberg temporal transforms are defined over UTC micros:
            # an offset-bearing literal must be converted (not just
            # tagged) before its calendar fields are read, or e.g.
            # '2024-01-01T23:00:00-05:00' (UTC day 2024-01-02) maps to
            # day 19723 and prunes files holding matching rows. A NAIVE
            # literal on a timestamptz column is read by Spark in the
            # SESSION zone, not UTC — resolve it the same way (None on
            # unknown zone / ambiguous wall time → no pruning).
            if d.tzinfo is None:
                if t != "timestamptz":
                    d = d.replace(tzinfo=_dt.timezone.utc)
                elif isinstance(x, _dt.datetime):
                    d = x.astimezone(_dt.timezone.utc)  # see _object_literal
                else:
                    d = _resolve_naive(d)
                if d is None:
                    return None
            return d.astimezone(_dt.timezone.utc)
        except ValueError:
            return None

    if transform == "identity":
        return (v, True)
    if transform in ("day", "month", "year", "hour"):
        d = _as_dt(v)
        if d is None:
            return None
        if transform == "day":
            return ((d.date() - _dt.date(1970, 1, 1)).days, True)
        if transform == "month":
            return ((d.year - 1970) * 12 + d.month - 1, True)
        if transform == "year":
            return (d.year - 1970, True)
        # exact micros floor division: int(timestamp()) truncates toward
        # zero, mapping pre-1970 fractional-second instants one hour high
        return (_micros(d) // 3_600_000_000, True)
    m = re.fullmatch(r"bucket\[(\d+)\]", transform)
    if m:
        from minio_iceberg_polaris_lakehouse_spark.theta import iceberg_bucket

        vv = v
        if t.startswith("timestamp") and isinstance(v, str):
            # resolve the literal to the instant Spark's row filter will
            # match BEFORE hashing (iceberg_bucket's own string fallback
            # reads naive as UTC — wrong bucket under a non-UTC session
            # on a timestamptz column → row loss)
            vv = _ts_micros(v, session_naive=(t == "timestamptz"))
            if vv is None:
                return None
        b = iceberg_bucket(vv, int(m.group(1)), t)
        return None if b is None else (b, False)
    m = re.fullmatch(r"truncate\[(\d+)\]", transform)
    if m:
        w = int(m.group(1))
        # The COLUMN type decides the partition space, not the literal's
        # Python type: an integer SQL literal on a DECIMAL column (WHERE
        # amt = 10, parsed to int) must route through the unscaled-width
        # floor branch below — the int fast path would derive
        # 10 - 10 % 50 = 0 instead of 10.00, silently excluding the file
        # that holds the matching row.
        dm = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
        if isinstance(v, int) and not isinstance(v, bool) and dm is None:
            return (v - (v % w), True)
        if dm is not None:
            # spec: decimal truncate width applies to the UNSCALED value
            # with floor semantics (Python Decimal % keeps the dividend's
            # sign — normalize); monotone, so ranges map through
            import decimal as _dec

            try:
                dv = v if isinstance(v, _dec.Decimal) else _dec.Decimal(str(v))
            except _dec.InvalidOperation:
                return None
            step = _dec.Decimal(w).scaleb(-int(dm.group(2)))
            r = dv % step
            if r < 0:
                r += step
            return (dv - r, True)
        if isinstance(v, str):
            # string truncate keeps the W-char prefix; prefix order is
            # consistent with string order → monotonic for pruning
            return (v[:w], True)
    return None


def _bounds_exclude(lo_b, hi_b, col, t, eq, between) -> bool:
    """True iff a [lo_b, hi_b] value range provably excludes the
    eq/between predicate on ``col`` (None bounds never exclude)."""
    if eq and col in eq:
        v = eq[col]
        c = _coerce_vals(hi_b, v, t)
        if c is not None and c[0] < c[1]:
            return True  # range max < wanted value
        c = _coerce_vals(lo_b, v, t)
        if c is not None and c[0] > c[1]:
            return True  # range min > wanted value
    if between and col in between:
        lo, hi = between[col]
        if hi is not None:
            c = _coerce_vals(lo_b, hi, t)
            if c is not None and c[0] > c[1]:
                return True  # range min > predicate hi
        if lo is not None:
            c = _coerce_vals(hi_b, lo, t)
            if c is not None and c[0] < c[1]:
                return True  # range max < predicate lo
    return False


def _partition_space_type(transform: str, col_type) -> str:
    """The type partition-space values (and summary bounds) carry under
    a transform."""
    if transform == "day":
        return "date"
    if transform in ("month", "year", "hour") or transform.startswith("bucket"):
        return "int"
    return str(col_type)  # identity / truncate keep the source type


def _part_range_excl(
    lo_b, hi_b, col, col_type, transform, eq, between, bucket_ok: bool = True
) -> bool:
    """True iff a partition-space value range [lo_b, hi_b] provably
    excludes the predicate on the SOURCE column under ``transform`` —
    predicate values are mapped into partition space first (hidden
    partitioning on the consumer side); non-monotonic transforms
    (bucket) prune equality only, and ONLY when ``bucket_ok`` says the
    writer used the Iceberg-spec bucket hash (this engine's own exports
    stamp write.bucket-hash=spark-murmur3-seed42 — deriving spec
    buckets against those values would prune WRONG files)."""
    if transform.startswith("bucket") and not bucket_ok:
        return False
    if eq and col in eq:
        d = _transform_pred(transform, eq[col], col_type)
        if d is not None:
            c = _coerce_vals(hi_b, d[0], col_type)
            if c is not None and c[0] < c[1]:
                return True
            c = _coerce_vals(lo_b, d[0], col_type)
            if c is not None and c[0] > c[1]:
                return True
    if between and col in between:
        lo, hi = between[col]
        if hi is not None:
            d = _transform_pred(transform, hi, col_type)
            if d is not None and d[1]:
                c = _coerce_vals(lo_b, d[0], col_type)
                if c is not None and c[0] > c[1]:
                    return True
        if lo is not None:
            d = _transform_pred(transform, lo, col_type)
            if d is not None and d[1]:
                c = _coerce_vals(hi_b, d[0], col_type)
                if c is not None and c[0] < c[1]:
                    return True
    return False


def _bucket_hash_ok(md: dict) -> bool:
    """True iff bucket partition VALUES in this table follow the
    Iceberg-spec bucket hash: the spec requires it, so an absent stamp
    means spec-hashed; only a table stamped with another hash (this
    engine's Spark murmur3 opt-out) is not."""
    stamp = (md.get("properties") or {}).get("write.bucket-hash")
    return stamp is None or stamp == "iceberg-murmur3"


def _manifest_pruner(md: dict, target: dict, eq: dict | None, between: dict | None):
    """Build `keep(manifest_list_record) -> bool`: manifest-LIST level
    pruning from the spec's field 507 `partitions` summaries — a DATA
    manifest whose partition value range provably excludes the
    predicate (after mapping predicate values through the partition
    TRANSFORM: identity/day/month/year/hour/bucket/truncate) is skipped
    WITHOUT opening its Avro (planning cost O(matching manifests), the
    first level of Iceberg's two-level scan planning). Delete manifests
    and manifests without summaries are always kept."""
    if not eq and not between:
        return None
    specs = {s["spec-id"]: s.get("fields", []) for s in md.get("partition-specs", [])}
    by_id = {int(f["id"]): f["name"] for f in target.get("fields", [])}
    type_by_name = {f["name"]: f["type"] for f in target.get("fields", [])}
    pred_cols = set(eq or ()) | set(between or ())
    bucket_ok = _bucket_hash_ok(md)

    def keep(m: dict) -> bool:
        if m.get("content") == 1:
            return True
        summaries = m.get("partitions")
        if not summaries:
            return True
        fields = specs.get(int(m.get("partition_spec_id", 0)), [])
        for f, s in zip(fields, summaries):
            if not isinstance(s, dict):
                continue
            col = by_id.get(int(f.get("source-id", -1)))
            if col is None or col not in pred_cols:
                continue
            tr = f.get("transform", "identity")
            ct = type_by_name.get(col)
            bt = _partition_space_type(tr, ct)
            lo_b = (
                _decode_bound(s["lower_bound"], bt)
                if s.get("lower_bound") is not None
                else None
            )
            hi_b = (
                _decode_bound(s["upper_bound"], bt)
                if s.get("upper_bound") is not None
                else None
            )
            if _part_range_excl(lo_b, hi_b, col, ct, tr, eq, between, bucket_ok):
                return False
        return True

    return keep


def _bloom_positions_py(h: int, bits: int, k: int) -> list[int]:
    """Driver-side replay of the Kirsch-Mitzenmacher probe positions the
    index build computes JVM-side (functions/bloom.py arithmetic): h is
    the signed-64 xxhash64 of the probe literal."""
    h1 = (h & 0xFFFFFFFFFFFFFFFF) >> 33
    h2 = (h & 0x7FFFFFFF) | 1
    return [(h1 + i * h2) % bits for i in range(k)]


def _bloom_probes(spark, mdir: str, target: dict, eq: dict | None) -> list[tuple[dict, list[int]]]:
    """(per-file bitsets, probe positions) for each equality column with
    a `bloom_idx_<col>.json` index (CALL system.build_bloom_index) in the
    metadata dir. The literals are hashed by the same JVM xxhash64 the
    build used, over a LocalRelation, so the probe runs no Spark job."""
    types = {f["name"]: f["type"] for f in target["fields"]}
    found = []
    for col, v in (eq or {}).items():
        p = os.path.join(mdir, f"bloom_idx_{col}.json")
        if v is None or col not in types or not fsio.exists(p):
            continue
        try:
            payload = json.loads(fsio.read_text(p))
        except (OSError, ValueError):
            continue
        if payload.get("column") == col:
            found.append((payload, F.xxhash64(F.lit(v).cast(_spark_type(types[col])))))
    if not found:
        return []
    hashes = local_frame(spark, [(0,)], "x int").select(*[h for _p, h in found]).collect()[0]
    return [
        (payload["files"], _bloom_positions_py(h, payload["bits"], payload["k"]))
        for (payload, _c), h in zip(found, hashes)
    ]


def _file_pruner(
    md: dict,
    target: dict,
    eq: dict | None,
    between: dict | None,
    bloom: list[tuple[dict, list[int]]] = (),
):
    """Build `keep(spec_id, data_file) -> bool` for manifest-level file
    pruning over open metadata: PARTITION VALUES (predicates mapped
    through the partition transform — hidden partitioning), per-column
    lower/upper BOUNDS when the manifest carries them, and ``bloom``
    probes (_bloom_probes; keyed by the file's path under the table
    location). Conservative everywhere — incomparable, absent, or null
    values keep the file; only a provable exclusion (or an empty file)
    skips. Returns None when there is nothing to prune on."""
    if not eq and not between:
        return None

    specs = {s["spec-id"]: s.get("fields", []) for s in md.get("partition-specs", [])}
    by_id = {int(f["id"]): f["name"] for f in target.get("fields", [])}
    type_by_name = {f["name"]: f["type"] for f in target.get("fields", [])}
    type_by_id = {int(f["id"]): f["type"] for f in target.get("fields", [])}
    bucket_ok = _bucket_hash_ok(md)
    root = re.sub(r"^file:(//)?", "", md.get("location") or "/")

    def bound_map(raw) -> dict[int, bytes]:
        if isinstance(raw, dict):
            return {int(k): v for k, v in raw.items()}
        if isinstance(raw, list):  # avro k/v record array form
            return {
                int(r["key"]): r["value"]
                for r in raw
                if isinstance(r, dict) and "key" in r and "value" in r
            }
        return {}

    def bloom_keeps(path: str) -> bool:
        key = os.path.normpath(os.path.relpath(re.sub(r"^file:(//)?", "", path), root))
        for files, positions in bloom:
            words = files.get(key)  # no entry (written after the build): keep
            if words is not None and not all(
                words.get(str(pos >> 6), 0) & (1 << (pos & 63)) for pos in positions
            ):
                return False
        return True

    pred_cols = set(eq or ()) | set(between or ())

    def keep(spec_id: int, data_file: dict) -> bool:
        if data_file.get("record_count") == 0:
            return False
        part = data_file.get("partition")
        if isinstance(part, dict):
            for f in specs.get(spec_id, []):
                col = by_id.get(int(f.get("source-id", -1)))
                if col is None or col not in pred_cols:
                    continue
                pv = part.get(f["name"])
                if pv is None:
                    continue
                tr = f.get("transform", "identity")
                # a single partition value is a degenerate [pv, pv]
                # range — the transform-aware exclusion covers identity,
                # day/month/year/hour, bucket (eq only), and truncate
                if _part_range_excl(
                    pv, pv, col, type_by_name.get(col), tr, eq, between, bucket_ok
                ):
                    return False
        lbs = bound_map(data_file.get("lower_bounds"))
        ubs = bound_map(data_file.get("upper_bounds"))
        for fid in set(lbs) | set(ubs):
            col = by_id.get(fid)
            if col is None or col not in pred_cols:
                continue
            t = type_by_id.get(fid)
            lo_b = _decode_bound(lbs[fid], t) if fid in lbs else None
            hi_b = _decode_bound(ubs[fid], t) if fid in ubs else None
            if _bounds_exclude(lo_b, hi_b, col, t, eq, between):
                return False
        return not bloom or bloom_keeps(data_file["file_path"])

    return keep


def _norm(path: str) -> str:
    """Plain filesystem form of a path or `file:` URI — the one form data
    files, tombstones and `_metadata.file_path` are compared in."""
    return re.sub(r"^file:(//)?", "", path)


def _select_snapshot(
    md: dict, location: str, snapshot_id: int | None, as_of_ms: int | None, ref: str | None
) -> dict | None:
    """The snapshot a read selects: a ref's head, a snapshot id, the
    main-lineage snapshot current at ``as_of_ms``, else the current one
    (None for a table never committed to)."""
    snaps = md.get("snapshots", [])
    if ref is not None:
        if snapshot_id is not None or as_of_ms is not None:
            raise ValueError("ref is exclusive with snapshot_id/as_of_ms")
        rec = (md.get("refs") or {}).get(ref)
        if rec is None:
            raise ValueError(f"no branch or tag {ref!r} at {location}")
        snapshot_id = int(rec["snapshot-id"])
    if snapshot_id is None and as_of_ms is not None:
        # timestamp time travel resolves over the snapshot-log — when
        # each snapshot became main's head. A snapshot staged on a branch
        # (write-audit-publish) is in `snapshots` but not in the log, so
        # it stays invisible to timestamp reads until it is published
        log = md.get("snapshot-log") or [
            {"timestamp-ms": s["timestamp-ms"], "snapshot-id": s["snapshot-id"]} for s in snaps
        ]
        older = sorted(
            (e for e in log if e["timestamp-ms"] <= as_of_ms), key=lambda e: e["timestamp-ms"]
        )
        if not older:
            raise ValueError(f"no snapshot at or before {as_of_ms} at {location}")
        snapshot_id = int(older[-1]["snapshot-id"])
    if snapshot_id is not None:
        snap = next((s for s in snaps if s["snapshot-id"] == snapshot_id), None)
        if snap is None:
            raise ValueError(f"no snapshot {snapshot_id} at {location}")
        return snap
    cur = md.get("current-snapshot-id")
    return next((s for s in snaps if s["snapshot-id"] == cur), None)


def _schema_at(md: dict, snap: dict | None) -> dict:
    """The schema a snapshot recorded (the current one when ``snap`` is
    None): time travel projects the snapshot's columns."""
    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    sid = md["current-schema-id"]
    if snap is not None:
        sid = snap.get("schema-id", sid)
    return schemas[sid]


class _Plan(NamedTuple):
    """One snapshot's files, from its manifests. ``data`` entries are
    dicts: `path` (as the manifest records it), `file` (_norm'd),
    `schema` (the generation the file was written under) and its `skey`,
    `seq` (data sequence number), `spec_id`, `partition` (the manifest's
    partition tuple) and `first_row_id` (v3 lineage, or None)."""

    data: list
    pos_deletes: list  # parquet (file_path, pos) tombstone files
    dvs: list  # v3 deletion vectors: {puffin, offset, length, referenced}
    eq_deletes: list  # {path, ids, seq, schema}


_NO_FILES = _Plan([], [], [], [])


def _plan(
    md: dict,
    snap: dict | None,
    target: dict,
    keep_manifest=None,
    keep_file=None,
    cache: dict | None = None,
) -> _Plan:
    """Walk ``snap``'s manifest list and manifests (driver-side,
    O(manifests)). ``keep_manifest`` / ``keep_file`` prune data manifests
    and data files (delete files are never pruned: a tombstone for a
    pruned file simply matches nothing). ``cache`` shares decoded
    manifests across the snapshots of one changelog walk — manifests
    are immutable."""
    if snap is None:
        return _NO_FILES
    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    # schema version each snapshot wrote under — the fallback for
    # manifests without an embedded schema
    schema_of_snap = {
        s["snapshot-id"]: s.get("schema-id", target.get("schema-id"))
        for s in md.get("snapshots", [])
    }
    plan = _Plan([], [], [], [])
    _s, _m, manifests = avro_io.read_container(snap["manifest-list"])
    for m in manifests:
        if keep_manifest is not None and not keep_manifest(m):
            continue
        path = m["manifest_path"]
        if cache is not None and path in cache:
            m2, entries = cache[path]
        else:
            _s2, m2, entries = avro_io.read_container(path)
            if cache is not None:
                cache[path] = (m2, entries)
        # status 2 = DELETED: the entry records a file REMOVED by this
        # snapshot lineage — reading it would resurrect deleted rows
        live = [e for e in entries if e.get("status") != 2]
        # data files group by the SCHEMA THEY WERE WRITTEN WITH: the
        # manifest's own embedded schema (immutable, written with it);
        # the adding snapshot's schema only when absent — expiry can
        # drop that snapshot while its manifest stays referenced
        emb = m2.get("schema")
        if emb is not None:
            fschema = json.loads(emb.decode() if isinstance(emb, bytes) else emb)
        else:
            fschema = schemas.get(schema_of_snap.get(m["added_snapshot_id"]), target)
        if m["content"] == 1:
            for e in live:
                f = e["data_file"]
                if f.get("content") == 2:
                    ids = f.get("equality_ids")
                    if not ids:
                        raise ValueError(
                            f"equality-delete file without equality_ids in {path} — "
                            "cannot apply; silently ignoring it would return deleted rows"
                        )
                    plan.eq_deletes.append(
                        {
                            "path": f["file_path"],
                            "ids": list(ids),
                            "seq": _entry_seq(e, m),
                            "schema": fschema,
                        }
                    )
                elif _is_dv_entry(f):
                    plan.dvs.append(
                        {
                            "puffin": f["file_path"],
                            "offset": int(f["content_offset"]),
                            "length": int(f["content_size_in_bytes"]),
                            "referenced": _norm(f["referenced_data_file"]),
                        }
                    )
                elif (f.get("file_format") or "").upper() == "PUFFIN":
                    # a Puffin delete entry MUST carry fields 143-145
                    raise ValueError(
                        f"PUFFIN delete entry without referenced_data_file/content_offset "
                        f"in {path} — cannot apply; silently ignoring it would return "
                        "deleted rows"
                    )
                else:
                    plan.pos_deletes.append(f["file_path"])
            continue
        skey = json.dumps(fschema, sort_keys=True)
        spec_id = int(m.get("partition_spec_id", 0))
        # v3 row lineage: an explicit per-file first_row_id, else the
        # spec's inheritance — the manifest-list record's first_row_id
        # plus the record counts of earlier entries that also omit it.
        # Runs for EVERY entry: pruning a file must not shift the offset
        man_base = m.get("first_row_id")
        inherit_off = 0
        for e in live:
            f = e["data_file"]
            frid = f.get("first_row_id")
            if frid is None:
                frid = e.get("first_row_id")  # entry-level placement
            if frid is None and man_base is not None:
                frid = int(man_base) + inherit_off
                inherit_off += int(f.get("record_count") or 0)
            if keep_file is None or keep_file(spec_id, f):
                plan.data.append(
                    {
                        "path": f["file_path"],
                        "file": _norm(f["file_path"]),
                        "schema": fschema,
                        "skey": skey,
                        "seq": _entry_seq(e, m),
                        "spec_id": spec_id,
                        "partition": f.get("partition") or {},
                        "first_row_id": None if frid is None else int(frid),
                    }
                )
    return plan


def _parquet(
    spark: SparkSession, schema: T.StructType | str, paths: list[str], cols: list | None = None
) -> DataFrame:
    """``cols`` (default: all) of the parquet files ``paths``, unioned
    from slices no longer than Spark's parallel-listing threshold: a
    longer path list makes building the DataFrame launch a file-listing
    job with a task per path (on 4 vCPU: 33 files took 1 job / 431 ms,
    32 files 0 jobs / 70 ms). Slices pack their splits apart, so they
    plan more scan tasks, but the listing costs more: build + SUM over
    128 files of 2.6 MB ran 33 tasks / 0.64-0.93 s sliced against 143
    tasks / 1.11-1.33 s as one call, and over 512 files of 0.7 MB 129
    tasks / 1.6-2.8 s against 551 / 2.6-3.4 s. Each slice projects
    ``cols`` itself, since `_metadata` does not survive a union."""
    conf = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    step = max(int(spark.conf.get(conf, "32")), 1)
    out = None
    for i in range(0, len(paths), step):
        df = spark.read.schema(schema).parquet(*paths[i : i + step])
        df = df.select(*cols) if cols else df
        out = df if out is None else out.unionByName(df)
    return out


def _tombstones(spark: SparkSession, pos_deletes: list, dvs: list) -> DataFrame | None:
    """(__file, __pos) rows of parquet position-delete files and v3
    deletion vectors; None when there are none. Paths are _norm'd on the
    tombstone side too: delete files may record `file:` URIs."""
    tombs = None
    if pos_deletes:
        tombs = _parquet(
            spark,
            "file_path string, pos bigint",
            pos_deletes,
            [
                F.regexp_replace(F.col("file_path"), "^file:(//)?", "").alias("__file"),
                F.col("pos").alias("__pos"),
            ],
        )
    if dvs:
        dvt = _dv_tombstones(spark, dvs)
        tombs = dvt if tombs is None else tombs.unionByName(dvt)
    return tombs


def _partition_type(transform: str, source_type) -> T.DataType:
    """Spark type of one `_partition` field: identity/truncate keep the
    source's type (string once the source is dropped), day is a date,
    month/hour are their human strings, year/bucket integers."""
    if transform == "identity" or transform.startswith("truncate"):
        return _spark_type(source_type) if isinstance(source_type, str) else T.StringType()
    if transform == "day":
        return T.DateType()
    if transform in ("year",) or transform.startswith("bucket"):
        return T.IntegerType()
    return T.StringType()


def _partition_value(transform: str, v, dt: T.DataType):
    """A manifest partition datum in `_partition` form: date ordinals as
    dates, month/hour ordinals as Iceberg's human strings (`2024-03`,
    `2024-03-01-10`)."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(dt, T.DateType) and isinstance(v, int):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
    if transform == "month" and isinstance(v, int):
        return f"{1970 + v // 12:04d}-{v % 12 + 1:02d}"
    if transform == "hour" and isinstance(v, int):
        return (_dt.datetime(1970, 1, 1) + _dt.timedelta(hours=v)).strftime("%Y-%m-%d-%H")
    return v


def _partition_column(md: dict, files: list) -> Column:
    """`_partition`: one struct over every partition field of the specs
    the files were written under (NULL where a file's spec lacks it),
    looked up per file path — a literal map, no join."""
    specs = {s["spec-id"]: s.get("fields", []) for s in md.get("partition-specs", [])}
    source_types = {f["id"]: f["type"] for f in _schema_at(md, None)["fields"]}
    fields: dict[str, tuple[str, T.DataType]] = {}
    for f in files:
        for pf in specs.get(f["spec_id"], []):
            if pf["name"] not in fields:
                tr = pf.get("transform", "identity")
                dt = _partition_type(tr, source_types.get(pf.get("source-id")))
                fields[pf["name"]] = (tr, dt)
    if not fields:
        return F.lit(None).cast(T.StructType())
    pairs: list[Column] = []
    for f in files:
        pairs.append(F.lit(f["file"]))
        pairs.append(
            F.struct(
                *[
                    F.lit(_partition_value(tr, f["partition"].get(name), dt)).cast(dt).alias(name)
                    for name, (tr, dt) in fields.items()
                ]
            )
        )
    return F.element_at(F.create_map(*pairs), F.col("__file"))


def _empty_frame(
    spark: SparkSession,
    target: dict,
    keep_pos: bool = False,
    keep_seq: bool = False,
    row_lineage: bool = False,
    metadata_columns: bool = False,
) -> DataFrame:
    extra = []
    if metadata_columns:
        extra += [
            F.lit(None).cast("string").alias("_file"),
            F.lit(None).cast("long").alias("_pos"),
            F.lit(None).cast("int").alias("_spec_id"),
            F.lit(None).cast(T.StructType()).alias("_partition"),
            F.lit(None).cast("boolean").alias("_deleted"),
        ]
    if row_lineage:
        extra += [
            F.lit(None).cast("long").alias("_row_id"),
            F.lit(None).cast("long").alias("_last_updated_sequence_number"),
        ]
    if keep_pos:
        extra += [
            F.lit(None).cast("string").alias("__file"),
            F.lit(None).cast("long").alias("__pos"),
        ]
    if keep_seq:
        extra.append(F.lit(None).cast("long").alias("__seq"))
    e = local_frame(spark, [], _struct(target))
    return e.select("*", *extra) if extra else e


def _read_files(
    spark: SparkSession,
    md: dict,
    target: dict,
    files: list,
    deletes: _Plan,
    keep_pos: bool = False,
    keep_seq: bool = False,
    row_lineage: bool = False,
    metadata_columns: bool = False,
) -> DataFrame:
    """Rows of the data-file entries ``files`` aligned to ``target`` by
    field id, minus the rows the delete files of ``deletes`` retire (its
    data files are ignored). Every read mode is this one function:
    ``row_lineage`` adds `_row_id` / `_last_updated_sequence_number`,
    ``metadata_columns`` adds `_file, _pos, _spec_id, _partition` and a
    live `_deleted` (tombstoned rows stay, flagged), ``keep_pos`` /
    ``keep_seq`` keep the internal `__file`/`__pos` identity and the data
    sequence `__seq`."""
    if not files:
        return _empty_frame(spark, target, keep_pos, keep_seq, row_lineage, metadata_columns)
    kept = {f["file"] for f in files}
    # a deletion vector names its data file: skip decoding the ones for
    # files this read does not touch
    dvs = [d for d in deletes.dvs if d["referenced"] in kept]
    has_tombs = bool(deletes.pos_deletes or dvs)
    need_pos = has_tombs or keep_pos or row_lineage or metadata_columns
    need_seq = bool(deletes.eq_deletes) or keep_seq or row_lineage
    # one scan per schema generation — and per data sequence / spec id
    # when the read carries them as literals
    groups: dict[tuple, tuple[dict, int, int, list[str]]] = {}
    for f in files:
        key = (f["skey"], f["seq"] if need_seq else 0, f["spec_id"] if metadata_columns else 0)
        groups.setdefault(key, (f["schema"], key[1], key[2], []))[3].append(f["path"])
    names = [f["name"] for f in target["fields"]]
    target_fields = [(f["id"], f["name"], f["type"]) for f in target["fields"]]
    extra = (
        [
            F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "").alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        if need_pos
        else []
    )
    if row_lineage:
        # rewrites (compaction, copy-on-write DML) materialize lineage
        # columns the schema JSON never lists; files without them read NULL
        extra += [
            F.col("_lin_row_id").alias("__lin_row_id"),
            F.col("_lin_upd_seq").alias("__lin_upd_seq"),
        ]
    parts: list[DataFrame] = []
    for file_schema, seq, spec_id, paths in groups.values():
        struct = _struct(file_schema)
        if row_lineage:
            struct = T.StructType(
                list(struct.fields)
                + [
                    T.StructField("_lin_row_id", T.LongType(), True),
                    T.StructField("_lin_upd_seq", T.LongType(), True),
                ]
            )
        as_is = [(f["id"], f["name"], f["type"]) for f in file_schema["fields"]] == target_fields
        cols = (names if row_lineage else ["*"]) if as_is else _align_cols(file_schema, target)
        lits = ([F.lit(seq).cast("long").alias("__seq")] if need_seq else []) + (
            [F.lit(spec_id).alias("_spec_id")] if metadata_columns else []
        )
        projected = extra or lits or not as_is
        parts.append(_parquet(spark, struct, paths, [*cols, *extra, *lits] if projected else None))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)

    tombs = _tombstones(spark, deletes.pos_deletes, dvs) if has_tombs else None
    dead = F.lit(False)
    if tombs is not None and metadata_columns:
        # live `_deleted`: tombstoned rows stay visible, flagged. A left
        # join repeats a row per matching tombstone, so dedupe first;
        # the anti-join below ignores duplicate build rows
        flag = tombs.dropDuplicates(["__file", "__pos"]).withColumn("__dead", F.lit(True))
        out = out.join(F.broadcast(flag), ["__file", "__pos"], "left")
        dead = F.coalesce(F.col("__dead"), F.lit(False))
    elif tombs is not None:
        out = out.join(F.broadcast(tombs), ["__file", "__pos"], "left_anti")
    for i, rec in enumerate(deletes.eq_deletes):
        keys, cond = _eq_delete_keys_cond(spark, out, rec, target)
        if metadata_columns:
            hit = keys.withColumn(f"__ehit{i}", F.lit(True))
            out = out.join(F.broadcast(hit), cond, "left").drop(*keys.columns)
            dead = dead | F.coalesce(F.col(f"__ehit{i}"), F.lit(False))
        else:
            out = out.join(F.broadcast(keys), cond, "left_anti")
    if not (need_pos or need_seq or metadata_columns):
        return out
    sel: list = list(names)
    if metadata_columns:
        sel += [
            F.col("__file").alias("_file"),
            F.col("__pos").alias("_pos"),
            "_spec_id",
            _partition_column(md, files).alias("_partition"),
            dead.alias("_deleted"),
        ]
    if row_lineage:
        # `_row_id`: a materialized id wins; else the file's first row id
        # plus the row's position (path-keyed literal map, no join).
        # Files that predate lineage have none: NULL, 'not assigned'
        pairs = [
            c for f in files if f["first_row_id"] is not None
            for c in (F.lit(f["file"]), F.lit(f["first_row_id"]).cast("long"))
        ]
        derived = (
            (F.element_at(F.create_map(*pairs), F.col("__file")) + F.col("__pos")).cast("long")
            if pairs
            else F.lit(None).cast("long")
        )
        sel += [
            F.coalesce(F.col("__lin_row_id"), derived).alias("_row_id"),
            F.coalesce(F.col("__lin_upd_seq"), F.col("__seq")).alias(
                "_last_updated_sequence_number"
            ),
        ]
    if keep_pos:
        sel += ["__file", "__pos"]
    if keep_seq:
        sel.append("__seq")
    return out.select(*sel)


def read_iceberg_table(
    spark: SparkSession,
    location: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    ref: str | None = None,
    _keep_lineage: bool = False,
    _keep_seq: bool = False,
    row_lineage: bool = False,
    eq: dict | None = None,
    between: dict | None = None,
    metadata_columns: bool = False,
    _files=None,
) -> DataFrame:
    """Open the table at ``location`` (table dir / metadata dir /
    metadata file) as a DataFrame; optional time travel by snapshot id,
    timestamp (milliseconds; resolved over the snapshot-log, so only
    snapshots that were main's head count), or a named branch/tag from
    the metadata document's ``refs`` map (VERSION AS OF 'audit-2024').
    A current read projects the current schema; time travel projects the
    snapshot's.

    ``row_lineage=True`` adds Iceberg v3's `_row_id` /
    `_last_updated_sequence_number` from the open metadata alone: a
    file's first row id comes from its Avro manifest record (explicit or
    inherited), lineage columns that rewrites materialized into the file
    win over derivation, and the update sequence falls back to the
    file's data sequence. Tables whose metadata predates row lineage
    yield NULL ids (the spec's 'not assigned').

    ``metadata_columns=True`` adds Iceberg's `_file, _pos, _spec_id,
    _partition, _deleted`: rows that merge-on-read deletes retire stay
    visible with `_deleted = true`, the rest read false.

    ``eq`` / ``between`` are OPTIONAL scan predicates (column →
    value / (lo, hi)) used for manifest-level FILE PRUNING only —
    Iceberg scan planning over the open metadata: data files whose
    partition value (mapped through its transform), column bounds (when
    the manifest carries them) or Bloom index (`bloom_idx_<col>.json`
    beside the metadata file) provably exclude the predicate never reach
    Spark's planner. Pruning is conservative (incomparable or absent
    values keep the file) and NEVER replaces the query's own filter —
    the caller still applies its full WHERE on top, so a missed prune
    costs IO, never correctness.

    Internal: ``_files`` (paths) reads only those data files of the
    snapshot, its deletes still applied; ``_keep_lineage`` keeps each
    live row's `__file`/`__pos` and projects the current schema even at
    a ref, ``_keep_seq`` its data sequence."""
    md_path = resolve_metadata_path(location)
    md = json.loads(fsio.read_text(md_path))
    snap = _select_snapshot(md, location, snapshot_id, as_of_ms, ref)
    # the internal DML reads (`_keep_lineage`) stage a write on a branch
    # head: they project the CURRENT schema, which an ALTER (no snapshot)
    # may have moved past the head's
    time_travel = snapshot_id is not None or as_of_ms is not None or ref is not None
    target = _schema_at(md, snap if time_travel and not _keep_lineage else None)
    if row_lineage and _keep_lineage:
        raise ValueError("row_lineage is exclusive with the internal _keep_lineage")
    # naive predicate literals on timestamptz columns are read by Spark
    # in the SESSION zone — thread it so the pruners derive the same
    # instant the row filter will match (a UTC assumption under a
    # non-UTC session excludes the file holding the matching row)
    try:
        zone = spark.conf.get("spark.sql.session.timeZone") or "UTC"
    except Exception:
        zone = "UTC"
    zone_token = _SESSION_TZ.set(zone)
    try:
        bloom = _bloom_probes(spark, os.path.dirname(md_path), target, eq) if eq else ()
        plan = _plan(
            md,
            snap,
            target,
            keep_manifest=_manifest_pruner(md, target, eq, between),
            keep_file=_file_pruner(md, target, eq, between, bloom),
        )
    finally:
        _SESSION_TZ.reset(zone_token)
    files = plan.data
    if _files is not None:
        wanted = {_norm(p) for p in _files}
        files = [f for f in files if f["file"] in wanted]
    return _read_files(
        spark,
        md,
        target,
        files,
        plan,
        keep_pos=_keep_lineage,
        keep_seq=_keep_lineage and _keep_seq,
        row_lineage=row_lineage,
        metadata_columns=metadata_columns,
    )


def incremental_read_iceberg_table(
    spark: SparkSession,
    location: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Iceberg-style incremental APPEND scan: the rows of the data files
    present at `to` but not at `from`, with `to`'s deletes applied (a row
    a later merge-on-read delete retired never surfaces), projected with
    `to`'s schema. The change-consumption primitive a downstream
    pipeline polls — O(new data), never a rescan.

    A missing snapshot raises ValueError (an expired checkpoint must fail
    loudly, not silently skip). An interval that REMOVES a data file
    (rewrite, compaction, copy-on-write DML) is not expressible as
    appends and raises: the consumer falls back to a full re-read."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    if from_snapshot_id not in by_id:
        raise ValueError(f"snapshot {from_snapshot_id} not found at {location}")
    if to_snapshot_id is None:
        to_snapshot_id = md.get("current-snapshot-id")
    if to_snapshot_id not in by_id:
        raise ValueError(f"snapshot {to_snapshot_id} not found at {location}")
    target = _schema_at(md, by_id[to_snapshot_id])
    cache: dict = {}
    base = {f["file"] for f in _plan(md, by_id[from_snapshot_id], target, cache=cache).data}
    head = _plan(md, by_id[to_snapshot_id], target, cache=cache)
    removed = sorted(base - {f["file"] for f in head.data})
    if removed:
        raise ValueError(
            f"incremental scan crosses replacing snapshot(s): data files removed "
            f"{removed[:3]}{'…' if len(removed) > 3 else ''} — data was rewritten; "
            "fall back to a full scan"
        )
    added = [f for f in head.data if f["file"] not in base]
    return _read_files(spark, md, target, added, head)


def changes_iceberg_table(
    spark: SparkSession,
    location: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    row_lineage: bool = False,
) -> DataFrame:
    """Iceberg changelog scan (`CALL system.create_changelog_view`) over
    the open metadata: the row-level changes committed by the snapshots
    in (``from_snapshot_id``, ``to_snapshot_id``], each tagged
    `_change_type` ('insert' | 'delete'), `_commit_snapshot_id` and
    `_change_ordinal` (the position among the window's commits that
    changed something). ``from_snapshot_id=0`` replays from the start.

    Per snapshot, against its parent's files:
    - rows of added data files are inserts;
    - parent-live rows of removed data files are deletes (a rewrite
      emits delete + insert for the rows it carries over);
    - rows retired by added position deletes or deletion vectors are
      deletes: live rows of the parent files the snapshot keeps, or rows
      of files the same snapshot added;
    - live rows of kept parent files matching an added equality
      delete's keys under the v2 sequence rule are deletes — an upsert
      reads as delete(old image) + insert(new image);
    - `replace` snapshots (compaction, rewrite_position_delete_files)
      change no rows and emit nothing.
    The scan reads only the churned files of each snapshot, plus the
    parent's live rows for a row-level delete commit.

    ``row_lineage=True`` adds each row's v3 `_row_id`: a delete and an
    insert with the same id are one row changing in place.

    Commit order comes from the PARENT POINTERS, never from sorting
    snapshot ids (real writers draw random ids). A parent that expiry
    removed is bridged over the snapshot-log (main's history) to the
    surviving snapshot current before it, so a window across the gap
    diffs the two states. A ``from`` still not reached (a diverged
    branch) raises ValueError."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    if from_snapshot_id != 0 and from_snapshot_id not in by_id:
        raise ValueError(f"snapshot {from_snapshot_id} not found at {location}")
    if to_snapshot_id is None:
        to_snapshot_id = md.get("current-snapshot-id")
    no_head = to_snapshot_id in (None, -1)  # main never committed to: no changes
    if not no_head and to_snapshot_id not in by_id:
        raise ValueError(f"snapshot {to_snapshot_id} not found at {location}")
    target = _schema_at(md, by_id.get(to_snapshot_id))
    names = [f["name"] for f in target["fields"]] + (["_row_id"] if row_lineage else [])
    out_schema = T.StructType(
        _struct(target).fields
        + ([T.StructField("_row_id", T.LongType(), True)] if row_lineage else [])
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_snapshot_id", T.LongType(), False),
            T.StructField("_change_ordinal", T.IntegerType(), False),
        ]
    )
    if no_head:
        return local_frame(spark, [], out_schema)
    log = [int(e["snapshot-id"]) for e in md.get("snapshot-log", [])]
    chain: list[dict] = []
    cur_id = to_snapshot_id
    seen: set[int] = set()
    while cur_id is not None and cur_id in by_id and cur_id not in seen:
        if cur_id == from_snapshot_id:
            break
        seen.add(cur_id)
        chain.append(by_id[cur_id])
        parent_id = by_id[cur_id].get("parent-snapshot-id")
        if parent_id is not None and int(parent_id) in by_id:
            cur_id = int(parent_id)
        elif cur_id in log:
            # expiry cut the parent pointer: diff against the surviving
            # state the main history made current just before
            i = len(log) - 1 - log[::-1].index(cur_id)
            cur_id = next((x for x in reversed(log[:i]) if x in by_id), None)
        else:
            cur_id = None
    else:
        if from_snapshot_id != 0:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snapshot_id} at {location} — lineage diverged; "
                "full re-sync required"
            )

    def read(files: list, deletes: _Plan, **kw) -> DataFrame:
        return _read_files(spark, md, target, files, deletes, row_lineage=row_lineage, **kw)

    def tag(df: DataFrame, change: str, sid: int, ordinal: int) -> DataFrame:
        return df.select(
            *names,
            F.lit(change).alias("_change_type"),
            F.lit(sid).cast("long").alias("_commit_snapshot_id"),
            F.lit(ordinal).cast("int").alias("_change_ordinal"),
        )

    cache: dict = {}
    parent = _plan(md, by_id.get(from_snapshot_id), target, cache=cache)
    parts: list[DataFrame] = []
    ordinal = 0
    for snap in reversed(chain):
        sid = snap["snapshot-id"]
        plan = _plan(md, snap, target, cache=cache)
        if (snap.get("summary") or {}).get("operation") == "replace":
            parent = plan  # rewrites bytes, not rows
            continue
        par_files = {f["file"] for f in parent.data}
        cur_files = {f["file"] for f in plan.data}
        added = [f for f in plan.data if f["file"] not in par_files]
        removed = [f for f in parent.data if f["file"] not in cur_files]
        old_pos = {_norm(p) for p in parent.pos_deletes}
        old_dvs = {(d["puffin"], d["offset"]) for d in parent.dvs}
        old_eq = {_norm(r["path"]) for r in parent.eq_deletes}
        new_pos = [p for p in plan.pos_deletes if _norm(p) not in old_pos]
        new_dvs = [d for d in plan.dvs if (d["puffin"], d["offset"]) not in old_dvs]
        new_eq = [r for r in plan.eq_deletes if _norm(r["path"]) not in old_eq]
        # a removed file's live rows are all deletes already: new
        # tombstones and equality deletes retire rows of the kept files
        kept = [f for f in parent.data if f["file"] in cur_files]
        emitted = []
        if added:
            emitted.append(tag(read(added, _NO_FILES), "insert", sid, ordinal))
        if removed:
            emitted.append(tag(read(removed, parent), "delete", sid, ordinal))
        if new_pos or new_dvs:
            # what the new tombstones retire: live rows of the kept files,
            # or rows of files this snapshot added (the parent's deletes
            # cannot name those)
            before = read(kept + added, parent, keep_pos=True)
            tombs = _tombstones(spark, new_pos, new_dvs)
            hit = before.join(F.broadcast(tombs), ["__file", "__pos"], "left_semi")
            emitted.append(tag(hit, "delete", sid, ordinal))
        if new_eq:
            alive = read(kept, parent, keep_pos=True, keep_seq=True)
            hits = None
            for rec in new_eq:
                keys, cond = _eq_delete_keys_cond(spark, alive, rec, target)
                h = alive.join(F.broadcast(keys), cond, "left_semi")
                hits = h if hits is None else hits.unionByName(h)
            # a row matching several delete files retires once
            emitted.append(tag(hits.dropDuplicates(["__file", "__pos"]), "delete", sid, ordinal))
        if emitted:
            parts += emitted
            ordinal += 1
        parent = plan
    if not parts:
        return local_frame(spark, [], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _eq_delete_keys_cond(spark, out: DataFrame, rec: dict, target: dict):
    """(broadcastable keys frame, join condition) of one equality-delete
    file against rows ``out`` carrying `__seq`. Key columns are
    identified by FIELD ID (`equality_ids`): resolved to their name in
    the delete file's own schema generation and, independently, in the
    target schema (a rename between the two is legal). Comparison is
    null-safe and gated on the v2 sequence rule `data_seq < delete_seq`,
    so a key re-inserted after the delete is not retired."""
    by_id_src = {f["id"]: f for f in rec["schema"]["fields"]}
    by_id_tgt = {f["id"]: f for f in target["fields"]}
    pairs = []
    for fid in rec["ids"]:
        src = by_id_src.get(fid)
        tgt = by_id_tgt.get(fid)
        if src is None or tgt is None:
            raise ValueError(
                f"equality-delete field id {fid} not resolvable "
                f"(in delete schema: {src is not None}, in target: {tgt is not None})"
            )
        pairs.append((src["name"], tgt))
    keys = (
        spark.read.parquet(rec["path"])
        .select(
            *[
                F.col(sname).cast(_spark_type(tgt["type"])).alias(f"__eq_{tgt['name']}")
                for sname, tgt in pairs
            ]
        )
        .dropDuplicates([f"__eq_{tgt['name']}" for _, tgt in pairs])
    )
    cond = out["__seq"] < F.lit(int(rec["seq"]))
    for _, tgt in pairs:
        cond = cond & out[tgt["name"]].eqNullSafe(F.col(f"__eq_{tgt['name']}"))
    return keys, cond


# ---------------- metadata tables from the open metadata ----------------
# The same .snapshots/.history/.files surface the engine's own tables
# expose (warehouse.py:2357-2432), derived for FOREIGN tables purely from
# the Iceberg metadata document + manifest Avros — column-compatible, so
# SQL written against a native table's metadata views runs unchanged
# after a register_table attach. Driver-side and O(manifests), like all
# Iceberg metadata planning.


def _ts(ms: int):
    import datetime

    return datetime.datetime.fromtimestamp(
        ms / 1000, tz=datetime.timezone.utc
    ).replace(tzinfo=None)


def read_iceberg_snapshots(spark: SparkSession, location: str) -> DataFrame:
    """`.snapshots` over open metadata: one row per snapshot in the
    metadata document (committed_at, ids, operation from the summary,
    manifest-list path, stringified summary)."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    schema = (
        "committed_at timestamp, snapshot_id bigint, parent_id bigint, "
        "operation string, manifest_list string, summary map<string,string>, "
        "first_row_id bigint"
    )
    rows = [
        (
            _ts(s["timestamp-ms"]),
            int(s["snapshot-id"]),
            (int(s["parent-snapshot-id"]) if s.get("parent-snapshot-id") is not None else None),
            (s.get("summary") or {}).get("operation"),
            s.get("manifest-list"),
            {k: str(v) for k, v in (s.get("summary") or {}).items() if k != "operation"},
            # Iceberg v3 row lineage, round-tripped from the exported
            # metadata document (absent on v2 writers' tables)
            (int(s["first-row-id"]) if s.get("first-row-id") is not None else None),
        )
        for s in md.get("snapshots", [])
    ]
    return local_frame(spark, rows, schema)


def read_iceberg_statistics(spark: SparkSession, location: str) -> DataFrame:
    """`.statistics` over open metadata: decode the table's Puffin
    statistics files (the Iceberg `statistics` list ANALYZE publishes) —
    one row per `apache-datasketches-theta-v1` blob with the column it
    covers (field id resolved through the current schema), the sketch's
    own NDV estimate (decoded from the compact theta bytes by the
    pure-stdlib reader — proof the blob is really a DataSketches
    sketch, not a number hiding in properties), the writer-stamped
    `ndv` property, and the snapshot analyzed. Blob payloads are
    O(k)-sized; this is driver-side metadata work like every other
    metadata table."""
    from minio_iceberg_polaris_lakehouse_spark import puffin as PUF
    from minio_iceberg_polaris_lakehouse_spark import theta as TH

    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    cur_schema = schemas.get(md.get("current-schema-id"), {"fields": []})
    by_id = {int(f["id"]): f["name"] for f in cur_schema.get("fields", [])}
    rows = []
    for entry in md.get("statistics", []):
        buf = fsio.read_bytes(entry["statistics-path"])
        footer = PUF.read_puffin_footer(buf)
        for bm in footer["blobs"]:
            if bm.get("type") != "apache-datasketches-theta-v1":
                continue
            payload = PUF.read_puffin_blob(buf, bm)
            est = TH.sketch_estimate(payload)
            fid = (bm.get("fields") or [None])[0]
            rows.append(
                (
                    by_id.get(int(fid)) if fid is not None else None,
                    int(round(est)),
                    (
                        int(bm.get("properties", {}).get("ndv"))
                        if bm.get("properties", {}).get("ndv") is not None
                        else None
                    ),
                    int(bm.get("snapshot-id", entry["snapshot-id"])),
                    entry["statistics-path"],
                )
            )
    return local_frame(
        spark,
        rows,
        "column string, ndv bigint, ndv_property bigint, "
        "snapshot_id bigint, statistics_path string",
    )


def read_iceberg_partitions(spark: SparkSession, location: str) -> DataFrame:
    """`.partitions` over open metadata: the spec's PARTITION STATISTICS
    file (written by compute_partition_stats, referenced from the
    metadata document's `partition-statistics` list), read back as a
    DataFrame with the partition struct flattened to its path-encoded
    string form — column-compatible with the native `.partitions`
    metadata view plus the delete/byte/last-updated columns the stats
    file carries. Raises if the table has never published partition
    statistics (guessing from manifests here would silently diverge
    from what a real stats-file consumer sees)."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    entries = md.get("partition-statistics", [])
    cur = md.get("current-snapshot-id")
    entry = next((e for e in entries if e["snapshot-id"] == cur), None) or (
        entries[-1] if entries else None
    )
    if entry is None:
        raise ValueError(
            f"{location} has no partition-statistics files — run "
            "CALL system.compute_partition_stats on the owning engine"
        )
    df = spark.read.parquet(entry["statistics-path"])
    part_fields = [f.name for f in df.schema["partition"].dataType.fields]
    part_str = F.concat_ws(
        "/",
        *[
            F.when(
                F.col(f"partition.{n}").isNotNull(),
                F.concat(F.lit(f"_p_{n}="), F.col(f"partition.{n}")),
            )
            for n in part_fields
        ],
    )
    return df.select(
        F.when(part_str == "", None).otherwise(part_str).alias("partition"),
        F.col("data_record_count").alias("record_count"),
        F.col("data_file_count").alias("file_count"),
        "spec_id",
        "total_data_file_size_in_bytes",
        "position_delete_record_count",
        "position_delete_file_count",
        "equality_delete_record_count",
        "equality_delete_file_count",
        "last_updated_at",
        "last_updated_snapshot_id",
    ).orderBy("partition")


def read_iceberg_history(spark: SparkSession, location: str) -> DataFrame:
    """`.history` over open metadata: the snapshot-log (when each
    snapshot became current), flagged with main-lineage ancestry walked
    from current-snapshot-id via parent pointers."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    parents = {
        int(s["snapshot-id"]): (
            int(s["parent-snapshot-id"]) if s.get("parent-snapshot-id") is not None else None
        )
        for s in md.get("snapshots", [])
    }
    ancestors: set[int] = set()
    cur = md.get("current-snapshot-id")
    while cur is not None and cur not in ancestors:
        ancestors.add(int(cur))
        cur = parents.get(int(cur))
    log = md.get("snapshot-log") or [
        # a metadata doc without a snapshot-log (minimal writers) still
        # has commit times on the snapshots themselves
        {"timestamp-ms": s["timestamp-ms"], "snapshot-id": s["snapshot-id"]}
        for s in md.get("snapshots", [])
    ]
    schema = (
        "made_current_at timestamp, snapshot_id bigint, parent_id bigint, "
        "is_current_ancestor boolean"
    )
    rows = [
        (
            _ts(e["timestamp-ms"]),
            int(e["snapshot-id"]),
            parents.get(int(e["snapshot-id"])),
            int(e["snapshot-id"]) in ancestors,
        )
        for e in log
    ]
    return local_frame(spark, rows, schema)


def read_iceberg_files(spark: SparkSession, location: str) -> DataFrame:
    """`.files` over open metadata: one row per live file entry of the
    current snapshot's manifests — data files (content 0) and delete
    files (content 1 positional / 2 equality), with the manifest-recorded
    counts and sizes. No data file is opened."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    cur = md.get("current-snapshot-id")
    snap = next((s for s in md.get("snapshots", []) if s["snapshot-id"] == cur), None)
    schema = (
        "content int, file_path string, file_format string, spec_id int, "
        "record_count bigint, file_size_in_bytes bigint"
    )
    if snap is None:
        return local_frame(spark, [], schema)
    rows = []
    _s, _m, manifests = avro_io.read_container(snap["manifest-list"])
    for m in manifests:
        _s2, _m2, entries = avro_io.read_container(m["manifest_path"])
        for e in entries:
            if e.get("status") == 2:  # DELETED entry — not live
                continue
            df_ = e["data_file"]
            rows.append(
                (
                    int(df_.get("content") or 0),
                    df_["file_path"],
                    (df_.get("file_format") or "PARQUET"),
                    int(m.get("partition_spec_id") or 0),
                    int(df_.get("record_count") or 0),
                    int(df_.get("file_size_in_bytes") or 0),
                )
            )
    return local_frame(spark, rows, schema)


def read_iceberg_refs(spark: SparkSession, location: str) -> DataFrame:
    """`.refs` over open metadata: the metadata document's branch/tag
    map (column-compatible with the native refs view)."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    schema = "name string, type string, snapshot_id bigint"
    rows = [
        (name, str(rec.get("type", "branch")).upper(), int(rec["snapshot-id"]))
        for name, rec in sorted((md.get("refs") or {}).items())
    ]
    return local_frame(spark, rows, schema)


def read_iceberg_schema(location: str) -> T.StructType:
    """Current schema from the metadata document alone — O(1) metadata
    cost, no manifest walk (for DESCRIBE-style callers that only need
    column names/types, not a scan plan)."""
    md = json.loads(fsio.read_text(resolve_metadata_path(location)))
    schemas = {s["schema-id"]: s for s in md.get("schemas", [])}
    return _struct(schemas[md["current-schema-id"]])
