"""Lakehouse warehouse: namespaces, tables, snapshots, time travel,
schema evolution, DML, maintenance — the reference's catalog/table surface
(SURVEY.md §2.9-2.11) reproduced Spark-first.

The reference delegates all of this to Apache Iceberg via a Polaris REST
catalog (reference: workspace/notebooks/warehouse_helpers.py — 20 helpers
wrapping spark.sql; getting_started.ipynb:81-169). This container has no
Iceberg runtime JARs, so the engine implements the same **table-format
semantics** natively on parquet + an atomic snapshot log:

- a table directory holds immutable per-commit data directories plus a
  `_meta.json` (schema, partition transform, properties) and a
  `_snapshots.json` log; every commit writes data first, then swaps the
  log via os.replace — the same atomic-pointer-commit contract Iceberg
  documents ("If a write fails, nothing changes", reference README.md:124).
- readers resolve a snapshot (current / VERSION AS OF / TIMESTAMP AS OF)
  to its manifest of data directories and hand exactly those paths to
  `spark.read.parquet` — snapshot isolation for free, identical to Iceberg
  reads planning from a manifest list (reference README.md:169-178).
- `history()` / `snapshots()` expose the reference's metadata tables
  (getting_started.ipynb:144-169) with the same column names.
- schema evolution is metadata-only with NULL backfill on read
  (reference README.md:132-133; ADD COLUMN success criterion
  SETUP_GUIDE_WIN.md:464).
- `compact()` implements what the reference's helper *meant*: its
  `ALTER TABLE t COMPACT` (warehouse_helpers.py:145) is not valid
  Spark/Iceberg SQL — the idiomatic operation is
  `CALL system.rewrite_data_files`, i.e. rewrite small files into
  target-sized ones under a new snapshot, which is what this does.
- INSERT stays append-only — re-running an insert duplicates rows by
  design (reference SETUP_GUIDE_WIN.md:362-371).

Scale notes: all data movement is executor-side (`df.write.parquet`);
the driver only writes the few-KB JSON log. Manifests list directories,
not files, so the log stays O(commits). Partitioned tables write
hive-style directories from the declared transform (`days(ts_col)` →
hidden partitioning: queries filter the source column and Spark prunes
via the derived partition directory after `attach_partition_filter`).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from minio_iceberg_polaris_lakehouse_spark import fsio
from minio_iceberg_polaris_lakehouse_spark.session import local_frame
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (  # noqa: F401
    _bloom_positions_py,
    _parquet,
    changes_iceberg_table,
    incremental_read_iceberg_table,
    read_iceberg_table,
    resolve_metadata_path,
)

META_FILE = "_meta.json"
SNAP_FILE = "_snapshots.json"
# physical parquet column names rewrites use to materialize Iceberg v3 row
# lineage (`_row_id` / `_last_updated_sequence_number`) for carried-over
# rows; invisible to normal reads (explicit read schemas skip them)
LIN_ROW_ID = "_lin_row_id"
LIN_UPD_SEQ = "_lin_upd_seq"
# MERGE row actions besides the index of the firing UPDATE arm, and the
# marker around the hex key in the cardinality check's raise_error
_CARRY, _NBS_UPDATE, _INSERT = -1, -2, -3
_MERGE_DUP = "__merge_dup_key__"


class WarehouseError(RuntimeError):
    pass


class SnapshotNotFoundError(WarehouseError):
    """A referenced snapshot id is not in the main lineage — typically
    expired by expire_snapshots. NOT the same condition as an
    incremental scan crossing a replacing snapshot: a stream consumer
    may legally skip a rewrite (skip_replacements) but must never treat
    an expired checkpoint as one — the appends since the checkpoint are
    unrecoverable from metadata and skipping would silently lose data."""


class CommitConflictError(WarehouseError):
    """Optimistic-concurrency conflict: the table's current snapshot moved
    past the one this operation read from (another writer committed first).
    Retryable — re-read the table and re-apply the operation (the same
    contract Iceberg documents for concurrent writers, reference
    README.md:124: "multiple writers ... optimistic concurrency")."""


def _merge_plan(
    tgt: DataFrame,
    source: DataFrame,
    on: str,
    schema: T.StructType,
    matched_arms: list[dict] | None,
    insert_arm: dict | None,
    nbs: dict | None,
    ta: str,
    sa: str,
) -> tuple[DataFrame, list[Column]]:
    """The one MERGE plan — the shape of Spark's RewriteMergeIntoTable,
    for every clause form and both kinds of table:

      matched_arms: [{cond: str|None, action: 'update'|'delete',
                      set: dict[col, expr]|None}, ...]
          evaluated IN ORDER per matched (target, source) pair: the
          FIRST arm whose condition holds fires (SQL three-valued
          logic: NULL does not fire); no arm firing carries the target
          row unchanged. ``set`` None means SET * (all non-key columns
          from the source); expressions may reference both sides via
          the statement aliases.
      insert_arm: {cond: str|None} | None — WHEN NOT MATCHED [AND cond]
          THEN INSERT *; None = no insert.
      nbs: {cond: str|None, action: 'delete'|'update', set: dict} |
          None — WHEN NOT MATCHED BY SOURCE: target rows with no source
          match; condition-gated, non-firing rows carry over.

    ``tgt`` FULL OUTER JOIN ``source`` on ``on``, with an ``__act``
    column per row: the index of the firing UPDATE arm, _CARRY,
    _NBS_UPDATE, _INSERT, or NULL (the row leaves the table). The first
    CASE branch is the cardinality check, so whichever job first
    evaluates ``__act`` fails (see _merge_cardinality). Returns the
    joined rows, whose target side keeps every column of ``tgt`` under
    ``ta``, and one value expression per column of ``schema``; the
    caller projects and commits them in its own mode."""
    matched_arms = matched_arms or []
    for arm in matched_arms:
        if arm.get("action") not in ("update", "delete"):
            raise WarehouseError(f"bad matched arm action: {arm.get('action')}")
    if nbs and nbs.get("action") not in ("update", "delete"):
        raise WarehouseError(f"bad NOT MATCHED BY SOURCE action: {nbs.get('action')}")
    if ta == sa:
        raise WarehouseError(f"MERGE aliases must differ: both {ta!r}")
    cols = schema.fieldNames()

    def _assigns(set_map: dict) -> dict:
        unknown = [c for c in set_map if c not in cols]
        if unknown:
            raise WarehouseError(f"MERGE SET of unknown column(s): {unknown}")
        return {c: F.expr(e) for c, e in set_map.items()}

    # the source carries its per-key row count (the window's hash
    # exchange is the one the join reuses), the target a presence
    # marker. One-sided clauses resolve on their own side, as in Spark,
    # so an unqualified name is not ambiguous: NOT MATCHED BY SOURCE on
    # the target (__nbs, __nbs_<col>), the INSERT condition on the
    # source (__ins)
    tgt = tgt.alias(ta).withColumn("__t", F.lit(True))
    src = source.alias(sa).withColumn("__sn", F.count(F.lit(1)).over(Window.partitionBy(on)))
    nbs_set: dict = {}
    if nbs:
        fires = F.expr(nbs["cond"]) if nbs.get("cond") else F.lit(True)
        if nbs["action"] == "update":
            nbs_set = {c: F.when(fires, e) for c, e in _assigns(nbs.get("set") or {}).items()}
        tgt = tgt.withColumns({"__nbs": fires, **{f"__nbs_{c}": e for c, e in nbs_set.items()}})
    if insert_arm is not None:
        cond = insert_arm.get("cond")
        src = src.withColumn("__ins", F.expr(cond) if cond else F.lit(True))
    tgt, src = tgt.alias(ta), src.alias(sa)
    rows = tgt.join(src, F.col(f"{ta}.{on}") == F.col(f"{sa}.{on}"), "full_outer")
    in_t, in_s = F.col(f"{ta}.__t").isNotNull(), F.col(f"{sa}.__sn").isNotNull()
    matched = in_t & in_s
    dup_key = F.hex(F.col(f"{sa}.{on}").cast("string"))
    # the check tests the keys of both sides, not the presence markers:
    # once a caller's filter over __act lets the optimizer turn the join
    # inner, the target marker folds to true, and a check on the source
    # side alone would be pushed below the join onto unmatched source rows
    act = F.when(
        (F.col(f"{ta}.{on}") == F.col(f"{sa}.{on}")) & (F.col(f"{sa}.__sn") > 1),
        F.raise_error(F.concat(F.lit(_MERGE_DUP), dup_key, F.lit(_MERGE_DUP))),
    )
    sets: list[tuple[int, dict]] = []
    for i, arm in enumerate(matched_arms):
        cond = matched & F.expr(arm["cond"]) if arm.get("cond") else matched
        if arm["action"] == "update":
            set_map = arm.get("set")
            if set_map is None:  # SET * — every non-key column from the source
                set_map = {c: f"{sa}.{c}" for c in cols if c != on}
            sets.append((i, _assigns(set_map)))
        act = act.when(cond, F.lit(i if arm["action"] == "update" else None))
    # the rows left are one-sided: target-only, then source-only
    act = act.when(matched, F.lit(_CARRY))
    if nbs:
        sets.append((_NBS_UPDATE, {c: F.col(f"{ta}.__nbs_{c}") for c in nbs_set}))
        fired = _NBS_UPDATE if nbs["action"] == "update" else None
        act = act.when(F.col(f"{ta}.__nbs"), F.lit(fired))
    act = act.when(in_t, F.lit(_CARRY))
    if insert_arm is not None:
        sets.append((_INSERT, {c: F.col(f"{sa}.{c}") for c in cols}))
        act = act.when(F.col(f"{sa}.__ins"), F.lit(_INSERT))
    code = F.col("__act")

    def _value(c: str):
        # a column no assignment of the row's action sets keeps the
        # target value
        v = None
        for k, assigns in sets:
            if c in assigns:
                e = assigns[c].cast(schema[c].dataType)
                v = F.when(code == k, e) if v is None else v.when(code == k, e)
        t = F.col(f"{ta}.{c}")
        return (t if v is None else v.otherwise(t)).alias(c)

    return rows.withColumn("__act", act), [_value(c) for c in cols]


@contextmanager
def _merge_cardinality(source: DataFrame, on: str):
    """Turn the MERGE plan's cardinality check failing a write job into
    the engine's own error, naming the key as the source types it; any
    other failure propagates as Spark raised it."""
    try:
        yield
    except Exception as e:
        dup = re.search(rf"{_MERGE_DUP}([0-9A-F]*){_MERGE_DUP}", str(e))
        if dup is None:
            raise
        # the typed key, fetched back from the source by its string
        hex_key = dup.group(1)
        hit = source.filter(F.hex(F.col(on).cast("string")) == hex_key).select(on).take(1)
        key = hit[0][0] if hit else bytes.fromhex(hex_key).decode(errors="replace")
        raise WarehouseError(
            f"MERGE cardinality violation: multiple source rows match target key {on}={key!r} "
            "(ON clause must match at most one source row per target row)"
        ) from None


def _iceberg_bucket_col(src: Column, n: int, dtype: T.DataType | None) -> Column:
    """Iceberg-SPEC bucket[N] of a source column as an Arrow-batched
    pandas UDF (the hash is murmur3_x86_32 over single-value bytes —
    not expressible with Spark builtins). Integer-family inputs
    (int/long/date/timestamp) ride the numpy-vectorized long hash;
    strings/decimals hash per distinct-ish value scalar-side. NULL
    source → NULL bucket (Iceberg's rule)."""
    from minio_iceberg_polaris_lakehouse_spark import theta as TH

    type_str = dtype.simpleString() if dtype is not None else "string"
    int_family = isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    is_date = isinstance(dtype, T.DateType)
    is_ts = isinstance(dtype, T.TimestampType) or (
        hasattr(T, "TimestampNTZType") and isinstance(dtype, T.TimestampNTZType)
    )

    def bucket(s):
        import numpy as np
        import pandas as pd

        mask = s.notna()
        out = pd.Series([None] * len(s), dtype="object")
        if not mask.any():
            return out.astype("Int32")
        vals = s[mask]
        if int_family or is_date or is_ts:
            if is_date:
                longs = pd.to_datetime(vals).astype("datetime64[D]").astype("int64")
            elif is_ts:
                longs = vals.astype("datetime64[us]").astype("int64")
            else:
                longs = vals.astype("int64")
            h = TH.murmur3_32_long_vec(np.asarray(longs))
            out[mask] = (h.astype(np.int64) & 0x7FFFFFFF) % n
        else:
            out[mask] = [TH.iceberg_bucket(v, n, type_str) for v in vals]
        return out.astype("Int32")

    return F.pandas_udf(bucket, "int")(src)


@dataclass
class PartitionSpec:
    """Hidden-partitioning transform, Iceberg-style: the table partitions
    by a *derived* value of a source column; queries keep filtering the
    source column (reference: PARTITIONED BY (CAST(created_at AS DATE)),
    warehouse_helpers.py:48)."""

    source: str | None = None
    # identity | day | month | year | hour | bucket<N> | truncate<N>
    # (parameterized transforms encode their width in the name, Iceberg's
    # bucket[N] / truncate[W])
    transform: str = "identity"

    def column(self) -> str | None:
        return None if self.source is None else f"_p_{self.transform}_{self.source}"

    def param(self) -> int | None:
        """Width N of a bucket<N>/truncate<N> transform, else None."""
        for prefix in ("bucket", "truncate"):
            if self.transform.startswith(prefix) and self.transform[len(prefix) :].isdigit():
                return int(self.transform[len(prefix) :])
        return None

    def expr(self, dtype: T.DataType | None = None, spec_hash: bool = False):
        """Derived-partition expression. ``dtype`` (the source column's
        type) selects the truncate flavor: numeric → v - pmod(v, W)
        (Iceberg's floor semantics, negatives included), otherwise string
        prefix. Validation callers may omit it.

        ``spec_hash`` selects the bucket hash: False (default) is
        Spark's murmur3(seed 42) — JVM-side, this engine's historical
        convention; True is the ICEBERG-SPEC bucket hash
        (murmur3_x86_32 over single-value bytes, Arrow-batched pandas
        UDF, int64 inputs numpy-vectorized), opted into per table via
        TBLPROPERTIES ('write.bucket-hash'='iceberg-murmur3') so any
        compliant engine computes identical buckets."""
        if self.source is None:
            return None
        src = F.col(self.source)
        if self.transform == "identity":
            return src
        if self.transform == "day":
            return F.to_date(src)
        if self.transform == "month":
            return F.date_format(src, "yyyy-MM")
        if self.transform == "year":
            return F.year(src)
        if self.transform == "hour":
            return F.date_format(src, "yyyy-MM-dd-HH")
        n = self.param()
        if n is not None and self.transform.startswith("bucket"):
            if spec_hash:
                return _iceberg_bucket_col(src, n, dtype)
            return F.pmod(F.hash(src), F.lit(n))
        if n is not None and self.transform.startswith("truncate"):
            if isinstance(dtype, T.DecimalType):
                # Iceberg spec: decimal truncate width W applies to the
                # UNSCALED value (truncate[50] on 10.25 scale-2 →
                # unscaled 1025→1000 → 10.00). Value-unit pmod would put
                # rows in dirs no compliant engine derives. Decimal
                # arithmetic keeps this exact; floor semantics for
                # negatives ride on pmod's non-negative remainder.
                import decimal as _decimal

                w = F.lit(_decimal.Decimal(n).scaleb(-dtype.scale))
                return (src - F.pmod(src, w)).cast(dtype)
            if isinstance(dtype, T.NumericType):
                return src - F.pmod(src, F.lit(n))
            return F.substring(src, 1, n)
        raise WarehouseError(f"unknown partition transform {self.transform}")


class Warehouse:
    """Catalog root: <warehouse_dir>/<namespace>/<table>/..."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.root = fsio.abspath(warehouse_dir)
        fsio.makedirs(self.root, exist_ok=True)

    # -- namespaces (reference D2/D5/D6: warehouse_helpers.py:20-34) -------
    def create_namespace(self, ns: str) -> None:
        fsio.makedirs(os.path.join(self.root, ns), exist_ok=True)

    def drop_namespace(self, ns: str, cascade: bool = False) -> None:
        path = os.path.join(self.root, ns)
        locs = self.table_locations()
        # a dir under this namespace may hold the DATA of an identity
        # renamed into another namespace — deleting it would destroy a
        # live table, so refuse even under cascade
        foreign_claims = [
            key
            for key, rel in locs.items()
            if rel.split("/", 1)[0] == ns and not key.startswith(ns + ".")
        ]
        if foreign_claims:
            raise WarehouseError(
                f"namespace {ns} stores data of renamed table(s) "
                f"{foreign_claims}; rename them back or drop them first"
            )
        if not fsio.isdir(path):
            return
        has_renamed_in = any(k.startswith(ns + ".") for k in locs)
        if (fsio.listdir(path) or has_renamed_in) and not cascade:
            raise WarehouseError(f"namespace {ns} not empty (use cascade=True)")
        if cascade:
            # identities of this ns whose data lives OUTSIDE its dir
            # (renamed in from elsewhere): rmtree(path) won't reach them
            for key, rel in list(locs.items()):
                if key.startswith(ns + "."):
                    tdir = os.path.join(self.root, rel)
                    if not tdir.startswith(path + os.sep):
                        fsio.rmtree(tdir)
                    locs.pop(key)
            _atomic_write_json(self._locations_path(), {"locations": locs})
        fsio.rmtree(path)

    def list_namespaces(self) -> list[str]:
        return sorted(
            d for d in fsio.listdir(self.root) if fsio.isdir(os.path.join(self.root, d))
        )

    def list_tables(self, ns: str) -> list[str]:
        path = os.path.join(self.root, ns)
        locs = self.table_locations()
        claimed = set(locs.values())  # dirs owned by renamed identities
        names: set[str] = set()
        if fsio.isdir(path):
            names = {
                d
                for d in fsio.listdir(path)
                if fsio.isfile(os.path.join(path, d, META_FILE))
                and f"{ns}/{d}" not in claimed
            }
        for key, rel in locs.items():
            kns, _, kname = key.partition(".")
            if kns == ns and fsio.isfile(os.path.join(self.root, rel, META_FILE)):
                names.add(kname)
        return sorted(names)

    def table(self, ns: str, name: str) -> "Table":
        return Table(self, ns, name)

    # -- table-location indirection (ALTER TABLE ... RENAME TO) -----------
    # Iceberg semantics: RENAME changes only the catalog identifier; the
    # table's physical location is untouched (HMS/REST catalogs do exactly
    # this — a pointer update, O(1) regardless of table size). The mapping
    # lives in one atomic JSON doc; absent file = no table was ever
    # renamed, so the default <root>/<ns>/<name> layout resolves with a
    # single failed stat and zero parsing on the hot path.
    def transaction(self):
        """Multi-table transaction (transactions.py): stage DML across
        several tables invisibly (hidden write-audit-publish branch per
        table), then commit all-or-nothing with snapshot-isolation
        conflict detection — ``with wh.transaction() as txn:
        txn.table('db', 'a').append(df)``."""
        from minio_iceberg_polaris_lakehouse_spark.transactions import Transaction

        return Transaction(self)

    def _locations_path(self) -> str:
        return os.path.join(self.root, "_locations.json")

    def table_locations(self) -> dict[str, str]:
        """'ns.name' → table dir RELATIVE to the warehouse root, only for
        identities whose dir differs from the default layout (renames)."""
        try:
            return json.loads(fsio.read_text(self._locations_path()))["locations"]
        except FileNotFoundError:
            return {}
        # other failures propagate (same rationale as views()/foreign_
        # tables(): collapsing to {} would let the next rename erase the
        # whole mapping and orphan every previously renamed table)

    def _resolve_table_dir(self, ns: str, name: str) -> tuple[str, bool]:
        """(absolute table dir, shadowed). Shadowed = the default dir
        ns/name is the recorded location of a DIFFERENT renamed identity,
        so the name ns.name itself does not exist."""
        locs = self.table_locations()
        key = f"{ns}.{name}"
        if key in locs:
            return os.path.join(self.root, locs[key]), False
        if f"{ns}/{name}" in set(locs.values()):
            return os.path.join(self.root, ns, name), True
        return os.path.join(self.root, ns, name), False

    def rename_table(self, ns: str, name: str, new_ns: str, new_name: str) -> None:
        """ALTER TABLE ns.name RENAME TO new_ns.new_name — metadata-only
        catalog-pointer update (works across namespaces, like Iceberg).
        Data, snapshots, MOR delete files, branches, exports: all
        untouched and all still valid, because the directory never moves.
        Also renames FOREIGN registrations (a pure catalog-key change).
        Views referencing the old name break at next resolution, exactly
        as in Iceberg/Polaris (views store SQL text, not lineage)."""
        key, new_key = f"{ns}.{name}", f"{new_ns}.{new_name}"
        if key == new_key:
            return
        if key in self.matviews():
            raise WarehouseError(
                f"{key} is a materialized view storage table; rename would "
                "orphan its registry entry"
            )
        # destination must be free across every catalog object kind
        if Table(self, new_ns, new_name).exists():
            raise WarehouseError(f"table {new_key} exists")
        if new_key in self.views():
            raise WarehouseError(f"{new_key} is a view")
        if new_key in self.foreign_tables():
            raise WarehouseError(f"{new_key} is a registered foreign table")
        if new_key in self.matviews():
            raise WarehouseError(f"{new_key} is a materialized view")
        regs = self.foreign_tables()
        if key in regs:  # foreign registration: move the catalog key
            regs[new_key] = regs.pop(key)
            self.create_namespace(new_ns)
            _atomic_write_json(self._foreign_path(), {"tables": regs})
            return
        src = Table(self, ns, name)
        if not src.exists():
            raise WarehouseError(f"table {key} does not exist")
        locs = self.table_locations()
        locs[new_key] = locs.pop(key, f"{ns}/{name}")
        self.create_namespace(new_ns)
        _atomic_write_json(self._locations_path(), {"locations": locs})

    # -- table lifecycle (reference D7/D8: warehouse_helpers.py:40-49,101) -
    def create_table(
        self,
        ns: str,
        name: str,
        schema: T.StructType | str,
        partition_by: str | None = None,
        transform: str = "identity",
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
    ) -> "Table":
        self.create_namespace(ns)
        t = Table(self, ns, name)
        if t.exists():
            if if_not_exists:
                return t
            raise WarehouseError(f"table {ns}.{name} exists")
        if f"{ns}.{name}" in self.views():
            # the inverse of create_view's guard: a table under a view's
            # name would be shadowed by the view in SELECT resolution
            # while DML hit the table — reject the ambiguity outright
            raise WarehouseError(f"{ns}.{name} is a view, not a table")
        if f"{ns}.{name}" in self.foreign_tables():
            raise WarehouseError(f"{ns}.{name} is a registered foreign table")
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        if t._shadowed:
            # the default dir belongs to a renamed identity — allocate a
            # fresh unique dir and record it (Iceberg catalogs likewise
            # assign a new location when a name is reused after rename)
            locs = self.table_locations()
            rel = f"{ns}/{name}_{uuid.uuid4().hex[:8]}"
            locs[f"{ns}.{name}"] = rel
            _atomic_write_json(self._locations_path(), {"locations": locs})
            t = Table(self, ns, name)
        fsio.makedirs(t.path, exist_ok=True)
        meta = {
            "schema": schema.json(),
            "table_uuid": str(uuid.uuid4()),
            # Iceberg-style stable field ids: assigned once, survive
            # renames, never reused after drops (iceberg_export.py)
            "column_ids": {f.name: i + 1 for i, f in enumerate(schema.fields)},
            "last_column_id": len(schema.fields),
            "partition": {"source": partition_by, "transform": transform},
            "spec_history": [{"source": partition_by, "transform": transform}],
            "properties": {
                "format": "parquet",
                "write.parquet.compression-codec": "zstd",
                "format-version": "2",
                # NEW bucketed tables default to the ICEBERG-SPEC bucket
                # hash, so every exported table is bucket-prunable by any
                # compliant engine without a per-table opt-in; the
                # property remains the escape hatch (spark-murmur3-seed42
                # keeps the JVM-side F.hash write path). Existing tables
                # are untouched — the stamp is fixed at CREATE and
                # refused after snapshots exist (set_properties).
                **(
                    {"write.bucket-hash": "iceberg-murmur3"}
                    if str(transform).startswith("bucket")
                    and "write.bucket-hash" not in (properties or {})
                    else {}
                ),
                **(properties or {}),
            },
            "created_at_ms": int(time.time() * 1000),
        }
        _atomic_write_json(os.path.join(t.path, META_FILE), meta)
        _atomic_write_json(os.path.join(t.path, SNAP_FILE), {"snapshots": []})
        return t

    def drop_table(self, ns: str, name: str, if_exists: bool = True) -> None:
        if f"{ns}.{name}" in self.matviews():
            # the storage table of a materialized view: dropping it alone
            # would leave a registry entry pointing at nothing
            raise WarehouseError(
                f"{ns}.{name} is a materialized view (use DROP MATERIALIZED VIEW)"
            )
        t = Table(self, ns, name)
        if not t.exists():
            if if_exists:
                return
            raise WarehouseError(f"table {ns}.{name} does not exist")
        fsio.rmtree(t.path)
        locs = self.table_locations()
        if locs.pop(f"{ns}.{name}", None) is not None:
            _atomic_write_json(self._locations_path(), {"locations": locs})

    # ---------------- views (catalog-level SQL views) ----------------
    def _views_path(self) -> str:
        return os.path.join(self.root, "_views.json")

    def views(self) -> dict[str, str]:
        """All view definitions, keyed 'ns.name' → SQL text. Views are
        CATALOG objects (like Iceberg/Polaris views): the stored SQL is
        re-resolved against table state at every query."""
        try:
            return json.loads(fsio.read_text(self._views_path()))["views"]
        except FileNotFoundError:
            return {}  # no views ever created
        # any OTHER failure (permissions, torn read, bad JSON) must NOT
        # collapse to {}: the next view write would then persist the
        # empty set and silently erase every existing definition

    def create_view(
        self,
        ns: str,
        name: str,
        sql_text: str,
        replace: bool = False,
        if_not_exists: bool = False,
    ) -> None:
        if Table(self, ns, name).exists():
            raise WarehouseError(f"{ns}.{name} is a table, not a view")
        if f"{ns}.{name}" in self.foreign_tables():
            # SELECT resolution checks foreign registrations BEFORE view
            # definitions — a view under this name would be silently
            # shadowed, never an error (same ambiguity the table/view
            # guards reject outright)
            raise WarehouseError(f"{ns}.{name} is a registered foreign table")
        views = self.views()
        key = f"{ns}.{name}"
        if key in views and not replace:
            if if_not_exists:
                return
            raise WarehouseError(f"view {key} exists (use CREATE OR REPLACE VIEW)")
        views[key] = sql_text
        self.create_namespace(ns)
        _atomic_write_json(self._views_path(), {"views": views})

    def drop_view(self, ns: str, name: str, if_exists: bool = False) -> None:
        views = self.views()
        key = f"{ns}.{name}"
        if key not in views:
            if if_exists:
                return
            raise WarehouseError(f"view {key} does not exist")
        del views[key]
        _atomic_write_json(self._views_path(), {"views": views})

    def alter_view(self, ns: str, name: str, sql_text: str) -> None:
        """ALTER VIEW ... AS — redefine an EXISTING view's body (unlike
        CREATE OR REPLACE, it refuses to create)."""
        views = self.views()
        key = f"{ns}.{name}"
        if key not in views:
            raise WarehouseError(f"view {key} does not exist")
        views[key] = sql_text
        _atomic_write_json(self._views_path(), {"views": views})

    def rename_view(self, ns: str, name: str, new_name: str) -> None:
        """ALTER VIEW ... RENAME TO — within the same namespace; the new
        name must be free of both views and tables."""
        views = self.views()
        key, new_key = f"{ns}.{name}", f"{ns}.{new_name}"
        if key not in views:
            raise WarehouseError(f"view {key} does not exist")
        if new_key in views:
            raise WarehouseError(f"view {new_key} exists")
        if Table(self, ns, new_name).exists():
            raise WarehouseError(f"{new_key} is a table, not a view")
        if new_key in self.foreign_tables():
            raise WarehouseError(f"{new_key} is a registered foreign table")
        views[new_key] = views.pop(key)
        _atomic_write_json(self._views_path(), {"views": views})

    # ---------------- materialized views ----------------
    # A materialized view is a real warehouse table (the storage) plus a
    # catalog record: the defining SQL, whether it is incrementally
    # maintainable, its single base table (incremental mode), and the
    # base snapshot the storage reflects. The SQL front-end owns
    # create/refresh logic (matview.py); the warehouse owns the record.
    def _matviews_path(self) -> str:
        return os.path.join(self.root, "_matviews.json")

    def matviews(self) -> dict[str, dict]:
        """'ns.name' → {sql, incremental, base, synced}."""
        try:
            return json.loads(fsio.read_text(self._matviews_path()))["matviews"]
        except FileNotFoundError:
            return {}
        # non-missing-file failures propagate (same rationale as views())

    def put_matview(self, ns: str, name: str, record: dict) -> None:
        mvs = self.matviews()
        mvs[f"{ns}.{name}"] = record
        _atomic_write_json(self._matviews_path(), {"matviews": mvs})

    def drop_matview(self, ns: str, name: str, if_exists: bool = False) -> None:
        """Remove the record AND the storage table (the entry goes first
        so a crash between the two leaves an ordinary droppable table,
        never a registry entry pointing at nothing)."""
        mvs = self.matviews()
        key = f"{ns}.{name}"
        if key not in mvs:
            if if_exists:
                return
            raise WarehouseError(f"materialized view {key} does not exist")
        del mvs[key]
        _atomic_write_json(self._matviews_path(), {"matviews": mvs})
        self.drop_table(ns, name, if_exists=True)

    # -------- foreign (open-format Iceberg) table registrations ----------
    # The reference's `CALL system.register_table` ("re-register existing
    # Iceberg tables by pointing to their metadata files", README.md:28):
    # a catalog entry mapping 'ns.name' → an Iceberg metadata location
    # read through sources/iceberg_reader.py. Registrations are READ-ONLY
    # attachments — the foreign writer owns the table; DROP TABLE removes
    # the registration and never touches the table's files.
    def _foreign_path(self) -> str:
        return os.path.join(self.root, "_foreign.json")

    def foreign_tables(self) -> dict[str, str]:
        """'ns.name' → registered metadata location (a table dir —
        re-resolved through version-hint.text at every read, so foreign
        commits stay visible — or a pinned vN.metadata.json path)."""
        try:
            return json.loads(fsio.read_text(self._foreign_path()))["tables"]
        except FileNotFoundError:
            return {}
        # non-missing-file failures must propagate (same rationale as
        # views()): collapsing to {} would let the next write erase every
        # registration

    def register_foreign_table(self, ns: str, name: str, metadata_location: str) -> str:
        """Attach a foreign Iceberg table under ``ns.name``; returns the
        resolved current metadata file (validates the location up
        front — a bad path must fail at CALL time, not first SELECT)."""
        key = f"{ns}.{name}"
        if Table(self, ns, name).exists():
            raise WarehouseError(f"{key} is a native table")
        if key in self.views():
            raise WarehouseError(f"{key} is a view")
        regs = self.foreign_tables()
        if key in regs:
            raise WarehouseError(f"foreign table {key} already registered")
        resolved = resolve_metadata_path(metadata_location)  # raises if unreadable
        regs[key] = metadata_location
        self.create_namespace(ns)
        _atomic_write_json(self._foreign_path(), {"tables": regs})
        return resolved

    def unregister_foreign_table(self, ns: str, name: str, if_exists: bool = False) -> None:
        regs = self.foreign_tables()
        key = f"{ns}.{name}"
        if key not in regs:
            if if_exists:
                return
            raise WarehouseError(f"foreign table {key} is not registered")
        del regs[key]
        _atomic_write_json(self._foreign_path(), {"tables": regs})

    def read_foreign_table(
        self, ns: str, name: str, snapshot_id: int | None = None, as_of_ms: int | None = None
    ):
        """DataFrame over a registered foreign table (time travel via the
        open metadata — snapshot id or timestamp)."""
        loc = self.foreign_tables().get(f"{ns}.{name}")
        if loc is None:
            raise WarehouseError(f"foreign table {ns}.{name} is not registered")
        return read_iceberg_table(self.spark, loc, snapshot_id=snapshot_id, as_of_ms=as_of_ms)

    def _writable_foreign(self, ns: str, name: str) -> str:
        """Location of the registered foreign table ``ns.name`` for a
        write through its open metadata (sources/iceberg_writer.py).
        Refuses a registration PINNED to a specific vN.metadata.json:
        the write would land in a version the pinned registration never
        serves, silently invisible to every subsequent read."""
        loc = self.foreign_tables().get(f"{ns}.{name}")
        if loc is None:
            raise WarehouseError(f"foreign table {ns}.{name} is not registered")
        if loc.endswith(".metadata.json"):
            raise WarehouseError(
                f"foreign table {ns}.{name} is pinned to {loc}; writes to a "
                "pinned registration would be invisible — register the table "
                "directory instead"
            )
        return loc

    def append_foreign_table(self, ns: str, name: str, df: DataFrame) -> str:
        """Append to a registered foreign table — new data files +
        manifest + vN+1 metadata, version hint advanced; returns the new
        metadata path."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
            append_iceberg_table,
        )

        loc = self._writable_foreign(ns, name)
        # honor the FOREIGN table's own write.upsert.enabled property
        # (Flink parity): its appends — incl. SQL INSERT INTO — commit
        # the upsert shape keyed on the schema's identifier-field-ids
        md = json.loads(fsio.read_text(resolve_metadata_path(loc)))
        if str(md.get("properties", {}).get("write.upsert.enabled", "")).lower() == "true":
            return self.upsert_foreign_table(ns, name, df)
        return append_iceberg_table(self.spark, loc, df)

    def upsert_foreign_table(
        self, ns: str, name: str, df: DataFrame, keys: list[str] | None = None
    ) -> str:
        """Flink/CDC-style UPSERT on a registered foreign table
        (sources/iceberg_writer.upsert_iceberg_table): ONE snapshot = raw
        content=2 equality-delete file over the batch's identifier-field
        keys + the batch's data files."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
            upsert_iceberg_table,
        )

        return upsert_iceberg_table(self.spark, self._writable_foreign(ns, name), df, keys=keys)

    def delete_foreign_table_where(self, ns: str, name: str, predicate: str) -> str | None:
        """Row-level DELETE on a registered foreign table (merge-on-read
        positional delete files + content=1 manifest,
        sources/iceberg_writer.py); returns the new metadata path, or
        None when nothing matched."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
            delete_iceberg_table_where,
        )

        return delete_iceberg_table_where(self.spark, self._writable_foreign(ns, name), predicate)

    def update_foreign_table_where(
        self, ns: str, name: str, assignments: dict[str, str], predicate: str
    ) -> str | None:
        """Row-level UPDATE on a registered foreign table: ONE open-
        metadata snapshot tombstoning the matched rows and re-writing
        them with the assignments applied (sources/iceberg_writer.py)."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
            update_iceberg_table_where,
        )

        return update_iceberg_table_where(
            self.spark, self._writable_foreign(ns, name), assignments, predicate
        )

    def merge_foreign_table(
        self,
        ns: str,
        name: str,
        source: DataFrame,
        on: str,
        matched_arms: list[dict] | None = None,
        insert_arm: dict | None = None,
        not_matched_by_source_arm: dict | None = None,
        target_alias: str = "t",
        source_alias: str = "s",
    ) -> str | None:
        """MERGE INTO a registered foreign table as ONE merge-on-read
        snapshot: the arms of `Table.merge_into_arms`, planned by the
        same `_merge_plan` (sources/iceberg_writer.merge_iceberg_table)."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
            merge_iceberg_table,
        )

        return merge_iceberg_table(
            self.spark,
            self._writable_foreign(ns, name),
            source,
            on,
            matched_arms=matched_arms,
            insert_arm=insert_arm,
            not_matched_by_source_arm=not_matched_by_source_arm,
            target_alias=target_alias,
            source_alias=source_alias,
        )


def _tzinfo_of(tz: str):
    """tzinfo for a Spark timezone string — region ids via zoneinfo,
    fixed offsets ('+05:30', 'GMT+8', 'UTC') parsed directly."""
    import datetime
    import re as _re

    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(tz)
    except Exception:
        m = _re.fullmatch(r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?", tz)
        if not m:
            raise WarehouseError(f"unparseable timezone: {tz}") from None
        sign = 1 if m.group(1) == "+" else -1
        return datetime.timezone(
            sign * datetime.timedelta(hours=int(m.group(2)), minutes=int(m.group(3) or 0))
        )


def _json_safe_bound(v: Any) -> Any:
    """JSON-serializable form of a parquet min/max statistic. Dates and
    timestamps become ISO strings, Decimals strings; binary (no total
    order we want to reason about) returns None → no bound recorded."""
    import datetime
    import decimal

    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return None


def _stat_min_max(st) -> tuple:
    """(min, max) of a column chunk's statistics. pyarrow cannot convert
    those of a DECIMAL stored as INT32/INT64 (how Spark writes precision
    up to 18); they rescale from the raw integers."""
    import decimal

    try:
        return st.min, st.max
    except NotImplementedError:  # pyarrow's ArrowNotImplementedError
        lt = json.loads(st.logical_type.to_json())
        if lt.get("Type") != "Decimal" or st.physical_type not in ("INT32", "INT64"):
            raise
        return tuple(decimal.Decimal(v).scaleb(-int(lt["scale"])) for v in (st.min_raw, st.max_raw))


def _file_column_bounds(pf) -> dict[str, list]:
    """Per-column [min, max] across a file's row groups, from footer
    statistics only (what Iceberg stores as manifest-entry lower_bounds /
    upper_bounds). Columns without complete min/max stats in every row
    group are omitted — absence of a bound means "cannot skip", never a
    wrong skip."""
    md = pf.metadata
    raw: dict[str, list] = {}
    incomplete: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in incomplete:
                continue  # nested columns: no file-level pruning
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no min/max")
                # merge on the RAW statistic values — stringifying first
                # would make Decimal/date merges lexicographic
                # (min('10.5','9.5') == '10.5': an inverted lower bound
                # that causes wrong skips, i.e. silent row loss)
                lo, hi = _stat_min_max(st)
                if _json_safe_bound(lo) is None or _json_safe_bound(hi) is None:
                    raise ValueError("unorderable bound type")
            except Exception:  # pyarrow raises ArrowNotImplementedError for
                incomplete.add(name)  # some types' statistics — no bound, no skip
                raw.pop(name, None)
                continue
            if name in raw:
                try:
                    raw[name][0] = min(raw[name][0], lo)
                    raw[name][1] = max(raw[name][1], hi)
                except TypeError:  # mixed raw types across row groups
                    incomplete.add(name)
                    raw.pop(name, None)
            else:
                raw[name] = [lo, hi]
    return {
        name: [_json_safe_bound(lo), _json_safe_bound(hi)] for name, (lo, hi) in raw.items()
    }


DIR_STATS_FILE = ".stats.json"  # dot-prefixed: invisible to Spark's file lister

# Commit dirs are immutable, so their stats are too — cache by sidecar path.
_STATS_CACHE: dict[str, list] = {}


def _parquet_footer_stats(out_dir: str) -> list[dict]:
    """Per-file (path, rows, bytes, column bounds) from parquet footers —
    metadata-only, no Spark job, no re-execution of the plan that produced
    the files (the same stats an Iceberg commit records in its manifest
    entries, incl. lower_bounds/upper_bounds for scan-time file skipping).

    Writes the stats as a SIDECAR (.stats.json) inside the data dir
    itself: the dir is immutable, so the sidecar is written once with the
    data (no lock), travels with it through GC, and keeps _meta.json
    O(dirs) instead of O(total files) — at 100 TB a central per-file stats
    blob would grow unbounded and every reader would parse all of it."""
    import pyarrow.parquet as pq

    stats = []
    for root, _dirs, files in fsio.walk(out_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                pf = pq.ParquetFile(fsio.open_binary(p))
                rec = {
                    "path": os.path.relpath(p, out_dir),
                    "rows": pf.metadata.num_rows,
                    "bytes": fsio.getsize(p),
                }
                b = _file_column_bounds(pf)
                if b:
                    rec["bounds"] = b
                stats.append(rec)
    _atomic_write_json(os.path.join(out_dir, DIR_STATS_FILE), {"files": stats})
    return stats


# rewrite_manifests bundles: one JSON covering many dirs' stats, cached by
# bundle path so one read serves every dir in the bundle.
_BUNDLE_CACHE: dict[str, dict] = {}


def _load_dir_stats(table_path: str, dirname: str, meta: dict) -> list[dict]:
    """A dir's per-file footer stats. Resolution order: a consolidated
    manifest bundle if `rewrite_manifests` has folded this dir into one
    (one bundle read serves up to BUNDLE_SIZE dirs — the point of the
    procedure), else the immutable sidecar written with the data, else
    the legacy central meta entry for tables written before sidecars.
    Readers touch only the dirs of the snapshot they scan — O(dirs read)
    before bundling, O(bundles read) after, never O(table files)."""
    bundle_rel = meta.get("dir_bundles", {}).get(dirname)
    if bundle_rel:
        bp = os.path.join(table_path, bundle_rel)
        bundle = _BUNDLE_CACHE.get(bp)
        if bundle is None:
            try:
                bundle = json.loads(fsio.read_text(bp))["dirs"]
                _BUNDLE_CACHE[bp] = bundle
            except (OSError, ValueError, KeyError):
                bundle = None  # dangling bundle ref: fall through to sidecar
        if bundle is not None and dirname in bundle:
            return bundle[dirname]
    p = os.path.join(table_path, dirname, DIR_STATS_FILE)
    cached = _STATS_CACHE.get(p)
    if cached is not None:
        return cached
    try:
        stats = json.loads(fsio.read_text(p))["files"]
    except (OSError, ValueError, KeyError):
        stats = meta.get("dir_stats", {}).get(dirname, [])
    _STATS_CACHE[p] = stats
    return stats


BLOOM_IDX_BITS = 1 << 17  # 16 KiB of bits per file
BLOOM_IDX_K = 4


def _atomic_write_json(path: str, obj: dict) -> None:
    """Commit = write-temp + rename: the atomic metadata-pointer swap the
    table format's ACID guarantee rests on (reference README.md:124).
    Compact separators, as Iceberg writes its metadata JSON."""
    body = json.dumps(obj, separators=(",", ":")).encode()
    fsio.write_bytes_atomic(path, body, uuid.uuid4().hex)


@dataclass
class PendingData:
    """A data directory written for a not-yet-committed snapshot. Carries
    the spec it was written under (merged into _meta.json ATOMICALLY with
    the snapshot append, inside the commit lock — an unlocked
    read-modify-write would let two concurrent appenders lose each
    other's dir_specs entries) and its parquet-footer stats for the
    commit summary; the stats themselves persist in the dir's immutable
    .stats.json sidecar, not in _meta.json."""

    dirname: str
    rows: int
    spec_rec: dict[str, Any]
    stats: list[dict]


class Table:
    def __init__(self, wh: Warehouse, ns: str, name: str):
        self.wh = wh
        self.spark = wh.spark
        self.ns = ns
        self.name = name
        # Catalog indirection (ALTER TABLE ... RENAME TO): a renamed
        # identity keeps its ORIGINAL directory — Iceberg rename is a
        # catalog-pointer change, never a data move (at 100 TB moving
        # files is a non-starter, and MOR tombstones record absolute
        # data-file paths that must stay valid). `_shadowed` marks the
        # default dir being claimed by some OTHER renamed identity, in
        # which case this name does not exist even though the dir does.
        # getattr: duck-typed warehouse stand-ins (raw commit-protocol
        # tests, embeddings) resolve to the default layout.
        resolve = getattr(wh, "_resolve_table_dir", None)
        if resolve is None:
            self.path, self._shadowed = os.path.join(wh.root, ns, name), False
        else:
            self.path, self._shadowed = resolve(ns, name)

    # ---------------- metadata ----------------
    def exists(self) -> bool:
        if self._shadowed:
            return False
        return fsio.isfile(os.path.join(self.path, META_FILE))

    def _meta(self) -> dict:
        return json.loads(fsio.read_text(os.path.join(self.path, META_FILE)))

    def _write_meta(self, meta: dict) -> None:
        _atomic_write_json(os.path.join(self.path, META_FILE), meta)

    def _write_meta_and_export(self, meta: dict) -> None:
        """Persist a metadata-only change (refs, properties, stats files)
        and publish it in the open Iceberg metadata."""
        self._write_meta(meta)
        from minio_iceberg_polaris_lakehouse_spark.iceberg_export import write_iceberg_metadata

        write_iceberg_metadata(self)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self._meta()["schema"]))

    def partition_spec(self) -> PartitionSpec:
        p = self._meta()["partition"]
        return PartitionSpec(p.get("source"), p.get("transform", "identity"))

    def properties(self) -> dict[str, str]:
        props = dict(self._meta()["properties"])
        mains = self._main_snaps()
        if mains:
            props["current-snapshot-id"] = str(mains[-1]["snapshot_id"])
        return props

    def _snaps(self) -> list[dict]:
        return json.loads(fsio.read_text(os.path.join(self.path, SNAP_FILE)))["snapshots"]

    def _main_snaps(self, snaps: list[dict] | None = None) -> list[dict]:
        """The main-branch lineage: every snapshot not staged on a named
        branch (write-audit-publish commits carry a "branch" tag and stay
        invisible to main until published)."""
        return [s for s in (self._snaps() if snaps is None else snaps) if not s.get("branch")]

    # -- commit protocol (§2.11): atomic pointer swap + optimistic locking --
    _LOCK_TIMEOUT_S = 20.0
    _LOCK_STALE_S = 60.0

    def _acquire_commit_lock(self) -> tuple[str, str]:
        """Mutual exclusion for the read-check-swap of the snapshot log:
        O_CREAT|O_EXCL file creation is atomic on a local/POSIX filesystem
        (on an object store this maps to a conditional PUT / CAS on the
        metadata pointer, which is exactly what Polaris does for Iceberg).
        Returns (lock_path, token); release verifies the token so a lock
        broken and re-acquired by someone else is never unlinked by the
        original holder. Stale locks (crashed writer) are broken after
        _LOCK_STALE_S by RENAME-then-verify, not unlink: renaming the lock
        aside is atomic, and re-checking the renamed file's mtime closes
        the check-then-unlink race where the holder releases and a fresh
        writer re-acquires between our getmtime and our delete."""
        lock = os.path.join(self.path, "_commit.lock")
        token = f"{os.getpid()}:{uuid.uuid4().hex}"
        deadline = time.monotonic() + self._LOCK_TIMEOUT_S
        while True:
            if fsio.try_create_exclusive(lock, token.encode()):
                return lock, token
            try:
                stale = time.time() - fsio.getmtime(lock) > self._LOCK_STALE_S
            except FileNotFoundError:
                continue
            if stale:
                broken = f"{lock}.broken.{uuid.uuid4().hex}"
                try:
                    fsio.rename(lock, broken)
                except FileNotFoundError:
                    continue  # holder released meanwhile; retry acquire
                if time.time() - fsio.getmtime(broken) > self._LOCK_STALE_S:
                    fsio.remove(broken)  # verified stale; retry acquire
                else:
                    # raced: we renamed a FRESH lock aside — restore it
                    # unless an even newer lock already took the name
                    fsio.restore_renamed_lock(broken, lock)
                continue
            if time.monotonic() > deadline:
                raise WarehouseError(
                    f"commit lock timeout on {self.ns}.{self.name}"
                ) from None
            time.sleep(0.01)

    def _release_commit_lock(self, lock: str, token: str) -> None:
        """Unlink only if the lock still carries OUR token — if it was
        broken as stale and re-acquired, deleting it would free someone
        else's critical section."""
        try:
            if fsio.read_text(lock) == token:
                fsio.remove(lock)
        except FileNotFoundError:
            pass

    def _append_snapshot(
        self,
        snaps: list[dict],
        operation: str,
        dirs: list[str],
        summary: dict[str, Any],
        delete_dirs: list[str] | None = None,
        branch: str | None = None,
        eq_deletes: list[dict] | None = None,
        parent_id: int | None = None,
        pending: list["PendingData"] | None = None,
        repoint: str | None = None,
    ) -> int:
        """Commit one snapshot — caller MUST hold the commit lock. Writes
        each metadata file once: `_meta.json` (the new dirs' specs,
        sequence numbers and row-id bases, the advanced ref), then
        `_snapshots.json`, then the Iceberg export. ``pending`` carries
        freshly written dirs' specs; a ``branch`` commit advances that
        branch's ref to the new snapshot, and ``repoint`` names a ref
        that moves to it as well (fast_forward's branch)."""
        meta = self._meta()
        # the snapshot id IS the Iceberg sequence number: monotonic and
        # never reused, even when expiry dropped the highest snapshot
        last = snaps[-1]["snapshot_id"] if snaps else 0
        sid = max(last, int(meta.get("last_sequence_number", 0))) + 1
        if parent_id is not None:
            # explicit base (branch commits pass their ref's snapshot so a
            # branch re-pointed after a publish forks from the PUBLISHED
            # head, not from stale branch-tagged history)
            parent = parent_id
        elif branch:
            chain = [s for s in snaps if s.get("branch") == branch]
            lineage = chain or self._main_snaps(snaps)
            parent = lineage[-1]["snapshot_id"] if lineage else None
        else:
            mains = self._main_snaps(snaps)
            parent = mains[-1]["snapshot_id"] if mains else None
        entry = {
            "snapshot_id": sid,
            "parent_id": parent,
            "committed_at_ms": int(time.time() * 1000),
            "operation": operation,
            "manifest": dirs,
            # positional-delete files live on the SNAPSHOT (Iceberg v2
            # merge-on-read): data dirs stay untouched, tombstones
            # apply on read
            "delete_dirs": delete_dirs or [],
            # equality-delete files ({dir, cols, seq}): rows matching the
            # key columns are dead IF their data sequence < seq
            "eq_deletes": [
                {**r, "seq": r["seq"] if r.get("seq") is not None else sid}
                for r in (eq_deletes or [])
            ],
            "summary": summary,
            # schema as of this commit — time travel projects THIS, not
            # the table's current schema (Iceberg resolves time-travel
            # reads with the snapshot's schema)
            "schema": meta["schema"],
        }
        if branch:
            # staged on a named branch (write-audit-publish): invisible to
            # main reads until fast_forward/cherry_pick publishes it
            entry["branch"] = branch
        snaps.append(entry)
        for p in pending or []:
            meta.setdefault("dir_specs", {})[p.dirname] = p.spec_rec
        # persist each dir's DATA SEQUENCE (the snapshot that first added
        # it; delete dirs too — the export's manifests carry it) in table
        # meta: equality-delete applicability and the exported sequence
        # numbers must survive expire_snapshots truncating the log they
        # could otherwise be derived from
        seq_rec = meta.setdefault("dir_seqs", {})
        for d in dirs + (delete_dirs or []):
            seq_rec.setdefault(d, sid)
        meta["last_sequence_number"] = sid
        # Iceberg v3 row lineage: every dir first committed here gets a
        # first-row-id base carved out of the table's next-row-id counter,
        # advanced by the dir's footer row count — `_row_id` then derives
        # as base + file offset + row position with no per-row storage
        # (rewrites that carry rows materialize their ids instead; see
        # _write_data(lineage_cols=True)). Mirrors the spec's rule that
        # next-row-id advances by record_count of every added file.
        row_rec = meta.setdefault("dir_row_ids", {})
        next_row = int(meta.get("next_row_id", 0))
        first_row_id = None
        for d in dirs:
            if d not in row_rec:
                rows = sum(
                    int(f.get("rows", 0)) for f in _load_dir_stats(self.path, d, meta)
                )
                row_rec[d] = next_row
                if first_row_id is None:
                    first_row_id = next_row
                next_row += rows
        meta["next_row_id"] = next_row
        if first_row_id is not None:
            entry["first_row_id"] = first_row_id
        for ref in {branch, repoint} - {None}:
            meta["refs"][ref]["snapshot_id"] = sid
        self._write_meta(meta)
        _atomic_write_json(os.path.join(self.path, SNAP_FILE), {"snapshots": snaps})
        # publish the commit as Iceberg-v2 open metadata so readers other
        # than this engine can resolve schema + data files
        from minio_iceberg_polaris_lakehouse_spark.iceberg_export import write_iceberg_metadata

        write_iceberg_metadata(self)
        return sid

    @staticmethod
    def _split_adds(adds: list) -> tuple[list[str], list["PendingData"]]:
        """Commit inputs may be PendingData (normal write path) or raw dir
        names (protocol-level tests / external tooling); raw names carry no
        meta to record."""
        dirs = [a.dirname if isinstance(a, PendingData) else a for a in adds]
        return dirs, [a for a in adds if isinstance(a, PendingData)]

    def _commit_add(
        self, operation: str, adds: list, summary: dict[str, Any], branch: str | None = None
    ) -> int:
        """Commit that ADDS data dirs to whatever the current snapshot is.
        Appends are commutative, so under the lock they always succeed —
        two concurrent appenders both land, neither lost (Iceberg gives
        appends the same fast-path retry). ``branch`` stages the commit on
        a named branch instead of main (write-audit-publish): the base is
        the branch's current head (the ref), and the ref advances to the
        new snapshot — main readers never see it until published."""
        new_dirs, pending = self._split_adds(adds)
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                meta = self._meta()
                rec = meta.get("refs", {}).get(branch)
                if rec is None or rec.get("type") != "BRANCH":
                    raise WarehouseError(
                        f"unknown branch {branch!r} on {self.ns}.{self.name} "
                        "(create it first: create_ref(name, 'branch'))"
                    )
                base = next(s for s in snaps if s["snapshot_id"] == int(rec["snapshot_id"]))
                return self._append_snapshot(
                    snaps,
                    operation,
                    base["manifest"] + new_dirs,
                    summary,
                    base.get("delete_dirs", []),
                    branch=branch,
                    eq_deletes=base.get("eq_deletes", []),
                    parent_id=base["snapshot_id"],
                    pending=pending,
                )
            mains = self._main_snaps(snaps)
            live = (mains[-1]["manifest"] if mains else []) + new_dirs
            # appends don't touch existing rows: the parent's tombstones
            # (positional AND equality) stay in force — new rows carry a
            # HIGHER sequence, so equality deletes can't touch them
            inherited = mains[-1].get("delete_dirs", []) if mains else []
            inherited_eq = mains[-1].get("eq_deletes", []) if mains else []
            return self._append_snapshot(
                snaps, operation, live, summary, inherited, eq_deletes=inherited_eq, pending=pending
            )
        finally:
            self._release_commit_lock(lock, token)

    def _commit_replace(
        self,
        operation: str,
        adds: list,
        summary: dict[str, Any],
        expected_parent: int | None,
        branch: str | None = None,
        delete_dirs: list[str] | None = None,
        eq_deletes: list[dict] | None = None,
    ) -> int:
        """Commit that REPLACES the manifest based on state read at
        ``expected_parent``. If another writer committed since, the result
        would silently drop their rows — so it conflicts instead of
        committing (optimistic concurrency; raise, caller re-reads and
        retries). ``branch`` stages the replacement on a named branch
        (write-audit-publish row-level DML): the conflict check runs
        against the BRANCH head, the snapshot is branch-tagged (invisible
        to main until fast_forward publishes it), and the ref advances."""
        dirs, pending = self._split_adds(adds)
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                meta = self._meta()
                rec = meta.get("refs", {}).get(branch)
                if rec is None or rec.get("type") != "BRANCH":
                    raise WarehouseError(
                        f"unknown branch {branch!r} on {self.ns}.{self.name}"
                    )
                current = int(rec["snapshot_id"])
            else:
                mains = self._main_snaps(snaps)
                current = mains[-1]["snapshot_id"] if mains else None
            if current != expected_parent:
                raise CommitConflictError(
                    f"{self.ns}.{self.name}: snapshot moved {expected_parent} -> "
                    f"{current} during {operation}; re-read and retry"
                )
            return self._append_snapshot(
                snaps,
                operation,
                dirs,
                summary,
                delete_dirs=delete_dirs,
                branch=branch,
                eq_deletes=eq_deletes,
                parent_id=current if branch else None,
                pending=pending,
            )
        finally:
            self._release_commit_lock(lock, token)

    def current_snapshot_id(self) -> int | None:
        mains = self._main_snaps()
        return mains[-1]["snapshot_id"] if mains else None

    def _resolve(
        self,
        version: int | str | None = None,
        as_of_ms: int | None = None,
        snaps: list[dict] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """The snapshot a read at ``version``/``as_of_ms`` sees, resolved
        over ``snaps`` (default: `_snapshots.json` as stored); a ref name
        resolves over ``meta`` (default: `_meta.json` as stored)."""
        if isinstance(version, str):  # branch/tag name -> pinned snapshot
            refs = (meta or self._meta()).get("refs", {})
            if version not in refs:
                raise WarehouseError(f"unknown ref {version!r} on {self.ns}.{self.name}")
            version = int(refs[version]["snapshot_id"])
        snaps = self._snaps() if snaps is None else snaps
        if not snaps:
            if version is not None:
                raise WarehouseError(f"snapshot {version} not found for {self.ns}.{self.name}")
            return {"manifest": [], "snapshot_id": None}
        if version is not None:
            for s in snaps:
                if s["snapshot_id"] == version:
                    return s
            raise WarehouseError(f"snapshot {version} not found for {self.ns}.{self.name}")
        # default / timestamp reads resolve on the MAIN lineage only —
        # branch-staged (write-audit-publish) snapshots are addressable by
        # id or ref name but invisible to main until published
        mains = self._main_snaps(snaps)
        if not mains:
            return {"manifest": [], "snapshot_id": None}
        if as_of_ms is not None:
            eligible = [s for s in mains if s["committed_at_ms"] <= as_of_ms]
            if not eligible:
                raise WarehouseError(f"no snapshot at or before {as_of_ms}")
            return eligible[-1]
        return mains[-1]

    # ---------------- read path (S1/S5/S6) ----------------
    @staticmethod
    def _transform_type(spec: PartitionSpec, source_dtype: T.DataType | None) -> T.DataType:
        """Storage type of a derived partition column. truncate keeps the
        source's type; a dropped source falls back to string (hive-path
        values parse back from the dir name regardless)."""
        t = spec.transform
        if t == "identity" or t.startswith("truncate"):
            return source_dtype if source_dtype is not None else T.StringType()
        if t == "day":
            return T.DateType()
        if t in ("month", "hour"):
            return T.StringType()
        if t == "year" or t.startswith("bucket"):
            return T.IntegerType()
        return T.StringType()

    def _dir_spec(self, dirname: str, meta: dict | None = None) -> tuple[PartitionSpec, int]:
        """(spec, spec_id) a data directory was WRITTEN under. Specs can
        evolve without rewrites (reference README.md:129-130), so each dir
        remembers its own; pre-evolution tables fall back to the current.
        Pass ``meta`` when calling per-directory — avoids O(commit-dirs)
        re-reads of _meta.json per scan."""
        meta = self._meta() if meta is None else meta
        rec = meta.get("dir_specs", {}).get(dirname)
        if rec is None:
            p = meta["partition"]
            return PartitionSpec(p.get("source"), p.get("transform", "identity")), 0
        return (
            PartitionSpec(rec.get("source"), rec.get("transform", "identity")),
            int(rec.get("spec_id", 0)),
        )

    def _physical_schema(
        self, spec: PartitionSpec | None = None, schema: T.StructType | None = None
    ) -> T.StructType:
        """Logical schema + the derived partition column of ``spec``. Reads
        always pass an explicit schema: no inference pass over footers,
        NULL backfill for files written before an ADD COLUMN, dropped
        columns simply absent, and empty commit directories (e.g. a DELETE
        that removed every row) stay readable."""
        schema = self.schema() if schema is None else schema
        spec = spec if spec is not None else self.partition_spec()
        if spec.column() is not None and spec.source in schema.fieldNames():
            dt = self._transform_type(spec, schema[spec.source].dataType)
            # COPY before add(): StructType.add mutates in place and the
            # caller's schema object is shared across directories
            schema = T.StructType(list(schema.fields)).add(spec.column(), dt)
        return schema

    def _dir_columns(self, dirname: str, meta: dict) -> list[str] | None:
        """Physical column names a dir was written with. New writes record
        them in dir_specs; legacy dirs fall back to one parquet footer
        (driver-side, metadata-only)."""
        rec = meta.get("dir_specs", {}).get(dirname)
        if rec and "columns" in rec:
            return rec["columns"]
        stats = _load_dir_stats(self.path, dirname, meta)
        try:
            if stats:
                fpath = os.path.join(self.path, dirname, stats[0]["path"])
            else:
                fpath = next(
                    os.path.join(root, f)
                    for root, _dirs, files in fsio.walk(os.path.join(self.path, dirname))
                    for f in sorted(files)
                    if f.endswith(".parquet")
                )
            import pyarrow.parquet as pq

            return list(pq.ParquetFile(fsio.open_binary(fpath)).schema_arrow.names)
        except (StopIteration, OSError):
            return None

    def _dir_frames(
        self,
        dirs: list[str],
        schema: T.StructType | None = None,
    ) -> list[tuple[PartitionSpec, int, DataFrame]]:
        """One scan per commit directory — commit dirs are each internally
        consistent hive layouts but differ across schema-evolution /
        partition-spec boundaries, so they cannot share one inference pass
        (or, post-evolution, one partition column). _meta.json is read ONCE
        here and threaded through (not once per directory).

        RENAME COLUMN support: files written before a rename carry the old
        physical name; each dir's written columns are mapped through the
        rename chain (stopping at the first name present in the target
        schema, so time-travel reads against pre-rename snapshot schemas
        resolve too) and the scan reads the old name, aliasing to the
        target name — values survive renames without rewrites (the
        name-based analogue of Iceberg's field-id resolution)."""
        meta = self._meta()
        if schema is None:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
        renames = meta.get("renames", [])
        defaults = meta.get("column_defaults", {})
        target_names = set(schema.fieldNames())

        def map_name(written: str) -> str:
            n = written
            if n in target_names:
                return n
            for r in renames:
                if n == r["from"]:
                    n = r["to"]
                    if n in target_names:
                        return n
            return n

        out = []
        for d in dirs:
            spec, spec_id = self._dir_spec(d, meta)
            phys = self._physical_schema(spec, schema)
            path = os.path.join(self.path, d)

            alias: dict[str, str] = {}
            if renames:
                written = self._dir_columns(d, meta) or []
                alias = {
                    wc: map_name(wc) for wc in written if map_name(wc) != wc
                }
            if alias:
                inv = {v: k for k, v in alias.items()}
                read_schema = T.StructType(
                    [
                        T.StructField(inv.get(f.name, f.name), f.dataType, f.nullable)
                        for f in phys.fields
                    ]
                )
                df = self.spark.read.schema(read_schema).parquet(path)
                df = df.select(
                    *[F.col(inv.get(f.name, f.name)).alias(f.name) for f in phys.fields]
                )
            else:
                df = self.spark.read.schema(phys).parquet(path)
            if defaults:
                # Iceberg v3 initial-defaults: a column declared with a
                # DEFAULT reads the default — not NULL — from dirs whose
                # files were written before the column existed. Presence
                # is judged on the dir's written columns mapped through
                # the rename chain (the name-based absent-field-id rule);
                # dirs that contain the column keep stored values,
                # explicit NULLs included.
                written = self._dir_columns(d, meta) or []
                present = {map_name(wc) for wc in written}
                missing = {
                    f.name: F.expr(
                        f"CAST({defaults[f.name]} AS {f.dataType.simpleString()})"
                    )
                    for f in phys.fields
                    if f.name in defaults and f.name not in present
                }
                if missing:
                    df = df.select(
                        *[
                            missing[f.name].alias(f.name)
                            if f.name in missing
                            else F.col(f.name)
                            for f in phys.fields
                        ]
                    )
            out.append((spec, spec_id, df))
        return out

    def _read_dirs(
        self,
        dirs: list[str],
        schema: T.StructType | None = None,
        file_pos: bool = False,
        seq_of: dict[str, int] | None = None,
    ) -> DataFrame:
        """``file_pos=True`` appends `_file`/`_pos` (from Spark's native
        `_metadata` hidden column — JVM-side, no extra scan) for
        positional-delete application. ``seq_of`` (dir → data sequence
        number, i.e. the snapshot that first added the dir) appends a
        per-dir `_seq` literal — equality deletes only apply to rows
        whose sequence predates the delete file's (Iceberg v2)."""
        schema = self.schema() if schema is None else schema
        if not dirs:
            df = local_frame(self.spark, [], schema)
            if file_pos:
                df = df.select(
                    "*",
                    F.lit(None).cast("string").alias("_file"),
                    F.lit(None).cast("long").alias("_pos"),
                )
            if seq_of is not None:
                df = df.select("*", F.lit(None).cast("long").alias("_seq"))
            return df
        frames = self._dir_frames(dirs, schema)
        cols = schema.fieldNames()
        extra = (
            [
                F.col("_metadata.file_path").alias("_file"),
                F.col("_metadata.row_index").alias("_pos"),
            ]
            if file_pos
            else []
        )

        def project(spec: PartitionSpec, df: DataFrame, d: str) -> DataFrame:
            dir_extra = list(extra)
            if seq_of is not None:
                dir_extra.append(F.lit(int(seq_of.get(d, 0))).cast("long").alias("_seq"))
            # identity transform: the hive partition column holds the
            # source value EXACTLY, so project it in the source's place
            if (
                spec.transform == "identity"
                and spec.column() is not None
                and spec.column() in df.columns
                and spec.source in cols
            ):
                return df.select(
                    *[
                        F.col(spec.column()).alias(c) if c == spec.source else F.col(c)
                        for c in cols
                    ],
                    *dir_extra,
                )
            return df.select(*cols, *dir_extra)

        df = project(frames[0][0], frames[0][2], dirs[0])
        for (spec, _sid, other), d in zip(frames[1:], dirs[1:]):
            df = df.unionByName(project(spec, other, d))
        return df

    def _dir_seqs(self) -> dict[str, int]:
        """Data sequence number per dir: the snapshot that first added it.
        Read from the commit-time record in table meta (which survives
        snapshot expiry); legacy dirs fall back to the log walk."""
        seqs = {d: int(v) for d, v in self._meta().get("dir_seqs", {}).items()}
        for s in self._main_snaps():
            for d in s["manifest"]:
                seqs.setdefault(d, s["snapshot_id"])
        return seqs

    # ---------------- merge-on-read equality deletes (Iceberg v2) ----------
    def _eq_key_frame(self, rec: dict) -> DataFrame:
        """One equality-delete file's distinct key rows, renamed with an
        __eq_ prefix so joins never collide with data column names."""
        cols = rec["cols"]
        keys = (
            self.spark.read.parquet(os.path.join(self.path, rec["dir"]))
            .select(*cols)
            .dropDuplicates(cols)
        )
        return keys.select(*[F.col(c).alias(f"__eq_{c}") for c in cols])

    def _eq_match_cond(self, df: DataFrame, rec: dict):
        # Iceberg v2 sequence rule: an equality delete applies only to
        # rows whose data file PREDATES the delete file — later re-inserts
        # of the same key survive
        cond = df["_seq"] < F.lit(int(rec["seq"]))
        for c in rec["cols"]:
            cond = cond & df[c].eqNullSafe(F.col(f"__eq_{c}"))
        return cond

    # ------------- merge-on-read positional deletes (Iceberg v2) -----------
    _DELETE_SCHEMA = "file_path string, pos bigint"

    def position_deletes(self) -> DataFrame:
        """<table>.position_deletes metadata table (Iceberg): the current
        snapshot's positional tombstones exactly as stored — (file_path,
        pos) plus the delete file that recorded each. Unlike the other
        metadata tables this one reads data files (the delete parquets),
        as Iceberg's does; the read is distributed and O(delete files),
        and building it lists no directories in a Spark job (`_parquet`
        slices the delete dirs at the listing threshold)."""
        snap = self._resolve()
        dirs = snap.get("delete_dirs", [])
        schema = "file_path string, pos bigint, delete_file_path string"
        if not dirs:
            return local_frame(self.spark, [], schema)
        return _parquet(
            self.spark,
            self._DELETE_SCHEMA,
            [os.path.join(self.path, d) for d in dirs],
            ["file_path", "pos", F.col("_metadata.file_path").alias("delete_file_path")],
        )

    def read(
        self,
        version: int | str | None = None,
        as_of_ms: int | None = None,
        metadata_columns: bool = False,
        lineage: bool = False,
    ) -> DataFrame:
        """Snapshot-isolated read through `read_iceberg_table` over the
        table's published Iceberg metadata. `version` (a snapshot id, or
        a branch/tag name) and `as_of_ms` give the reference's VERSION AS
        OF / TIMESTAMP AS OF (warehouse_helpers.py:134-136), projected
        with the SNAPSHOT's schema; timestamps resolve on the main
        lineage only, so a snapshot staged on a branch stays invisible to
        them until published.

        ``metadata_columns=True`` adds Iceberg's metadata columns
        `_file, _pos, _spec_id, _partition, _deleted` (reference
        getting_started.ipynb:128-132). `_partition` is one struct over
        the partition fields of every spec in play, and `_deleted` is
        LIVE: rows that merge-on-read deletes retired stay visible with
        `_deleted=true` (Iceberg's inspect-deleted-rows workflow) while
        normal reads exclude them. Copy-on-write deletes rewrite data
        instead, so their removed rows leave the table entirely.

        ``lineage=True`` adds Iceberg v3 ROW LINEAGE columns `_row_id`
        and `_last_updated_sequence_number`: a file's first row id (set
        at commit, published in its manifest) plus the row's position,
        or the ids that rewrites (compaction, copy-on-write DML)
        materialized into the file so carried-over rows keep their
        identity; merge-on-read never touches surviving rows' files, so
        their ids hold by construction."""
        snaps, meta = self._snaps(), self._meta()
        snap = self._resolve(version, as_of_ms, snaps, meta)  # the WarehouseErrors callers expect
        at = (
            {"ref": version}
            if isinstance(version, str)
            else {"snapshot_id": version, "as_of_ms": as_of_ms}
        )
        path, md = self._published_metadata(snaps, meta)
        df = read_iceberg_table(
            self.spark,
            path,
            row_lineage=lineage,
            metadata_columns=metadata_columns,
            _metadata=md,
            **at,
        )
        time_travel = version is not None or as_of_ms is not None
        return self._as_table_types(df, snap if time_travel else None, meta)

    def _as_table_types(
        self, df: DataFrame, snap: dict | None = None, meta: dict | None = None
    ) -> DataFrame:
        """Iceberg has no 8/16-bit integers: cast such columns of a
        reader frame back to the table's own types (``snap``'s schema for
        time travel, else the current one of ``meta``, default
        `_meta.json` as stored)."""
        schema = T.StructType.fromJson(
            json.loads(
                snap["schema"]
                if snap and snap.get("schema")
                else (meta or self._meta())["schema"]
            )
        )
        narrow = {
            f.name: f.dataType
            for f in schema.fields
            if isinstance(f.dataType, (T.ByteType, T.ShortType))
        }
        if not narrow:
            return df
        return df.select(
            *[df[c].cast(narrow[c]).alias(c) if c in narrow else df[c] for c in df.columns]
        )

    def scan(self, eq: dict[str, Any] | None = None, between: dict[str, tuple] | None = None) -> DataFrame:
        """Pruned read of the current snapshot: ``eq={"created_at":
        "2024-11-25"}`` / ``between={"ts": (lo, hi)}`` (either end may be
        None) filter the rows, and the one scan planner —
        `read_iceberg_table` over the table's published Iceberg metadata
        — plans only the files whose partition values (mapped through
        the transform each file was written under: hidden partitioning,
        correct across spec evolution), column bounds or Bloom index can
        match. Pruning saves IO only; the filters apply on top."""
        path, md = self._published_metadata()
        df = self._as_table_types(
            read_iceberg_table(self.spark, path, eq=eq, between=between, _metadata=md)
        )
        conds = [F.col(c) == v for c, v in (eq or {}).items()]
        for c, (lo, hi) in (between or {}).items():
            conds += ([F.col(c) >= lo] if lo is not None else []) + (
                [F.col(c) <= hi] if hi is not None else []
            )
        if conds:
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            df = df.filter(cond)
        return df

    def _published_metadata(
        self, snaps: list[dict] | None = None, meta: dict | None = None
    ) -> tuple[str, dict]:
        """Path and parsed document of the published `vN.metadata.json`,
        checked against the main lineage of ``snaps`` and the refs and
        columns of ``meta`` (defaults: `_snapshots.json` and `_meta.json`
        as stored).
        When its main head, its other refs (branches, tags) or its
        current columns are not the table's (an export after a commit,
        ref move or ALTER failed), the table is re-exported under the
        commit lock first: a read planned from the published metadata
        must never serve an older state."""
        meta = meta or self._meta()
        refs = {n: int(r["snapshot_id"]) for n, r in meta.get("refs", {}).items()}
        mains = self._main_snaps(snaps)
        head = mains[-1]["snapshot_id"] if mains else None
        if head is not None:
            refs.setdefault("main", head)
        columns = T.StructType.fromJson(json.loads(meta["schema"])).fieldNames()
        try:
            path = resolve_metadata_path(self.path)
            md = json.loads(fsio.read_text(path))
            (cur,) = [s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]]
            if (
                md.get("current-snapshot-id") == (-1 if head is None else head)
                and {n: r["snapshot-id"] for n, r in md.get("refs", {}).items()} == refs
                and [f["name"] for f in cur["fields"]] == columns
            ):
                return path, md
        except FileNotFoundError:
            pass
        from minio_iceberg_polaris_lakehouse_spark.iceberg_export import write_iceberg_metadata

        lock, token = self._acquire_commit_lock()
        try:
            path = write_iceberg_metadata(self)
        finally:
            self._release_commit_lock(lock, token)
        return path, json.loads(fsio.read_text(path))

    def incremental_scan(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Iceberg-style incremental APPEND scan: the rows of the data
        files that joined the table in (from_version, to_version], minus
        rows merge-on-read deletes retired as of ``to_version`` — the
        change-consumption primitive a downstream pipeline polls ("give
        me what's new since snapshot N"), O(new data), never a rescan.
        Snapshots that REPLACE data (overwrite/compact/copy-on-write DML)
        are not expressible as pure appends; encountering one raises, as
        Iceberg's incremental scan does."""
        snaps = self._main_snaps()
        by_id = {s["snapshot_id"]: s for s in snaps}
        if from_version not in by_id:
            raise SnapshotNotFoundError(f"snapshot {from_version} not found")
        to_version = to_version if to_version is not None else snaps[-1]["snapshot_id"]
        if to_version not in by_id:
            raise SnapshotNotFoundError(f"snapshot {to_version} not found")
        base = set(by_id[from_version]["manifest"])
        non_append = [
            s["snapshot_id"]
            for s in snaps
            if from_version < s["snapshot_id"] <= to_version
            and (
                s["operation"] not in ("append", "delete", "update")
                or not base.issubset(set(s["manifest"]))
            )
        ]
        if non_append:
            raise WarehouseError(
                f"incremental scan crosses replacing snapshot(s) {non_append}; "
                "data was rewritten — fall back to a full scan"
            )
        path, md = self._published_metadata(snaps)
        df = incremental_read_iceberg_table(
            self.spark, path, from_version, to_version, _metadata=md
        )
        return self._as_table_types(df, by_id[to_version])

    def changes(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        lineage: bool = False,
    ) -> DataFrame:
        """Iceberg changelog scan (`CALL system.create_changelog_view`)
        through `changes_iceberg_table` over the table's published
        metadata: the row-level changes committed by main-lineage
        snapshots in (``from_version``, ``to_version``], each tagged
        `_change_type` ('insert' | 'delete'), `_commit_snapshot_id`, and
        `_change_ordinal` (commit order within the window) — the CDC feed
        a downstream consumer applies to stay in sync.

        Per snapshot, Iceberg's file-level changelog semantics: rows of
        added data files are inserts; rows of removed data files are
        deletes (minus rows the parent had already retired — those were
        emitted when their delete committed); rows that new
        merge-on-read deletes retire are deletes. `replace` snapshots
        (compaction, rewrite_position_delete_files) rewrite bytes without
        changing table contents, so they emit nothing. The scan reads
        only the churned files of each snapshot (plus, for a row-level
        delete commit, the parent's live rows filtered by a broadcast
        semi-join) — O(changed data), never a diff of two table reads.

        ``lineage=True`` (opt-in; existing consumers fold the change
        columns by prefix and must not see a new data column) adds
        Iceberg v3's `_row_id` to every emitted row: a delete and a
        later insert carrying the SAME `_row_id` are one logical row
        moving (copy-on-write UPDATE under identity preservation) — the
        correlation a CDC consumer cannot recover from values alone."""
        mains = self._main_snaps()
        by_id = {s["snapshot_id"]: s for s in mains}
        for v in (to_version, from_version):
            if v is not None and v not in by_id:
                raise SnapshotNotFoundError(f"snapshot {v} not found")
        to = by_id[to_version] if to_version is not None else (mains[-1] if mains else None)
        start = from_version or 0
        if to is not None and start > to["snapshot_id"]:
            start = to["snapshot_id"]  # a window ending before it starts is empty
        path, md = self._published_metadata(mains)
        df = changes_iceberg_table(
            self.spark, path, start, to_version, row_lineage=lineage, _metadata=md
        )
        return self._as_table_types(df, to)

    def to_pandas(self, **kw):
        """Arrow-backed pandas export (reference S9: warehouse_helpers.py:117)."""
        return self.read(**kw).toPandas()

    # ---------------- write path (S7/S8/M2) ----------------
    def _write_data(
        self, df: DataFrame, pre_clustered: bool = False, lineage_cols: bool = False
    ) -> PendingData:
        """Write one immutable data directory for this commit (executors do
        all IO; zstd parquet as in the reference table properties). The row
        count comes from the written files' parquet FOOTERS, not a second
        execution of the input plan: the upstream lineage may be
        arbitrarily expensive and must run exactly once (footer reads are
        O(files) metadata-only, the same stats an Iceberg commit records
        in its manifest). Does NOT touch _meta.json — the dir's spec and
        stats ride in the returned PendingData and are merged into meta by
        the commit, inside the commit lock (see _append_snapshot)."""
        dirname = f"data-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, dirname)
        meta = self._meta()
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        spec = self.partition_spec()
        cols = schema.fieldNames()
        missing = [c for c in cols if c not in df.columns]
        defaults = meta.get("column_defaults", {})
        write_defaults = meta.get("column_write_defaults", {})
        for c in missing:
            # Iceberg v3 write-default: an omitted column fills with its
            # write-default (SET DEFAULT), falling back to the
            # initial-default it was added with; DROP DEFAULT stores an
            # explicit None -> NULL; otherwise NULL as before
            lit = write_defaults[c] if c in write_defaults else defaults.get(c)
            if lit is not None:
                df = df.withColumn(
                    c, F.expr(f"CAST({lit} AS {schema[c].dataType.simpleString()})")
                )
            else:
                df = df.withColumn(c, F.lit(None).cast(schema[c].dataType))
        aligned = df.select(
            *[F.col(c).cast(schema[c].dataType).alias(c) for c in cols],
            # lineage_cols: rewrites (compaction / copy-on-write DML)
            # materialize the rows' Iceberg v3 row ids into the files so
            # carried-over rows keep their identity — read back by the
            # Iceberg reader's row lineage, invisible to normal reads
            *(
                [
                    F.col("_row_id").cast("long").alias(LIN_ROW_ID),
                    F.col("_last_updated_sequence_number").cast("long").alias(LIN_UPD_SEQ),
                ]
                if lineage_cols
                else []
            ),
        )
        # pre_clustered: the caller already arranged the partitioning/order
        # (e.g. a zorder rewrite) — re-shuffling by the table sort order
        # here would destroy it
        order = [] if pre_clustered else [c for c in meta.get("sort_order", []) if c in cols]
        if order:
            # write clustering: range-shuffle so files hold near-disjoint
            # key ranges, then sort within — tight footer bounds for the
            # scan-time file skipping in scan(). One extra shuffle per
            # write, amortized across every future selective read.
            aligned = aligned.repartitionByRange(*[F.col(c) for c in order]).sortWithinPartitions(
                *order
            )
        writer = aligned.write
        if spec.column() is not None:
            src_dt = schema[spec.source].dataType if spec.source in cols else None
            spec_hash = self._bucket_spec_hash(meta)
            if spec_hash and spec.transform.startswith("bucket"):
                # the spec-hash bucket column is a pandas UDF — make the
                # package importable on executors
                from minio_iceberg_polaris_lakehouse_spark.session import ship_package

                ship_package(self.spark)
            writer = aligned.withColumn(
                spec.column(), spec.expr(src_dt, spec_hash=spec_hash)
            ).write.partitionBy(spec.column())
        try:
            writer.option("compression", "zstd").parquet(out)
        except BaseException:
            # a failed job (e.g. MERGE's cardinality check) leaves the
            # directory it started; no commit will ever reference it
            fsio.rmtree(out, ignore_errors=True)
            raise
        stats = _parquet_footer_stats(out)
        spec_rec = {
            "source": spec.source,
            "transform": spec.transform,
            "spec_id": self._current_spec_id(meta),
            # physical column names as written — reads map them through the
            # rename chain so RENAME COLUMN preserves old files' values
            "columns": cols,
        }
        if (
            spec.transform in ("day", "month", "year", "hour")
            and spec.source in cols
            and isinstance(schema[spec.source].dataType, T.TimestampType)
        ):
            # temporal dirs over timestamptz derive in the SESSION zone —
            # record it so the export publishes no partition value for a
            # non-UTC dir (no single spec value is right for its files)
            # instead of one a pruning reader would lose rows on
            try:
                spec_rec["tz"] = (
                    self.spark.conf.get("spark.sql.session.timeZone") or "UTC"
                )
            except Exception:
                pass
        return PendingData(dirname, sum(s["rows"] for s in stats), spec_rec, stats)

    def _current_spec_id(self, meta: dict) -> int:
        """Iceberg-style spec id: position of the current partition spec in
        the table's spec history (0 for never-evolved tables)."""
        cur = {
            "source": meta["partition"].get("source"),
            "transform": meta["partition"].get("transform", "identity"),
        }
        history = meta.get("spec_history", [cur])
        try:
            return history.index(cur)
        except ValueError:
            return len(history)

    def append(self, df: DataFrame, branch: str | None = None) -> int:
        """Append-only INSERT: duplicates by design (§2.11). Appends are
        commutative — two concurrent appenders both survive (see
        _commit_add). ``branch`` stages the write on a named branch
        (write-audit-publish): main readers don't see it until
        fast_forward/cherry_pick publishes it. With the Flink-parity
        table property ``write.upsert.enabled=true``, every append (and
        therefore SQL INSERT INTO) routes through upsert() instead."""
        if self._meta()["properties"].get("write.upsert.enabled", "").lower() == "true":
            return self.upsert(df, branch=branch)
        p = self._write_data(df)
        return self._commit_add("append", [p], {"added-records": p.rows}, branch=branch)

    def insert_values(self, rows: list[tuple], branch: str | None = None) -> int:
        """INSERT INTO t VALUES ... (reference S7: getting_started.ipynb:96)."""
        return self.append(local_frame(self.spark, rows, self.schema()), branch=branch)

    def set_identifier_fields(self, *columns: str) -> None:
        """ALTER TABLE … SET IDENTIFIER FIELDS (Iceberg schema
        identifier-field-ids): declares the row-identity key that
        upsert() / CDC writers key equality deletes on. Metadata-only;
        an empty list clears the identity. The open-metadata export
        mirrors the declaration as identifier-field-ids in the schema
        JSON so foreign engines see the same contract."""

        def change(meta: dict) -> None:
            names = set(T.StructType.fromJson(json.loads(meta["schema"])).fieldNames())
            missing = [c for c in columns if c not in names]
            if missing:
                raise WarehouseError(f"identifier fields not in schema: {missing}")
            meta["identifier_fields"] = list(columns)

        self._alter(change)

    def identifier_fields(self) -> list[str]:
        return list(self._meta().get("identifier_fields", []))

    def delete_keys(
        self,
        keys_df: DataFrame,
        branch: str | None = None,
        extra_summary: dict[str, Any] | None = None,
    ) -> int:
        """Row deletion BY KEY SET (the Flink DELETE row-kind / CDC
        tombstone): land the given identifier-field key rows as ONE
        equality-delete file — O(batch) like upsert(), the table is
        never scanned or matched, and no predicate string is parsed.
        Keys absent from the table delete nothing (a no-op per key, the
        CDC contract); a later re-INSERT of a deleted key resurrects it
        (v2 sequence rule). Complements upsert(): together they apply
        any CDC feed."""
        cols = self.identifier_fields()
        if not cols:
            raise WarehouseError(
                "delete_keys needs identifier fields: set_identifier_fields(...) or "
                "ALTER TABLE ... SET IDENTIFIER FIELDS first"
            )
        schema = self.schema()
        aligned = keys_df.select(
            *[F.col(c).cast(schema[c].dataType).alias(c) for c in cols]
        ).dropDuplicates(cols)
        del_dir = f"delete-eq-{uuid.uuid4().hex[:12]}"
        del_out = os.path.join(self.path, del_dir)
        aligned.write.option("compression", "zstd").parquet(del_out)
        del_stats = _parquet_footer_stats(del_out)
        k = sum(s["rows"] for s in del_stats)
        if k == 0:
            fsio.rmtree(del_out)
            return self.current_snapshot_id()  # empty key set: no snapshot
        pend = PendingData(
            del_dir,
            k,
            {"source": None, "transform": "identity", "spec_id": 0, "content": "eq-deletes"},
            del_stats,
        )
        summary = {"added-delete-files": 1, "added-equality-deletes": k}
        summary.update(extra_summary or {})
        new_eq = {"dir": del_dir, "cols": list(cols), "seq": None}
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                meta = self._meta()
                rec = meta.get("refs", {}).get(branch)
                if rec is None or rec.get("type") != "BRANCH":
                    raise WarehouseError(
                        f"unknown branch {branch!r} on {self.ns}.{self.name} "
                        "(create it first: create_ref(name, 'branch'))"
                    )
                base = next(s for s in snaps if s["snapshot_id"] == int(rec["snapshot_id"]))
                return self._append_snapshot(
                    snaps,
                    "delete",
                    base["manifest"],
                    summary,
                    base.get("delete_dirs", []),
                    branch=branch,
                    eq_deletes=base.get("eq_deletes", []) + [new_eq],
                    parent_id=base["snapshot_id"],
                    pending=[pend],
                )
            mains = self._main_snaps(snaps)
            live = mains[-1]["manifest"] if mains else []
            inherited = mains[-1].get("delete_dirs", []) if mains else []
            inherited_eq = mains[-1].get("eq_deletes", []) if mains else []
            return self._append_snapshot(
                snaps, "delete", live, summary, inherited, eq_deletes=inherited_eq + [new_eq],
                pending=[pend],
            )
        finally:
            self._release_commit_lock(lock, token)

    def upsert(
        self,
        df: DataFrame,
        branch: str | None = None,
        extra_summary: dict[str, Any] | None = None,
    ) -> int:
        """Flink/CDC-style UPSERT write (Iceberg's ``write.upsert.enabled``
        shape): ONE snapshot carrying (a) the incoming rows as ordinary
        data files and (b) an equality-delete file over the batch's
        identifier-field keys. The v2 sequence rule (a delete kills rows
        whose data sequence is STRICTLY below its own) makes the delete
        apply to every pre-existing row with a matching key and to none
        of the batch's own rows — delete-old + insert-new, atomically.

        Scale: O(batch) compute and O(batch) bytes — the table is never
        scanned or matched against, which is exactly why streaming CDC
        writers commit this shape instead of MERGE. Concurrent upserts
        both land (append-like fast path, no conflict check); on key
        overlap the later COMMIT's row wins — the same last-writer-wins
        contract Flink gives. Readers pay one broadcast anti-join per
        live equality-delete file until compaction/
        rewrite_position_delete_files folds tombstones down.

        The batch must carry at most one row per identifier key: two
        same-key rows would BOTH survive the equal-sequence rule, which
        is never what an upsert means. The check runs on the files just
        written (so the input plan still executes exactly once — the
        §2.11 guarantee) and aborts the commit before any metadata
        lands."""
        cols = self.identifier_fields()
        if not cols:
            raise WarehouseError(
                "upsert needs identifier fields: set_identifier_fields(...) or "
                "ALTER TABLE ... SET IDENTIFIER FIELDS first"
            )
        p = self._write_data(df)
        data_out = os.path.join(self.path, p.dirname)
        written = self.spark.read.parquet(data_out)
        dup = written.groupBy(*cols).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            fsio.rmtree(data_out)
            key = {c: dup[0][c] for c in cols}
            raise WarehouseError(
                f"upsert batch carries multiple rows for identifier key {key}; "
                "dedup the batch first (both copies would survive the commit)"
            )
        keys = written.select(*cols).dropDuplicates(cols)
        del_dir = f"delete-eq-{uuid.uuid4().hex[:12]}"
        del_out = os.path.join(self.path, del_dir)
        keys.write.option("compression", "zstd").parquet(del_out)
        del_stats = _parquet_footer_stats(del_out)
        k = sum(s["rows"] for s in del_stats)
        pend_del = PendingData(
            del_dir,
            k,
            {"source": None, "transform": "identity", "spec_id": 0, "content": "eq-deletes"},
            del_stats,
        )
        summary = {
            "added-records": p.rows,
            "added-delete-files": 1,
            "added-equality-deletes": k,
            "upsert": "true",
        }
        summary.update(extra_summary or {})  # e.g. streaming-sink batch stamps
        new_eq = {"dir": del_dir, "cols": list(cols), "seq": None}  # seq = this commit
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                meta = self._meta()
                rec = meta.get("refs", {}).get(branch)
                if rec is None or rec.get("type") != "BRANCH":
                    raise WarehouseError(
                        f"unknown branch {branch!r} on {self.ns}.{self.name} "
                        "(create it first: create_ref(name, 'branch'))"
                    )
                base = next(s for s in snaps if s["snapshot_id"] == int(rec["snapshot_id"]))
                return self._append_snapshot(
                    snaps,
                    "overwrite",
                    base["manifest"] + [p.dirname],
                    summary,
                    base.get("delete_dirs", []),
                    branch=branch,
                    eq_deletes=base.get("eq_deletes", []) + [new_eq],
                    parent_id=base["snapshot_id"],
                    pending=[p, pend_del],
                )
            mains = self._main_snaps(snaps)
            live = (mains[-1]["manifest"] if mains else []) + [p.dirname]
            inherited = mains[-1].get("delete_dirs", []) if mains else []
            inherited_eq = mains[-1].get("eq_deletes", []) if mains else []
            return self._append_snapshot(
                snaps,
                "overwrite",
                live,
                summary,
                inherited,
                eq_deletes=inherited_eq + [new_eq],
                pending=[p, pend_del],
            )
        finally:
            self._release_commit_lock(lock, token)

    def add_files(self, source_dir: str) -> tuple[int, int]:
        """Iceberg's `add_files` procedure: import an EXISTING parquet
        directory as a new append snapshot WITHOUT rewriting data — the
        migrate-in-place path for pre-lakehouse data. The commit is
        metadata-only: the new data dir holds symlinks to the source
        files (zero bytes copied; on an object-store deployment this
        would be absolute-path manifest entries instead), footer stats
        are harvested from the real footers exactly as for engine-written
        dirs (so scan-time file skipping works on imported files), and
        the snapshot summary records the provenance. The source files
        stay owned by the caller — compaction/expiry rewrite INTO
        engine-owned dirs and GC only the symlinks.

        Requirements (same contract as Iceberg's procedure): the file
        schema must be a by-name subset of the table schema with equal
        types (missing newer columns NULL-backfill on read, like any
        pre-evolution dir); the target table must be unpartitioned
        (partition_filter import is out of scope)."""
        if self.partition_spec().column() is not None:
            raise WarehouseError("add_files requires an unpartitioned target table")
        src = os.path.abspath(source_dir)
        files = sorted(
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not files:
            raise WarehouseError(f"no parquet files in {source_dir}")
        # per-file footer check FIRST: spark.read.parquet(*files) would
        # silently unify heterogeneous footers (int file + long file →
        # long), and the narrow file would then read through the wrong
        # vectorized schema later. Imports require byte-identical file
        # schemas — same as Iceberg's add_files.
        import pyarrow.parquet as pq

        # remove_metadata(): writer key-value metadata (Spark version,
        # pandas blocks) varies file-to-file without changing the schema
        # — only the field structure may differ
        footers = {str(pq.read_schema(f).remove_metadata()) for f in files}
        if len(footers) > 1:
            raise WarehouseError(
                "add_files: source files carry differing schemas — "
                "import them in separate calls per schema generation"
            )
        fschema = self.spark.read.parquet(*files).schema
        tschema = self.schema()
        tnames = {f.name: f.dataType for f in tschema.fields}
        for f in fschema.fields:
            if f.name not in tnames:
                raise WarehouseError(
                    f"add_files: source column {f.name} not in table schema"
                )
            if f.dataType != tnames[f.name]:
                raise WarehouseError(
                    f"add_files: source column {f.name} is {f.dataType.simpleString()}, "
                    f"table has {tnames[f.name].simpleString()}"
                )
        dirname = f"data-import-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, dirname)
        os.makedirs(out)
        for i, fp in enumerate(files):
            os.symlink(fp, os.path.join(out, f"part-{i:05d}-import.parquet"))
        stats = _parquet_footer_stats(out)
        meta = self._meta()
        spec_rec = {
            "source": None,
            "transform": "identity",
            "spec_id": self._current_spec_id(meta),
            "columns": [f.name for f in fschema.fields],  # physical file columns
        }
        p = PendingData(dirname, sum(s["rows"] for s in stats), spec_rec, stats)
        sid = self._commit_add(
            "append",
            [p],
            {"added-records": p.rows, "added-data-files": len(files), "import-source": src},
        )
        return sid, len(files)

    def overwrite(self, df: DataFrame, branch: str | None = None) -> int:
        """CTAS/overwrite (reference S8: warehouse_helpers.py:107-111).
        Replaces the whole table regardless of prior state — no read
        dependency, so it commits unconditionally (last overwrite wins,
        matching Iceberg's createOrReplace). ``branch`` stages the
        replacement on the branch instead of main (WAP routing). With
        the table property ``write.overwrite-mode=dynamic`` on a
        partitioned table, overwrites (and therefore SQL INSERT
        OVERWRITE) replace only the TOUCHED partitions instead —
        overwrite_partitions()."""
        if (
            self._meta()["properties"].get("write.overwrite-mode", "").lower() == "dynamic"
            and self.partition_spec().column() is not None
        ):
            return self.overwrite_partitions(df, branch=branch)
        p = self._write_data(df)
        lock, token = self._acquire_commit_lock()
        try:
            if branch:
                head = self._branch_head(branch)
                return self._append_snapshot(
                    self._snaps(),
                    "overwrite",
                    [p.dirname],
                    {"replaced": True, "added-records": p.rows},
                    branch=branch,
                    parent_id=head,
                    pending=[p],
                )
            return self._append_snapshot(
                self._snaps(), "overwrite", [p.dirname], {"replaced": True, "added-records": p.rows},
                pending=[p],
            )
        finally:
            self._release_commit_lock(lock, token)

    # ---------------- DML beyond append (M1) ----------------
    def _branch_head(self, branch: str) -> int:
        rec = self._meta().get("refs", {}).get(branch)
        if rec is None or rec.get("type") != "BRANCH":
            raise WarehouseError(f"unknown branch {branch!r} on {self.ns}.{self.name}")
        return int(rec["snapshot_id"])

    def delete_where(self, condition: str, mode: str | None = None, branch: str | None = None) -> int:
        """DELETE FROM t WHERE ... in either Iceberg row-level mode.

        copy-on-write (default): rewrite the surviving rows into a new
        snapshot — reads stay delete-free, writes pay the rewrite.

        merge-on-read: write a POSITIONAL DELETE file ((file_path, pos) —
        Iceberg v2's delete-file schema) and leave the data untouched;
        reads apply the tombstones, and metadata scans surface the rows
        with `_deleted=true`. Select per call (``mode=``) or per table
        (property ``write.delete.mode``, the Iceberg knob).

        ``branch`` stages the delete on a named branch (write-audit-
        publish, Iceberg's session-wide write routing): computed from and
        committed to the BRANCH state, invisible to main until published.

        Both are read-modify-write: conflicts (another writer committing
        between our read and our commit) raise CommitConflictError
        instead of silently dropping their rows."""
        mode = mode or self._meta()["properties"].get("write.delete.mode", "copy-on-write")
        if mode == "merge-on-read":
            return self._delete_where_mor(condition, branch=branch)
        if mode == "merge-on-read-equality":
            return self._delete_where_mor_eq(condition, branch=branch)
        parent = self._branch_head(branch) if branch else self.current_snapshot_id()
        # surviving rows keep their Iceberg v3 row ids through the rewrite
        cur = (
            self.read(version=branch, lineage=True)
            if branch
            else self.read(lineage=True)
        )
        remaining = cur.filter(f"NOT ({condition})")
        p = self._write_data(remaining, lineage_cols=True)
        return self._commit_replace(
            "delete", [p], {"predicate": condition}, parent, branch=branch
        )

    def overwrite_partitions(self, df: DataFrame, branch: str | None = None) -> int:
        """Dynamic partition overwrite (Iceberg's dynamic INSERT
        OVERWRITE / Spark's partitionOverwriteMode=dynamic): replace
        ONLY the partitions the incoming rows touch; untouched
        partitions carry over unchanged. Merge-on-read shape: the new
        rows land as ordinary data files and every LIVE row of a touched
        partition is positionally tombstoned, all in ONE snapshot —
        O(new data + rows in touched partitions), never a table rewrite.
        Touched values are recomputed from the files just written (input
        plan executes once) under the spec's own transform, so hidden
        partitioning (day/bucket/truncate) replaces by TRANSFORMED
        value exactly like Iceberg. Read-modify-write: a concurrent
        commit raises CommitConflictError."""
        spec = self.partition_spec()
        if spec.column() is None:
            raise WarehouseError(
                "dynamic overwrite needs a partitioned table; use overwrite()"
            )
        parent = self._branch_head(branch) if branch else self.current_snapshot_id()
        snap = self._resolve(version=branch) if branch else self._resolve()
        p = self._write_data(df)
        schema = self.schema()
        src_dt = schema[spec.source].dataType
        written = self.spark.read.parquet(os.path.join(self.path, p.dirname))
        spec_hash = self._bucket_spec_hash()
        touched = [
            r.pv
            for r in written.select(
                spec.expr(src_dt, spec_hash=spec_hash).alias("pv")
            )
            .distinct()
            .collect()
        ]
        # live rows with their (file, position) identity: a row already
        # dead by either delete kind must never be re-tombstoned, or the
        # changelog would emit a second delete for a row inserted once
        path, md = self._published_metadata()
        live = read_iceberg_table(
            self.spark, path, ref=branch, _keep_lineage=True, _metadata=md
        )
        pv = spec.expr(src_dt, spec_hash=spec_hash)
        non_null = [v for v in touched if v is not None]
        cond = F.lit(False)
        if non_null:
            cond = pv.isin(non_null)
        if any(v is None for v in touched):
            cond = cond | pv.isNull()
        hits = live.filter(cond).select(
            F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
        )
        ddir = f"delete-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, ddir)
        hits.write.option("compression", "zstd").parquet(out)
        dstats = _parquet_footer_stats(out)
        n_del = sum(s["rows"] for s in dstats)
        pends: list[PendingData] = [p]
        new_delete_dirs: list[str] = []
        if n_del:
            pends.append(
                PendingData(
                    ddir,
                    n_del,
                    {"source": None, "transform": "identity", "spec_id": 0, "content": "deletes"},
                    dstats,
                )
            )
            new_delete_dirs = [ddir]
        else:
            fsio.rmtree(out)  # first write into fresh partitions: no tombstones
        summary = {
            "overwrite-mode": "dynamic",
            "replaced-partitions": len(touched),
            "added-records": p.rows,
            "added-position-deletes": n_del,
        }
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                current = self._branch_head(branch)
            else:
                mains = self._main_snaps(snaps)
                current = mains[-1]["snapshot_id"] if mains else None
            if current != parent:
                raise CommitConflictError(
                    f"{self.ns}.{self.name}: snapshot moved {parent} -> "
                    f"{current} during dynamic overwrite; re-read and retry"
                )
            return self._append_snapshot(
                snaps,
                "overwrite",
                snap["manifest"] + [p.dirname],
                summary,
                snap.get("delete_dirs", []) + new_delete_dirs,
                branch=branch,
                eq_deletes=snap.get("eq_deletes", []),
                parent_id=parent if branch else None,
                pending=pends,
            )
        finally:
            self._release_commit_lock(lock, token)

    def _delete_where_mor(self, condition: str, branch: str | None = None) -> int:
        """Merge-on-read DELETE: compute matching LIVE row positions, land
        them as a zstd parquet delete file, commit a snapshot that keeps
        the parent's data dirs and adds the tombstones. O(matches) write
        instead of O(table) — the scale win merge-on-read exists for.
        ``branch`` stages against and onto the branch (WAP routing)."""
        parent = self._branch_head(branch) if branch else self.current_snapshot_id()
        snap = self._resolve(version=branch) if branch else self._resolve()
        existing = snap.get("delete_dirs", [])
        path, md = self._published_metadata()
        live = read_iceberg_table(
            self.spark, path, ref=branch, _keep_lineage=True, _metadata=md
        )
        hits = live.filter(f"({condition})").select(
            F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
        )
        dirname = f"delete-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, dirname)
        hits.write.option("compression", "zstd").parquet(out)
        stats = _parquet_footer_stats(out)
        n = sum(s["rows"] for s in stats)
        pend = PendingData(
            dirname, n, {"source": None, "transform": "identity", "spec_id": 0, "content": "deletes"}, stats
        )
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                current = self._branch_head(branch)
            else:
                mains = self._main_snaps(snaps)
                current = mains[-1]["snapshot_id"] if mains else None
            if current != parent:
                raise CommitConflictError(
                    f"{self.ns}.{self.name}: snapshot moved {parent} -> "
                    f"{current} during merge-on-read delete; re-read and retry"
                )
            return self._append_snapshot(
                snaps,
                "delete",
                snap["manifest"],
                {
                    "predicate": condition,
                    "added-delete-files": 1,
                    "added-position-deletes": n,
                },
                existing + [dirname],
                branch=branch,
                eq_deletes=snap.get("eq_deletes", []),
                parent_id=parent if branch else None,
                pending=[pend],
            )
        finally:
            self._release_commit_lock(lock, token)

    def _delete_where_mor_eq(self, condition: str, branch: str | None = None) -> int:
        """Merge-on-read EQUALITY delete (Iceberg v2's second delete-file
        type — what streaming/CDC writers produce): land the DISTINCT key
        values of the matched rows as an equality-delete file over the
        table's `write.delete.equality-columns`; data files stay
        untouched. Reads drop any row matching a key whose data sequence
        predates the delete's — so re-INSERTing a deleted key later
        resurrects it (the semantic difference from positional deletes,
        pinned by test). O(matched keys) written instead of O(table)."""
        props = self._meta()["properties"]
        cols = [
            c.strip()
            for c in props.get("write.delete.equality-columns", "").split(",")
            if c.strip()
        ]
        if not cols:
            raise WarehouseError(
                "equality deletes need the write.delete.equality-columns table property"
            )
        schema_cols = self.schema().fieldNames()
        unknown = [c for c in cols if c not in schema_cols]
        if unknown:
            raise WarehouseError(f"equality columns not in schema: {unknown}")
        parent = self._branch_head(branch) if branch else self.current_snapshot_id()
        snap = self._resolve(version=branch) if branch else self._resolve()
        src = self.read(version=branch) if branch else self.read()
        keys = src.filter(f"({condition})").select(*cols).dropDuplicates(cols)
        dirname = f"delete-eq-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, dirname)
        keys.write.option("compression", "zstd").parquet(out)
        stats = _parquet_footer_stats(out)
        n = sum(s["rows"] for s in stats)
        pend = PendingData(
            dirname,
            n,
            {"source": None, "transform": "identity", "spec_id": 0, "content": "eq-deletes"},
            stats,
        )
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                current = self._branch_head(branch)
            else:
                mains = self._main_snaps(snaps)
                current = mains[-1]["snapshot_id"] if mains else None
            if current != parent:
                raise CommitConflictError(
                    f"{self.ns}.{self.name}: snapshot moved {parent} -> "
                    f"{current} during equality delete; re-read and retry"
                )
            return self._append_snapshot(
                snaps,
                "delete",
                snap["manifest"],
                {
                    "predicate": condition,
                    "added-delete-files": 1,
                    "added-equality-deletes": n,
                },
                snap.get("delete_dirs", []),
                branch=branch,
                eq_deletes=snap.get("eq_deletes", [])
                + [{"dir": dirname, "cols": cols, "seq": None}],  # seq = this commit
                parent_id=parent if branch else None,
                pending=[pend],
            )
        finally:
            self._release_commit_lock(lock, token)

    def update_where(
        self,
        assignments: dict[str, str],
        condition: str,
        mode: str | None = None,
        branch: str | None = None,
    ) -> int:
        """UPDATE t SET col = expr, ... WHERE condition in either Iceberg
        row-level mode (per call or via the ``write.update.mode`` table
        property): copy-on-write rewrites the whole table's rows into one
        new snapshot; merge-on-read tombstones the matched positions and
        appends only the rewritten rows — O(matches) data written instead
        of O(table). Read-modify-write either way: conflicts raise
        CommitConflictError rather than losing a concurrent commit."""
        cols = self.schema().fieldNames()
        unknown = [c for c in assignments if c not in cols]
        if unknown:
            raise WarehouseError(f"UPDATE of unknown column(s): {unknown}")
        mode = mode or self._meta()["properties"].get("write.update.mode", "copy-on-write")
        if mode == "merge-on-read":
            return self._update_where_mor(assignments, condition, branch=branch)
        parent = self._branch_head(branch) if branch else self.current_snapshot_id()
        # Iceberg v3 row lineage through copy-on-write UPDATE: every row
        # keeps its _row_id (updates change values, not identity); rows the
        # predicate matches get a NULL materialized update-sequence, which
        # the read side resolves to THIS commit's data sequence — unmatched
        # rows carry their original one
        cur = (
            self.read(version=branch, lineage=True)
            if branch
            else self.read(lineage=True)
        )
        updated = cur.select(
            *[
                (
                    F.when(F.expr(condition), F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c in cols
            ],
            F.col("_row_id"),
            F.when(F.expr(condition), F.lit(None).cast("long"))
            .otherwise(F.col("_last_updated_sequence_number"))
            .alias("_last_updated_sequence_number"),
        )
        p = self._write_data(updated, lineage_cols=True)
        return self._commit_replace(
            "update", [p], {"predicate": condition}, parent, branch=branch
        )

    def _update_where_mor(
        self, assignments: dict[str, str], condition: str, branch: str | None = None
    ) -> int:
        """Merge-on-read UPDATE (Iceberg v2): positional-delete the
        matched rows' old positions AND append a data dir holding their
        rewritten versions, in ONE snapshot."""
        cols = self.schema().fieldNames()
        parent = self._branch_head(branch) if branch else self.current_snapshot_id()
        snap = self._resolve(version=branch) if branch else self._resolve()
        existing = snap.get("delete_dirs", [])
        path, md = self._published_metadata()
        live = read_iceberg_table(
            self.spark, path, ref=branch, _keep_lineage=True, _metadata=md
        )
        # matched feeds TWO writes (tombstone positions + rewritten
        # rows); persist it so the full-table scan + predicate run once,
        # not once per write — the whole point of MOR UPDATE is
        # O(matches) work on top of one read
        matched = live.filter(f"({condition})").persist()
        try:
            hits = matched.select(
                F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
            )
            ddir = f"delete-{uuid.uuid4().hex[:12]}"
            out = os.path.join(self.path, ddir)
            hits.write.option("compression", "zstd").parquet(out)
            dstats = _parquet_footer_stats(out)
            n_del = sum(s["rows"] for s in dstats)
            pend_del = PendingData(
                ddir, n_del, {"source": None, "transform": "identity", "spec_id": 0, "content": "deletes"}, dstats
            )
            rewritten = matched.select(
                *[
                    (F.expr(assignments[c]).alias(c) if c in assignments else F.col(c))
                    for c in cols
                ]
            )
            p = self._write_data(rewritten)
        finally:
            matched.unpersist()
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            if branch:
                current = self._branch_head(branch)
            else:
                mains = self._main_snaps(snaps)
                current = mains[-1]["snapshot_id"] if mains else None
            if current != parent:
                raise CommitConflictError(
                    f"{self.ns}.{self.name}: snapshot moved {parent} -> "
                    f"{current} during merge-on-read update; re-read and retry"
                )
            return self._append_snapshot(
                snaps,
                "update",
                snap["manifest"] + [p.dirname],
                {
                    "predicate": condition,
                    "added-delete-files": 1,
                    "added-position-deletes": n_del,
                    "added-records": p.rows,
                },
                existing + [ddir],
                branch=branch,
                eq_deletes=snap.get("eq_deletes", []),
                parent_id=parent if branch else None,
                pending=[pend_del, p],
            )
        finally:
            self._release_commit_lock(lock, token)

    def merge_into(
        self,
        source: DataFrame,
        on: str,
        update_cols: list[str] | None = None,
        insert_missing: bool = True,
        matched_action: str = "update",
        not_matched_by_source_action: str | None = None,
        branch: str | None = None,
        matched_condition: str | None = None,
        target_alias: str = "t",
        source_alias: str = "s",
    ) -> int:
        """MERGE INTO target USING source ON target.<on> = source.<on>
        WHEN MATCHED [AND <matched_condition>] THEN UPDATE SET
        <update_cols> (or all non-key columns) | DELETE, WHEN NOT
        MATCHED THEN INSERT * — planned as one full outer join, the
        shape Spark plans for an Iceberg copy-on-write MERGE.
        ``matched_action='delete'`` is the dedup-remediation form
        (matched target rows drop instead of updating);
        ``matched_condition`` is the conditional arm (Spark/Iceberg's
        WHEN MATCHED AND …): matched rows failing it carry over
        UNCHANGED (they are matched, so they never re-insert). The
        condition may reference both sides as t.<col> / s.<col>, or
        bare target columns. Read-modify-write: raises
        CommitConflictError if another writer commits between our
        snapshot read and the pointer swap."""
        if matched_action not in ("update", "delete"):
            raise WarehouseError(f"matched_action must be update or delete, not {matched_action}")
        if not_matched_by_source_action not in (None, "delete"):
            raise WarehouseError(
                "not_matched_by_source_action must be None or delete, "
                f"not {not_matched_by_source_action}"
            )
        # one MERGE engine: this classic two-arm form is the degenerate
        # case of the full clause matrix (merge_into_arms) — same plan,
        # cardinality check, and v3 identity preservation
        cols = [f.name for f in self.schema().fields]
        update_cols = update_cols or [c for c in cols if c != on]
        sa = source_alias
        set_map = (
            {c: f"{sa}.{c}" for c in update_cols}
            if matched_action == "update"
            else None
        )
        return self.merge_into_arms(
            source,
            on,
            matched_arms=[
                {"cond": matched_condition, "action": matched_action, "set": set_map}
            ],
            insert_arm={"cond": None} if insert_missing else None,
            not_matched_by_source_arm=(
                {"cond": None, "action": "delete"}
                if not_matched_by_source_action == "delete"
                else None
            ),
            branch=branch,
            target_alias=target_alias,
            source_alias=source_alias,
        )

    def merge_into_arms(
        self,
        source: DataFrame,
        on: str,
        matched_arms: list[dict] | None = None,
        insert_arm: dict | None = None,
        not_matched_by_source_arm: dict | None = None,
        branch: str | None = None,
        target_alias: str = "t",
        source_alias: str = "s",
    ) -> int:
        """The FULL Spark 3.5 / Iceberg MERGE matrix — multiple ordered
        WHEN MATCHED arms, a conditional INSERT arm, and a WHEN NOT
        MATCHED BY SOURCE arm that can UPDATE as well as DELETE (the arm
        forms are documented on `_merge_plan`, the one MERGE plan, which
        registered foreign tables run too).

        Copy-on-write: the plan's rows that stay in the table are
        rewritten as one new data directory that replaces the snapshot,
        with the cardinality check inside the write job and Iceberg v3
        row-identity preservation (carried/updated rows keep `_row_id`;
        touched rows' update sequence resets to this commit; inserts get
        fresh ids)."""
        parent = self._branch_head(branch) if branch else self.current_snapshot_id()
        tgt = self.read(version=branch, lineage=True) if branch else self.read(lineage=True)
        rows, values = _merge_plan(
            tgt,
            source,
            on,
            self.schema(),
            matched_arms,
            insert_arm,
            not_matched_by_source_arm,
            target_alias,
            source_alias,
        )
        code = F.col("__act")
        merged = rows.filter(code.isNotNull()).select(
            *values,
            # inserts read NULL from the absent target row: fresh ids
            F.col(f"{target_alias}._row_id").alias("_row_id"),
            F.when(
                code == _CARRY, F.col(f"{target_alias}._last_updated_sequence_number")
            ).alias("_last_updated_sequence_number"),
        )
        with _merge_cardinality(source, on):
            p = self._write_data(merged, lineage_cols=True)
        summary = {
            "on": on,
            "matched-arms": str(len(matched_arms or [])),
            "insert": str(bool(insert_arm)),
            "not-matched-by-source": (not_matched_by_source_arm or {}).get("action", ""),
        }
        return self._commit_replace("merge", [p], summary, parent, branch=branch)

    # ---------------- schema evolution (D10) ----------------
    def _alter(self, change) -> None:
        """Apply a metadata-only change — ``change(meta)`` edits the table
        meta in place, raising WarehouseError to refuse — under the commit
        lock, so a concurrent commit cannot undo it, and publish it in the
        open Iceberg metadata at once."""
        lock, token = self._acquire_commit_lock()
        try:
            meta = self._meta()
            change(meta)
            self._write_meta_and_export(meta)
        finally:
            self._release_commit_lock(lock, token)

    def _check_default(self, default: str, dtype: str) -> str:
        lit = default.strip()
        val = self.spark.sql(f"SELECT CAST({lit} AS {dtype}) AS v").collect()[0].v
        if val is None and lit.upper() != "NULL":
            raise WarehouseError(f"DEFAULT {default} is not a valid {dtype} literal")
        return lit

    def add_column(self, name: str, dtype: str, default: str | None = None) -> None:
        """Metadata-only ADD COLUMN with NULL backfill on read
        (reference README.md:132-133) — no data files rewritten.

        ``default`` (a SQL literal string) adds Iceberg v3's
        default-value semantics, still metadata-only: files written
        BEFORE the column existed read the default instead of NULL
        (initial-default — the "backfill without rewrite" feature), and
        appends that omit the column fill it at write time
        (write-default). Files that HAVE the column keep their stored
        values, including explicit NULLs — the default applies by the
        column's absence from a file, the name-based analogue of
        Iceberg's absent-field-id rule."""
        # fromDDL accepts any case and parameterized types (DECIMAL(10,2))
        field = T.StructType.fromDDL(f"{name} {dtype}").fields[0]
        lit = None if default is None else self._check_default(default, dtype)

        def change(meta: dict) -> None:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            if name in schema.fieldNames():
                raise WarehouseError(f"column {name} exists")
            if lit is not None and lit.upper() != "NULL":
                meta.setdefault("column_defaults", {})[name] = lit
            meta["schema"] = schema.add(field).json()
            meta["last_column_id"] = int(meta.get("last_column_id", len(schema.fields) - 1)) + 1
            meta.setdefault("column_ids", {})[name] = meta["last_column_id"]

        self._alter(change)

    def drop_column(self, name: str) -> None:
        """Metadata-only DROP COLUMN — data files are untouched; reads
        simply stop projecting the column (reference README.md:132-133:
        add/drop/rename without rewriting files)."""

        def change(meta: dict) -> None:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            if name not in schema.fieldNames():
                raise WarehouseError(f"column {name} does not exist")
            if meta["partition"].get("source") == name:
                raise WarehouseError(f"column {name} is the partition source")
            meta["schema"] = T.StructType([f for f in schema.fields if f.name != name]).json()
            meta.get("column_defaults", {}).pop(name, None)
            meta.get("column_write_defaults", {}).pop(name, None)

        self._alter(change)

    def set_column_default(self, name: str, default: str | None) -> None:
        """ALTER COLUMN … SET DEFAULT <literal> / DROP DEFAULT (Iceberg
        v3): changes the WRITE-default only — what future writes fill
        when the column is omitted. The initial-default (what
        pre-evolution files read) is fixed when the column is added, so
        changing the default never rewrites history. DROP DEFAULT is an
        explicit 'fill NULL' marker that overrides an initial-default
        for writes."""
        schema = self.schema()
        if name not in schema.fieldNames():
            raise WarehouseError(f"column {name} does not exist")
        dtype = schema[name].dataType.simpleString()
        lit = None if default is None else self._check_default(default, dtype)

        def change(meta: dict) -> None:
            if name not in T.StructType.fromJson(json.loads(meta["schema"])).fieldNames():
                raise WarehouseError(f"column {name} does not exist")
            meta.setdefault("column_write_defaults", {})[name] = lit

        self._alter(change)

    def evolve_partition_spec(self, partition_by: str | None, transform: str = "identity") -> None:
        """Partition-spec evolution without rewrites (reference
        README.md:129-130): future writes lay data out under the new
        transform; existing dirs keep their recorded spec and continue to
        prune by it. Metadata-only."""
        if partition_by is not None:
            PartitionSpec(partition_by, transform).expr()  # validates transform

        def change(meta: dict) -> None:
            if partition_by is not None and partition_by not in T.StructType.fromJson(
                json.loads(meta["schema"])
            ).fieldNames():
                raise WarehouseError(f"unknown partition source {partition_by}")
            new_spec = {"source": partition_by, "transform": transform}
            meta["partition"] = dict(new_spec)
            history = meta.setdefault(
                "spec_history", [{"source": None, "transform": "identity"}]
            )
            if new_spec not in history:
                history.append(new_spec)

        self._alter(change)

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only RENAME COLUMN: reads map old physical names
        through the rename chain (see _dir_frames), so no files are
        rewritten and values survive. The current partition spec's source
        cannot be renamed (specs are keyed by name here, not field id)."""

        def change(meta: dict) -> None:
            if meta["partition"].get("source") == old:
                raise WarehouseError(f"column {old} is the partition source")
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            fields = [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
            meta["schema"] = T.StructType(fields).json()
            meta.setdefault("renames", []).append({"from": old, "to": new})
            ids = meta.setdefault("column_ids", {})
            if old in ids:
                ids[new] = ids.pop(old)  # rename keeps the field id (Iceberg)
            for key in ("column_defaults", "column_write_defaults"):
                rec = meta.get(key, {})
                if old in rec:
                    rec[new] = rec.pop(old)  # the default follows the column

        self._alter(change)

    @staticmethod
    def _is_widening(old: T.DataType, new: T.DataType) -> bool:
        """Iceberg v2 type promotion: int→long, float→double,
        decimal(P,S)→decimal(P',S) with P'≥P. Anything else would change
        values on read and is refused."""
        if isinstance(old, T.IntegerType) and isinstance(new, T.LongType):
            return True
        if isinstance(old, T.FloatType) and isinstance(new, T.DoubleType):
            return True
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            return new.scale == old.scale and new.precision >= old.precision
        return False

    def alter_column_type(self, name: str, dtype: str) -> None:
        """Metadata-only type WIDENING (Iceberg schema evolution's third
        primitive next to add/drop/rename): int→long, float→double,
        decimal precision growth. No files rewritten — old files' narrower
        physical type upcasts on read (Spark's parquet reader resolves the
        declared read schema against each file's footer), exactly
        Iceberg's field-id type promotion."""
        new_dt = T.StructType.fromDDL(f"x {dtype}").fields[0].dataType
        schema = self.schema()
        if name in schema.fieldNames() and schema[name].dataType == new_dt:
            return

        def change(meta: dict) -> None:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            if name not in schema.fieldNames():
                raise WarehouseError(f"no such column {name}")
            old_dt = schema[name].dataType
            if old_dt != new_dt and not self._is_widening(old_dt, new_dt):
                raise WarehouseError(
                    f"cannot change {name} from {old_dt.simpleString()} to "
                    f"{new_dt.simpleString()}: only widening promotions are allowed "
                    "(int->bigint, float->double, decimal precision growth)"
                )
            fields = [
                T.StructField(f.name, new_dt if f.name == name else f.dataType, f.nullable)
                for f in schema.fields
            ]
            meta["schema"] = T.StructType(fields).json()

        self._alter(change)

    def set_write_order(self, *columns: str) -> None:
        """ALTER TABLE … WRITE ORDERED BY (Iceberg sort orders): future
        writes range-partition + sort rows by these columns, so each data
        file covers a narrow, near-disjoint value range and the footer
        bounds published in each manifest make scan-time file skipping
        actually bite (clustering is what turns min/max stats from
        "usually overlapping" into "prunes 99% of files" at 100 TB).
        Metadata-only; existing files are untouched (compact() rewrites
        them under the order). Empty column list clears the order."""

        def change(meta: dict) -> None:
            names = set(T.StructType.fromJson(json.loads(meta["schema"])).fieldNames())
            missing = [c for c in columns if c not in names]
            if missing:
                raise WarehouseError(f"sort columns not in schema: {missing}")
            meta["sort_order"] = list(columns)

        self._alter(change)

    # ---------------- metadata tables (S3/S4) ----------------
    def history(self) -> DataFrame:
        """<table>.history (reference getting_started.ipynb:166): columns
        made_current_at, snapshot_id, parent_id, is_current_ancestor."""
        snaps = self._snaps()
        rows = [
            Row(
                made_current_at=_ms_to_ts(s["committed_at_ms"]),
                snapshot_id=s["snapshot_id"],
                parent_id=s["parent_id"],
                # branch-staged (unpublished WAP) snapshots are not
                # ancestors of the current main state
                is_current_ancestor=not s.get("branch"),
            )
            for s in snaps
        ]
        schema = "made_current_at timestamp, snapshot_id bigint, parent_id bigint, is_current_ancestor boolean"
        return local_frame(self.spark, rows, schema)

    def snapshots(self) -> DataFrame:
        """<table>.snapshots (reference getting_started.ipynb:144-152,169):
        committed_at, snapshot_id, parent_id, operation, manifest_list, summary,
        plus Iceberg v3's first_row_id (NULL for commits that added no
        data — lineage bases are carved per added dir, _append_snapshot)."""
        snaps = self._snaps()
        rows = [
            Row(
                committed_at=_ms_to_ts(s["committed_at_ms"]),
                snapshot_id=s["snapshot_id"],
                parent_id=s["parent_id"],
                operation=s["operation"],
                manifest_list=os.path.join(self.path, SNAP_FILE),
                summary={k: str(v) for k, v in s["summary"].items()},
                first_row_id=s.get("first_row_id"),
            )
            for s in snaps
        ]
        schema = (
            "committed_at timestamp, snapshot_id bigint, parent_id bigint, "
            "operation string, manifest_list string, summary map<string,string>, "
            "first_row_id bigint"
        )
        return local_frame(self.spark, rows, schema)

    def files(self) -> DataFrame:
        """<table>.files metadata table (Iceberg): one row per live data
        file of the current snapshot — content, file_path, file_format,
        spec_id, record_count, file_size_in_bytes. Built from the footer
        stats cached at commit time: metadata-only, no data scan."""
        snap = self._resolve()
        meta = self._meta()
        specs = meta.get("dir_specs", {})
        rows = []
        rows_src = (
            (0, snap["manifest"]),
            (1, snap.get("delete_dirs", [])),
            (2, [r["dir"] for r in snap.get("eq_deletes", [])]),  # EQUALITY_DELETES
        )
        row_bases = meta.get("dir_row_ids", {})
        for content, dirs in rows_src:
            for d in dirs:
                sid = int(specs.get(d, {}).get("spec_id", 0))
                # Iceberg v3 first_row_id per data file: the dir's commit-
                # assigned base + the file's row-count offset (canonical
                # path order) — delete files carry NULL like the spec
                base = row_bases.get(d) if content == 0 else None
                off = 0
                for f in sorted(
                    _load_dir_stats(self.path, d, meta), key=lambda r: r["path"]
                ):
                    b = f.get("bounds") or {}
                    rows.append(
                        Row(
                            content=content,
                            file_path=os.path.join(self.path, d, f["path"]),
                            file_format="PARQUET",
                            spec_id=sid,
                            record_count=f["rows"],
                            file_size_in_bytes=f["bytes"],
                            lower_bounds={k: str(v[0]) for k, v in b.items()},
                            upper_bounds={k: str(v[1]) for k, v in b.items()},
                            first_row_id=(int(base) + off) if base is not None else None,
                        )
                    )
                    off += int(f.get("rows", 0))
        schema = (
            "content int, file_path string, file_format string, spec_id int, "
            "record_count bigint, file_size_in_bytes bigint, "
            "lower_bounds map<string,string>, upper_bounds map<string,string>, "
            "first_row_id bigint"
        )
        return local_frame(self.spark, rows, schema)

    def manifests(self) -> DataFrame:
        """<table>.manifests metadata table: one row per manifest (data
        dir) of the current snapshot, with the Avro manifest's path and
        length plus which snapshot added it."""
        snap = self._resolve()
        snaps = self._snaps()
        added_in: dict[str, int] = {}
        for s in snaps:
            for d in s["manifest"] + s.get("delete_dirs", []):
                added_in.setdefault(d, s["snapshot_id"])
        meta = self._meta()
        specs = meta.get("dir_specs", {})
        rows = []
        for content, dirs in ((0, snap["manifest"]), (1, snap.get("delete_dirs", []))):
            for d in dirs:
                mpath = os.path.join(self.path, "metadata", f"manifest-{d}.avro")
                rows.append(
                    Row(
                        content=content,
                        path=mpath,
                        length=fsio.getsize(mpath) if fsio.isfile(mpath) else None,
                        partition_spec_id=int(specs.get(d, {}).get("spec_id", 0)),
                        added_snapshot_id=added_in.get(d, snap["snapshot_id"]),
                    )
                )
        schema = (
            "content int, path string, length bigint, partition_spec_id int, "
            "added_snapshot_id bigint"
        )
        return local_frame(self.spark, rows, schema)

    def delete_files(self) -> DataFrame:
        """<table>.delete_files metadata table (Iceberg): the current
        snapshot's live DELETE files only — positional tombstones
        (content 1) and equality deletes (content 2). The complement of
        the data slice of .files; how operators see merge-on-read debt
        before scheduling rewrite_position_delete_files."""
        return self.files().filter(F.col("content") != 0)

    def all_manifests(self) -> DataFrame:
        """<table>.all_manifests metadata table (Iceberg): manifests
        referenced by EVERY snapshot in the log — not just the current
        one — deduplicated by path, each with the snapshot that first
        added it (reachability across time travel, the input to
        rewrite_manifests/expiry planning)."""
        snaps = self._snaps()
        meta = self._meta()
        specs = meta.get("dir_specs", {})
        added_in: dict[tuple[int, str], int] = {}
        for s in snaps:
            for content, dirs in ((0, s["manifest"]), (1, s.get("delete_dirs", []))):
                for d in dirs:
                    added_in.setdefault((content, d), s["snapshot_id"])
        rows = []
        for (content, d), sid in sorted(added_in.items(), key=lambda kv: (kv[1], kv[0])):
            mpath = os.path.join(self.path, "metadata", f"manifest-{d}.avro")
            rows.append(
                Row(
                    content=content,
                    path=mpath,
                    length=fsio.getsize(mpath) if fsio.isfile(mpath) else None,
                    partition_spec_id=int(specs.get(d, {}).get("spec_id", 0)),
                    added_snapshot_id=sid,
                )
            )
        schema = (
            "content int, path string, length bigint, partition_spec_id int, "
            "added_snapshot_id bigint"
        )
        return local_frame(self.spark, rows, schema)

    def refs(self) -> DataFrame:
        """<table>.refs metadata table: the main branch pointer plus any
        user-created branches/tags (create_ref)."""
        schema = "name string, type string, snapshot_id bigint"
        cur = self.current_snapshot_id()
        rows = [] if cur is None else [Row(name="main", type="BRANCH", snapshot_id=cur)]
        for name, rec in sorted(self._meta().get("refs", {}).items()):
            rows.append(Row(name=name, type=rec["type"], snapshot_id=int(rec["snapshot_id"])))
        return local_frame(self.spark, rows, schema)

    def entries(self) -> DataFrame:
        """<table>.entries metadata table (Iceberg): one row per manifest
        entry (data/delete file) of the current snapshot — status
        (1 ADDED by the current snapshot, 0 EXISTING from an ancestor),
        the snapshot that added it, its data sequence number (that
        snapshot's id — the number the exported manifests carry, stable
        across expiry), and the file's stats. Metadata-only."""
        snap = self._resolve()
        meta = self._meta()
        seq_of = {
            **meta.get("dir_seqs", {}),
            **{r["dir"]: r["seq"] for r in snap.get("eq_deletes", [])},
        }
        rows = []
        for content, dirs in (
            (0, snap["manifest"]),
            (1, snap.get("delete_dirs", [])),
            (2, [r["dir"] for r in snap.get("eq_deletes", [])]),
        ):
            for d in dirs:
                seq = int(seq_of.get(d, snap["snapshot_id"]))
                status = 1 if seq == snap["snapshot_id"] else 0
                for f in _load_dir_stats(self.path, d, meta):
                    rows.append(
                        Row(
                            status=status,
                            snapshot_id=seq,
                            sequence_number=seq,
                            content=content,
                            file_path=os.path.join(self.path, d, f["path"]),
                            record_count=f["rows"],
                            file_size_in_bytes=f["bytes"],
                        )
                    )
        schema = (
            "status int, snapshot_id bigint, sequence_number bigint, content int, "
            "file_path string, record_count bigint, file_size_in_bytes bigint"
        )
        return local_frame(self.spark, rows, schema)

    def all_data_files(self) -> DataFrame:
        """<table>.all_data_files metadata table (Iceberg): every DATA
        file referenced by ANY snapshot in the log — not just the current
        one — deduplicated by path, so time-travel footprints and
        compaction debt are visible before expire_snapshots GCs them."""
        meta = self._meta()
        specs = meta.get("dir_specs", {})
        seen: set[str] = set()
        rows = []
        for s in self._snaps():
            for d in s["manifest"]:
                if d in seen:
                    continue
                seen.add(d)
                sid = int(specs.get(d, {}).get("spec_id", 0))
                for f in _load_dir_stats(self.path, d, meta):
                    rows.append(
                        Row(
                            content=0,
                            file_path=os.path.join(self.path, d, f["path"]),
                            file_format="PARQUET",
                            spec_id=sid,
                            record_count=f["rows"],
                            file_size_in_bytes=f["bytes"],
                        )
                    )
        schema = (
            "content int, file_path string, file_format string, spec_id int, "
            "record_count bigint, file_size_in_bytes bigint"
        )
        return local_frame(self.spark, rows, schema)

    def metadata_log_entries(self) -> DataFrame:
        """<table>.metadata_log_entries metadata table (Iceberg): one row
        per commit with the metadata document current after it. The
        engine keeps ONE atomically-swapped metadata doc (its versions
        correspond 1:1 to commits); when the open-format export has
        written versioned `metadata/vN.metadata.json` docs those paths
        are reported, otherwise every row points at the live doc."""
        rows = []
        snaps = self._snaps()
        for i, s in enumerate(snaps, start=1):
            versioned = os.path.join(self.path, "metadata", f"v{i}.metadata.json")
            rows.append(
                Row(
                    timestamp=_ms_to_ts(s["committed_at_ms"]),
                    file=versioned
                    if fsio.isfile(versioned)
                    else os.path.join(self.path, META_FILE),
                    latest_snapshot_id=s["snapshot_id"],
                )
            )
        schema = "timestamp timestamp, file string, latest_snapshot_id bigint"
        return local_frame(self.spark, rows, schema)

    def ancestors_of(self, snapshot_id: int | None = None) -> DataFrame:
        """CALL system.ancestors_of: the parent-chain lineage of a
        snapshot (default: the current one), newest first — Iceberg's
        procedure for answering "what commits does this state depend
        on". Walks parent_id links, so branch-staged snapshots off the
        queried line are excluded."""
        snaps = self._snaps()
        by_id = {s["snapshot_id"]: s for s in snaps}
        cur = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if cur is not None and cur not in by_id:
            raise WarehouseError(f"unknown snapshot {cur} on {self.ns}.{self.name}")
        rows = []
        while cur is not None:
            s = by_id[cur]
            rows.append(Row(snapshot_id=s["snapshot_id"], timestamp=_ms_to_ts(s["committed_at_ms"])))
            cur = s["parent_id"] if s["parent_id"] in by_id else None
        schema = "snapshot_id bigint, timestamp timestamp"
        return local_frame(self.spark, rows, schema)

    # ------------------------------------------------ bloom file index
    def _bloom_index_path(self, column: str) -> str:
        return os.path.join(self.path, "metadata", f"bloom_idx_{column}.json")

    def build_bloom_index(
        self, column: str, bits: int = BLOOM_IDX_BITS, k: int = BLOOM_IDX_K
    ) -> int:
        """CALL system.build_bloom_index: one Bloom bitset PER DATA FILE
        over ``column``'s live values, persisted as a metadata sidecar —
        the secondary data-skipping index for equality probes on
        high-cardinality columns whose per-file [min,max] ranges overlap
        (where footer-bounds skipping can't drop anything). The same role
        Iceberg's Puffin stat blobs / parquet bloom filters play; here
        the index is engine-readable at PLAN time, so files prune before
        Spark schedules a single split.

        Build cost: one distributed scan — xxhash64 + k probe positions
        per value (JVM-side), folded into 64-bit words by a map-side
        partially-aggregated `bit_or`, one output row per (file, word).
        Parquet files are immutable, so per-file bitsets never go stale:
        files written after the build simply have no entry and are never
        pruned (rebuild to cover them). Returns the number of files
        indexed."""
        from minio_iceberg_polaris_lakehouse_spark.functions.bloom import _POW2

        schema = self.schema()
        if column not in schema.fieldNames():
            raise WarehouseError(f"no such column: {column}")
        sel = (
            self.read(metadata_columns=True)
            .filter(F.col(column).isNotNull())
            .select(
                F.regexp_replace(F.col("_file"), "^file:(//)?", "").alias("f"),
                F.xxhash64(F.col(column)).alias("h"),
            )
        )
        h1 = F.shiftrightunsigned(F.col("h"), 33)
        h2 = F.col("h").bitwiseAND(F.lit(0x7FFFFFFF)).bitwiseOR(F.lit(1))
        pos = F.explode(
            F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(bits)) for i in range(k)])
        ).alias("pos")
        rows = (
            sel.select("f", pos)
            .select(
                "f",
                F.floor(F.col("pos") / 64).cast("int").alias("w"),
                F.element_at(
                    F.lit(_POW2).cast("array<long>"), F.pmod(F.col("pos"), 64).cast("int") + 1
                ).alias("m"),
            )
            .groupBy("f", "w")
            .agg(F.bit_or("m").alias("bits"))
            .collect()
        )
        files: dict[str, dict[str, int]] = {}
        root = fsio.strip_file_scheme(os.path.abspath(self.path))
        for r in rows:
            key = os.path.normpath(os.path.relpath(r["f"], root))
            files.setdefault(key, {})[str(r["w"])] = r["bits"]
        fsio.makedirs(os.path.join(self.path, "metadata"))
        _atomic_write_json(
            self._bloom_index_path(column),
            {
                "column": column,
                "bits": bits,
                "k": k,
                "snapshot_id": self.current_snapshot_id(),
                "files": files,
            },
        )
        return len(files)

    BUNDLE_SIZE = 100  # dirs per consolidated manifest bundle

    def rewrite_manifests(self, bundle_size: int | None = None) -> tuple[int, int]:
        """CALL system.rewrite_manifests: consolidate many small per-dir
        manifests (the `.stats.json` sidecars the metadata tables and the
        Iceberg export read) into a few immutable bundle files under
        `metadata/`, so listing a snapshot's files costs O(bundles)
        metadata reads instead of O(dirs) —
        Iceberg's small-manifest compaction, mapped to this engine's
        dir-granular manifests. Metadata-only: no data moves, no snapshot
        is added (the engine's manifests are dir-keyed, not
        snapshot-keyed), sidecars stay in place for in-flight readers
        holding the previous metadata doc. Returns (rewritten_manifests,
        added_bundles). Dirs committed after the rewrite read their own
        sidecars until the next rewrite folds them in."""
        bsize = bundle_size or Table.BUNDLE_SIZE
        lock, token = self._acquire_commit_lock()
        try:
            meta = self._meta()
            dirs: set[str] = set()
            for s in self._snaps():
                dirs.update(s["manifest"])
                dirs.update(s.get("delete_dirs", []))
                dirs.update(r["dir"] for r in s.get("eq_deletes", []))
            existing = meta.get("dir_bundles", {})
            todo = sorted(d for d in dirs if d not in existing)
            if not todo:
                return (0, 0)
            fsio.makedirs(os.path.join(self.path, "metadata"))
            new_map = dict(existing)
            added = 0
            for i in range(0, len(todo), bsize):
                chunk = todo[i : i + bsize]
                payload = {"dirs": {d: _load_dir_stats(self.path, d, meta) for d in chunk}}
                rel = os.path.join(
                    "metadata", f"manifest-bundle-{uuid.uuid4().hex[:12]}.json"
                )
                _atomic_write_json(os.path.join(self.path, rel), payload)
                for d in chunk:
                    new_map[d] = rel
                added += 1
            meta["dir_bundles"] = new_map
            self._write_meta(meta)
            return (len(todo), added)
        finally:
            self._release_commit_lock(lock, token)

    def create_ref(self, name: str, ref_type: str = "tag", snapshot_id: int | None = None) -> None:
        """Named ref (Iceberg branch/tag) pinning a snapshot: time travel
        by name (`VERSION AS OF 'audit-2024'`), protected from
        expire_snapshots (a branch pins its whole staged chain down to
        the main fork point). Tags are read pointers; BRANCHES are
        writable — appends AND row-level DML (`branch=` on append/
        delete_where/update_where/merge_into/overwrite, or session-wide
        via `SET spark.wap.branch`) stage on the branch
        (write-audit-publish), published via fast_forward/cherry_pick."""
        if ref_type.lower() not in ("branch", "tag"):
            raise WarehouseError(f"ref type must be branch or tag, not {ref_type}")
        if name == "main":
            raise WarehouseError("ref name 'main' is reserved")
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            raise WarehouseError("cannot create a ref on an empty table")
        self._resolve(version=int(sid))  # validates the snapshot exists
        lock, token = self._acquire_commit_lock()
        try:
            meta = self._meta()
            meta.setdefault("refs", {})[name] = {
                "snapshot_id": int(sid),
                "type": ref_type.upper(),
            }
            self._write_meta_and_export(meta)
        finally:
            self._release_commit_lock(lock, token)

    def fast_forward(self, branch: str) -> int:
        """CALL system.fast_forward('main', branch): PUBLISH a branch's
        staged snapshots to main — the write-audit-publish closing step.
        Requires main not to have moved since the branch forked (a true
        fast-forward, Iceberg's contract); otherwise CommitConflictError —
        re-stage or cherry-pick instead. The published state lands as a
        new main snapshot re-pointing at the branch head's manifest (the
        log stays append-only; observable behavior matches Iceberg's ref
        move, with lineage recorded in the summary)."""
        lock, token = self._acquire_commit_lock()
        try:
            return self._fast_forward_locked(branch)
        finally:
            self._release_commit_lock(lock, token)

    def _fast_forward_locked(self, branch: str, check_only: bool = False) -> int | None:
        """fast_forward body — caller MUST hold this table's commit lock.
        ``check_only=True`` validates the fast-forward precondition (fork
        base == main head) without committing — multi-table transactions
        (transactions.py) run a validate-all phase across every touched
        table before any table publishes, so a conflict on the last table
        cannot leave the first ones already published."""
        snaps = self._snaps()
        meta = self._meta()
        rec = meta.get("refs", {}).get(branch)
        if rec is None or rec.get("type") != "BRANCH":
            raise WarehouseError(f"unknown branch {branch!r} on {self.ns}.{self.name}")
        by_id = {s["snapshot_id"]: s for s in snaps}
        head = by_id[int(rec["snapshot_id"])]
        mains = self._main_snaps(snaps)
        main_head = mains[-1]["snapshot_id"] if mains else None
        if not head.get("branch"):
            return main_head  # branch never diverged — nothing to publish
        # fork base: walk parents through the branch-staged snapshots
        base = head
        while base.get("branch"):
            nxt = by_id.get(base.get("parent_id"))
            if nxt is None:
                raise WarehouseError(
                    f"{self.ns}.{self.name}: branch {branch!r} lost its fork "
                    f"base (snapshot {base.get('parent_id')} was expired); "
                    "cherry-pick the staged snapshots or re-stage on a fresh branch"
                )
            base = nxt
        if base["snapshot_id"] != main_head:
            raise CommitConflictError(
                f"{self.ns}.{self.name}: main moved {base['snapshot_id']} -> "
                f"{main_head} since branch {branch!r} forked; not a fast-forward"
            )
        if check_only:
            return None
        # the commit re-points the branch at the published main head
        # (Iceberg's fast_forward leaves branch == main): the NEXT staged
        # commit forks from the published state, so repeated stage+publish
        # cycles on one branch — the normal WAP workflow — keep
        # fast-forwarding instead of conflicting on a stale fork base
        return self._append_snapshot(
            snaps,
            "append",
            head["manifest"],
            {"published-from-branch": branch, "published-snapshot-id": head["snapshot_id"]},
            head.get("delete_dirs", []),
            eq_deletes=head.get("eq_deletes", []),
            repoint=branch,
        )

    def cherry_pick(self, snapshot_id: int) -> int:
        """CALL system.cherrypick_snapshot: apply ONE staged snapshot's
        append delta on top of the current main head (Iceberg's WAP
        publish for `spark.wap.id`-staged commits). Append snapshots only
        — their delta is commutative, so this succeeds even after main
        has moved (unlike fast_forward); replacing snapshots raise, as in
        Iceberg."""
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            by_id = {s["snapshot_id"]: s for s in snaps}
            if snapshot_id not in by_id:
                raise WarehouseError(f"snapshot {snapshot_id} not found")
            src = by_id[snapshot_id]
            parent = by_id.get(src["parent_id"]) if src["parent_id"] is not None else None
            par_dirs = set(parent["manifest"]) if parent else set()
            par_dels = set(parent.get("delete_dirs", [])) if parent else set()
            par_eq = {r["dir"] for r in (parent.get("eq_deletes", []) if parent else [])}
            if (
                src["operation"] != "append"
                or not par_dirs.issubset(set(src["manifest"]))
                or set(src.get("delete_dirs", [])) != par_dels
                or {r["dir"] for r in src.get("eq_deletes", [])} != par_eq
            ):
                raise WarehouseError(
                    f"snapshot {snapshot_id} is not a pure append — "
                    "cherry-pick supports append snapshots only"
                )
            delta = [d for d in src["manifest"] if d not in par_dirs]
            mains = self._main_snaps(snaps)
            live = (mains[-1]["manifest"] if mains else []) + delta
            inherited = mains[-1].get("delete_dirs", []) if mains else []
            inherited_eq = mains[-1].get("eq_deletes", []) if mains else []
            return self._append_snapshot(
                snaps,
                "append",
                live,
                {"cherry-picked-from": snapshot_id, **src.get("summary", {})},
                inherited,
                eq_deletes=inherited_eq,
            )
        finally:
            self._release_commit_lock(lock, token)

    def drop_ref(self, name: str) -> None:
        lock, token = self._acquire_commit_lock()
        try:
            self._drop_ref_locked(name)
        finally:
            self._release_commit_lock(lock, token)

    def _drop_ref_locked(self, name: str) -> None:
        """drop_ref body — caller MUST hold this table's commit lock
        (multi-table transactions drop their branches under it)."""
        meta = self._meta()
        if name not in meta.get("refs", {}):
            raise WarehouseError(f"unknown ref {name!r}")
        del meta["refs"][name]
        self._write_meta_and_export(meta)

    def partitions(self) -> DataFrame:
        """SHOW PARTITIONS: distinct hive partition values across the
        current snapshot's data dirs (directory listing — metadata-only)."""
        snap = self._resolve()
        parts = set()
        for d in snap["manifest"]:
            base = os.path.join(self.path, d)
            for root, dirs, _files in fsio.walk(base):
                for sub in dirs:
                    if "=" in sub and sub.startswith("_p_"):
                        parts.add(sub)
        schema = "partition string"
        rows = [Row(partition=p) for p in sorted(parts)]
        return local_frame(self.spark, rows, schema)

    def partitions_table(self) -> DataFrame:
        """<table>.partitions metadata table (Iceberg): one row per live
        partition value with record_count and file_count, built entirely
        from the commit-time footer stats — metadata-only, no data scan
        (unpartitioned tables report one null-partition row, as Iceberg
        does). Tombstoned rows are NOT subtracted (Iceberg's .partitions
        reports data-file record counts; position deletes live in the
        separate delete-file stats)."""
        snap = self._resolve()
        meta = self._meta()
        agg: dict[str, list[int]] = {}
        for d in snap["manifest"]:
            for f in _load_dir_stats(self.path, d, meta):
                # hive-style partition dirs are encoded in the file's
                # relative path as _p_<col>=<value> segments
                part = "/".join(
                    seg for seg in f["path"].split(os.sep)[:-1] if seg.startswith("_p_") and "=" in seg
                ) or None
                cur = agg.setdefault(part or "", [0, 0])
                cur[0] += int(f["rows"])
                cur[1] += 1
        rows = [
            Row(
                partition=(p or None),
                record_count=c[0],
                file_count=c[1],
            )
            for p, c in sorted(agg.items())
        ]
        schema = "partition string, record_count bigint, file_count int"
        return local_frame(self.spark, rows, schema)

    def compute_partition_stats(self) -> dict:
        """`CALL system.compute_partition_stats` — write the Iceberg-spec
        PARTITION STATISTICS file: one Parquet file holding a row per
        live partition (data/delete record+file counts, byte size,
        last-updated snapshot), referenced from the exported table
        metadata's `partition-statistics` list so any engine's planner
        reads it. Derived entirely from commit-time footer stats +
        snapshot history — metadata-only driver work, O(files), no data
        scan (the same access pattern as `.partitions`). Partition
        values are written as a struct of the table's partition field
        names (path-encoded string form — this engine's single-transform
        spec convention)."""
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as _pq

        snap = self._resolve() if self.current_snapshot_id() is not None else None
        if snap is None:
            raise WarehouseError(
                f"{self.ns}.{self.name} has no snapshots to compute stats for"
            )
        meta = self._meta()
        snaps = self._snaps()
        added_in: dict[str, dict] = {}
        for s in snaps:
            for d in s["manifest"] + s.get("delete_dirs", []):
                added_in.setdefault(d, s)

        def part_of(path: str) -> str:
            return "/".join(
                seg
                for seg in path.split(os.sep)[:-1]
                if seg.startswith("_p_") and "=" in seg
            )

        agg: dict[str, dict] = {}

        def rec_for(p: str) -> dict:
            return agg.setdefault(
                p,
                {
                    "data_record_count": 0,
                    "data_file_count": 0,
                    "total_data_file_size_in_bytes": 0,
                    "position_delete_record_count": 0,
                    "position_delete_file_count": 0,
                    "equality_delete_record_count": 0,
                    "equality_delete_file_count": 0,
                    "last_updated_at": 0,
                    "last_updated_snapshot_id": 0,
                },
            )

        for d in snap["manifest"]:
            s_add = added_in.get(d, snap)
            for f in _load_dir_stats(self.path, d, meta):
                r = rec_for(part_of(f["path"]))
                r["data_record_count"] += int(f["rows"])
                r["data_file_count"] += 1
                r["total_data_file_size_in_bytes"] += int(f["bytes"])
                if int(s_add["committed_at_ms"]) >= r["last_updated_at"]:
                    r["last_updated_at"] = int(s_add["committed_at_ms"])
                    r["last_updated_snapshot_id"] = int(s_add["snapshot_id"])
        for d in snap.get("delete_dirs", []):
            s_add = added_in.get(d, snap)
            for f in _load_dir_stats(self.path, d, meta):
                r = rec_for(part_of(f["path"]))
                r["position_delete_record_count"] += int(f["rows"])
                r["position_delete_file_count"] += 1
        for rec in snap.get("eq_deletes", []):
            r = rec_for("")  # eq deletes are table-wide in this engine
            for f in _load_dir_stats(self.path, rec["dir"], meta):
                r["equality_delete_record_count"] += int(f["rows"])
                r["equality_delete_file_count"] += 1

        # partition struct: one string field per partition field name
        # seen across specs (path-encoded value form)
        field_names = sorted(
            {
                seg.split("=", 1)[0][len("_p_") :]
                for p in agg
                for seg in p.split("/")
                if seg.startswith("_p_")
            }
        )
        spec_id = self._current_spec_id(meta)

        def part_struct(p: str) -> dict | None:
            if not p:
                return None
            vals = dict(
                seg[len("_p_") :].split("=", 1) for seg in p.split("/") if "=" in seg
            )
            return {n: vals.get(n) for n in field_names}

        part_type = pa.struct([(n, pa.string()) for n in field_names] or [("dummy", pa.string())])
        rows = sorted(agg.items())
        # delete rows recorded under a key holding no data files cannot
        # be attributed to any partition (see total_record_count below)
        orphan_deletes = any(
            (
                r["position_delete_record_count"]
                or r["equality_delete_record_count"]
            )
            and not r["data_file_count"]
            for r in agg.values()
        )
        table = pa.table(
            {
                "partition": pa.array([part_struct(p) for p, _ in rows], part_type),
                "spec_id": pa.array([spec_id] * len(rows), pa.int32()),
                "data_record_count": pa.array(
                    [r["data_record_count"] for _, r in rows], pa.int64()
                ),
                "data_file_count": pa.array(
                    [r["data_file_count"] for _, r in rows], pa.int32()
                ),
                "total_data_file_size_in_bytes": pa.array(
                    [r["total_data_file_size_in_bytes"] for _, r in rows], pa.int64()
                ),
                "position_delete_record_count": pa.array(
                    [r["position_delete_record_count"] for _, r in rows], pa.int64()
                ),
                "position_delete_file_count": pa.array(
                    [r["position_delete_file_count"] for _, r in rows], pa.int32()
                ),
                "equality_delete_record_count": pa.array(
                    [r["equality_delete_record_count"] for _, r in rows], pa.int64()
                ),
                "equality_delete_file_count": pa.array(
                    [r["equality_delete_file_count"] for _, r in rows], pa.int32()
                ),
                # spec: record count AFTER applying delete files.
                # Position deletes remove exactly one row each; an
                # equality-delete ROW can match any number of data rows,
                # so a partition carrying equality deletes has no exact
                # total derivable from counts — publish null (optional
                # field) rather than an inflated number. Delete files in
                # this engine live in table-root dirs: when any delete
                # rows aggregate under a key with NO data files (a
                # partitioned table with table-wide deletes), their
                # per-partition attribution is unknown and EVERY total
                # goes null — counts may never silently overstate.
                "total_record_count": pa.array(
                    [
                        None
                        if orphan_deletes or r["equality_delete_record_count"]
                        else r["data_record_count"]
                        - r["position_delete_record_count"]
                        for _, r in rows
                    ],
                    pa.int64(),
                ),
                "last_updated_at": pa.array(
                    [r["last_updated_at"] or None for _, r in rows], pa.int64()
                ),
                "last_updated_snapshot_id": pa.array(
                    [r["last_updated_snapshot_id"] or None for _, r in rows], pa.int64()
                ),
            }
        )
        buf = _io.BytesIO()
        _pq.write_table(table, buf)
        data = buf.getvalue()
        mdir = os.path.join(self.path, "metadata")
        fsio.makedirs(mdir, exist_ok=True)
        snap_id = int(snap["snapshot_id"])
        path = os.path.join(mdir, f"partition-stats-{snap_id}.parquet")
        fsio.write_bytes_atomic(path, data, uuid.uuid4().hex)
        entry = {
            "snapshot-id": snap_id,
            "statistics-path": path,
            "file-size-in-bytes": len(data),
        }
        lock, token = self._acquire_commit_lock()
        try:
            meta = self._meta()
            meta["partition_statistics_files"] = [
                e
                for e in meta.get("partition_statistics_files", [])
                if e["snapshot-id"] != snap_id
            ] + [entry]
            self._write_meta_and_export(meta)
        finally:
            self._release_commit_lock(lock, token)
        return {**entry, "partitions": len(rows)}

    def _bucket_spec_hash(self, meta: dict | None = None) -> bool:
        """True when this table buckets with the ICEBERG-SPEC hash
        (TBLPROPERTIES write.bucket-hash=iceberg-murmur3) — writes AND
        derived scan filters must agree, which is why changing the
        property after data exists is refused (set_properties)."""
        props = (meta if meta is not None else self._meta()).get("properties", {})
        return props.get("write.bucket-hash") == "iceberg-murmur3"

    def set_properties(self, props: dict[str, str]) -> None:
        """ALTER TABLE … SET TBLPROPERTIES — metadata-only; the Iceberg
        knobs this engine honors (write.delete.mode, write.update.mode,
        …) take effect on the next write."""

        def change(meta: dict) -> None:
            if "write.bucket-hash" in props:
                new = str(props["write.bucket-hash"])
                if new not in ("iceberg-murmur3", "spark-murmur3-seed42"):
                    raise WarehouseError(
                        f"unknown write.bucket-hash {new!r} (iceberg-murmur3 "
                        "or spark-murmur3-seed42)"
                    )
                cur = meta.get("properties", {}).get("write.bucket-hash")
                if cur != new and self._snaps():
                    # existing bucket dirs were hashed under the old
                    # function — scans deriving with the new one would
                    # silently prune WRONG files
                    raise WarehouseError(
                        "write.bucket-hash cannot change after the table has "
                        "snapshots (existing partition dirs were hashed with "
                        f"{cur or 'spark-murmur3-seed42'})"
                    )
            meta["properties"].update({str(k): str(v) for k, v in props.items()})

        self._alter(change)

    def unset_properties(self, keys: list[str]) -> None:
        """ALTER TABLE … UNSET TBLPROPERTIES (IF EXISTS semantics: absent
        keys are ignored, matching Spark)."""

        def change(meta: dict) -> None:
            for k in keys:
                meta["properties"].pop(k, None)

        self._alter(change)

    def rollback_to(self, snapshot_id: int) -> int:
        """CALL system.rollback_to_snapshot: make an earlier snapshot's
        state current again. The log is append-only, so this commits a NEW
        'rollback' snapshot that re-points at the target's data (history
        is preserved and time travel to the in-between snapshots still
        works — the same observable behavior as Iceberg's ref move)."""
        target = self._resolve(version=snapshot_id)
        lock, token = self._acquire_commit_lock()
        try:
            return self._append_snapshot(
                self._snaps(),
                "rollback",
                target["manifest"],
                {"rollback-to": snapshot_id},
                target.get("delete_dirs", []),
                eq_deletes=target.get("eq_deletes", []),
            )
        finally:
            self._release_commit_lock(lock, token)

    def truncate(self, branch: str | None = None) -> int:
        """TRUNCATE TABLE: one 'delete' snapshot with an empty manifest —
        no data rewritten, time travel to pre-truncate snapshots intact.
        ``branch`` stages the truncation on a WAP branch like every other
        row-level write (main readers keep the data until publish)."""
        if branch:
            parent = self._resolve(branch)["snapshot_id"]
        else:
            parent = self.current_snapshot_id()
        return self._commit_replace("delete", [], {"truncate": True}, parent, branch=branch)

    def remove_orphan_files(self, older_than_s: float = 3 * 24 * 3600) -> int:
        """CALL system.remove_orphan_files: delete data/delete dirs on
        disk that no snapshot references (left behind by failed writes
        whose commit never happened). Returns the number removed.

        ``older_than_s`` guards in-flight writes: data dirs are written
        BEFORE their commit takes the lock, so an unreferenced dir may be
        seconds away from being referenced — deleting it would let the
        commit land pointing at nothing (silent data loss on every later
        read). Same 3-day default as Iceberg's remove_orphan_files."""
        import time as _time

        lock, token = self._acquire_commit_lock()
        try:
            referenced = set()
            for s in self._snaps():
                referenced.update(s["manifest"])
                referenced.update(s.get("delete_dirs", []))
                referenced.update(r["dir"] for r in s.get("eq_deletes", []))
            removed = 0
            for d in fsio.listdir(self.path):
                # ".eqpos-*.tmp-*": a compiled-delete build dir whose
                # publish rename never happened (crashed exporter). The
                # export holds the commit lock while building, and we
                # hold it here, so any temp dir we can see is dead —
                # without this sweep repeated crashes accumulate full
                # parquet copies no other GC pattern matches
                crashed_tmp = d.startswith(".eqpos-") and ".tmp-" in d
                if (
                    (d.startswith("data-") or d.startswith("delete-") or crashed_tmp)
                    and d not in referenced
                    and fsio.isdir(os.path.join(self.path, d))
                ):
                    try:
                        age = _time.time() - fsio.getmtime(os.path.join(self.path, d))
                    except FileNotFoundError:
                        continue
                    if age < older_than_s:
                        continue  # possibly an in-flight write
                    fsio.rmtree(os.path.join(self.path, d))
                    removed += 1
            return removed
        finally:
            self._release_commit_lock(lock, token)

    def describe(self) -> list[tuple[str, str]]:
        """DESCRIBE TABLE (reference D9)."""
        return [(f.name, f.dataType.simpleString()) for f in self.schema().fields]

    # Types whose min/max are recorded by ANALYZE (Iceberg records bounds
    # for these; arrays/maps/structs/binary get counts + NDV only).
    _ANALYZE_ORDERABLE = (
        T.NumericType,
        T.StringType,
        T.DateType,
        T.TimestampType,
        T.BooleanType,
    )

    def analyze(self, columns: list[str] | None = None) -> dict:
        """ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …] — the
        `CALL system.compute_table_stats` procedure of Iceberg 1.4+.

        ONE distributed aggregate over the current snapshot computes
        per-column null counts, approximate NDV (HyperLogLog via
        `approx_count_distinct` — map-side partial sketches merge at the
        exchange, the same access pattern as Iceberg's theta-sketch
        Puffin files), and min/max for orderable atomic types. Row count
        and byte size come from commit-time footer stats (metadata-only,
        no scan). The result is persisted in the table metadata keyed by
        the snapshot analyzed, so consumers (DESCRIBE EXTENDED, external
        planners) can tell stale stats from fresh ones."""
        from pyspark.sql import functions as F

        df = self.read()
        fields = {f.name: f.dataType for f in df.schema.fields}
        cols = list(fields) if columns is None else list(columns)
        unknown = [c for c in cols if c not in fields]
        if unknown:
            raise WarehouseError(f"cannot ANALYZE unknown columns: {unknown}")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, c in enumerate(cols):
            aggs.append(F.count(F.col(c)).alias(f"c{i}"))
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"d{i}"))
            if isinstance(fields[c], Table._ANALYZE_ORDERABLE):
                aggs.append(F.min(F.col(c)).alias(f"mn{i}"))
                aggs.append(F.max(F.col(c)).alias(f"mx{i}"))
        row = df.agg(*aggs).collect()[0].asDict()
        snap = self._resolve() if self.current_snapshot_id() is not None else None
        meta = self._meta()
        size = 0
        if snap is not None:
            for d in snap["manifest"]:
                size += sum(f["bytes"] for f in _load_dir_stats(self.path, d, meta))
        col_stats = {}
        for i, c in enumerate(cols):
            rec = {
                "null_count": int(row["__rows"]) - int(row[f"c{i}"]),
                "ndv": int(row[f"d{i}"]),
            }
            if f"mn{i}" in row:
                rec["min"] = None if row[f"mn{i}"] is None else str(row[f"mn{i}"])
                rec["max"] = None if row[f"mx{i}"] is None else str(row[f"mx{i}"])
            col_stats[c] = rec
        stats = {
            "snapshot_id": self.current_snapshot_id(),
            "row_count": int(row["__rows"]),
            "size_in_bytes": size,
            "columns": col_stats,
        }
        # the OPEN half: per-column theta NDV sketches in a Puffin
        # statistics file (apache-datasketches-theta-v1), referenced from
        # the exported metadata's `statistics` list — what Trino/Spark+
        # Iceberg planners read. The engine-private JSON above keeps
        # null counts and bounds the open blob type doesn't carry.
        stats_entry = self._write_theta_statistics(df, cols, fields)
        lock, token = self._acquire_commit_lock()
        try:
            meta = self._meta()
            meta["statistics"] = stats
            if stats_entry is not None:
                meta["statistics_files"] = [
                    e
                    for e in meta.get("statistics_files", [])
                    if e["snapshot-id"] != stats_entry["snapshot-id"]
                ] + [stats_entry]
                # a statistics update is a metadata update: the open
                # metadata document advertises the new stats file
                self._write_meta_and_export(meta)
            else:
                self._write_meta(meta)
        finally:
            self._release_commit_lock(lock, token)
        return stats

    # nominal sketch size (DataSketches default): ANALYZE ships at most
    # k+1 longs per column per partition to the driver, never values
    _THETA_K = 4096

    def _write_theta_statistics(
        self, df: DataFrame, cols: list[str], fields: dict
    ) -> dict | None:
        """Compute per-column compact theta sketches DISTRIBUTED and
        persist them as one Puffin statistics file.

        Scale shape: one mapInPandas pass hashes each partition's
        DISTINCT values (Iceberg single-value serialization → murmur3
        seed 9001) and emits only the k+1 smallest per column — the
        union of those per-partition minima provably contains the global
        k+1 smallest, so a WindowGroupLimit top-(k+1) per column and a
        cols×(k+1)-row collect finish the job. O(k·partitions·cols)
        crosses the exchange regardless of table size. Python-side
        hashing is acceptable here because ANALYZE is explicit
        maintenance, not a query path."""
        import pandas as pd

        from minio_iceberg_polaris_lakehouse_spark import puffin as PUF
        from minio_iceberg_polaris_lakehouse_spark import theta as TH
        from minio_iceberg_polaris_lakehouse_spark.session import ship_package

        # the hash kernel pickles by reference to this package — make it
        # importable on executors regardless of the driver's cwd
        ship_package(self.spark)

        convs: dict[int, object] = {}
        sketch_cols: list[str] = []
        for c in cols:
            conv = TH.single_value_converter(fields[c])
            if conv is not None:
                convs[len(sketch_cols)] = conv
                sketch_cols.append(c)
        snap_id = self.current_snapshot_id()
        if not sketch_cols or snap_id is None:
            return None
        k1 = Table._THETA_K + 1
        sel = df.select(*sketch_cols)

        def part(batches):
            best: list[set] = [set() for _ in sketch_cols]
            for pdf in batches:
                for i, c in enumerate(sketch_cols):
                    conv, s = convs[i], best[i]
                    for v in pd.unique(pdf[c].dropna()):
                        s.add(TH.theta_hash(conv(v)))
                    if len(s) > 4 * k1:  # bound executor memory
                        best[i] = set(sorted(s)[:k1])
            yield pd.DataFrame(
                {
                    "i": [i for i, s in enumerate(best) for _ in sorted(s)[:k1]],
                    "h": [h for s in best for h in sorted(s)[:k1]],
                }
            )

        w = Window.partitionBy("i").orderBy("h")
        top = (
            sel.mapInPandas(part, "i int, h long")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k1)
            .select("i", "h")
            .collect()  # ≤ cols×(k+1) longs — metadata-sized by design
        )
        by_col: dict[int, list[int]] = {}
        for r in top:
            by_col.setdefault(r.i, []).append(r.h)
        meta = self._meta()
        ids = meta.get("column_ids", {})
        names = self.schema().fieldNames()
        seq = len(self._snaps())
        blobs: list[tuple[bytes, dict]] = []
        for i, c in enumerate(sketch_cols):
            payload = TH.sketch_from_hashes(by_col.get(i, []))
            blobs.append(
                (
                    payload,
                    {
                        "type": "apache-datasketches-theta-v1",
                        "fields": [int(ids.get(c, names.index(c) + 1))],
                        "snapshot-id": int(snap_id),
                        "sequence-number": seq,
                        "properties": {
                            "ndv": str(int(round(TH.sketch_estimate(payload))))
                        },
                    },
                )
            )
        buf = PUF.write_puffin(
            blobs, {"created-by": "minio-iceberg-polaris-lakehouse-spark"}
        )
        mdir = os.path.join(self.path, "metadata")
        fsio.makedirs(mdir, exist_ok=True)
        path = os.path.join(mdir, f"{snap_id}-stats.puffin")
        fsio.write_bytes_atomic(path, buf, uuid.uuid4().hex)
        footer = PUF.read_puffin_footer(buf)
        return {
            "snapshot-id": int(snap_id),
            "statistics-path": path,
            "file-size-in-bytes": len(buf),
            "file-footer-size-in-bytes": len(buf)
            - 4
            - sum(len(p) for p, _ in blobs),
            "blob-metadata": footer["blobs"],
        }

    def statistics(self) -> dict | None:
        """The persisted ANALYZE result, or None if never analyzed.
        `stale` is derived: the analyzed snapshot is no longer current."""
        stats = self._meta().get("statistics")
        if stats is None:
            return None
        return {**stats, "stale": stats.get("snapshot_id") != self.current_snapshot_id()}

    def statistics_table(self) -> DataFrame:
        """The `.statistics` metadata table: per-column NDV decoded from
        the table's OWN exported Puffin statistics files — deliberately
        routed through the same open-format reader foreign consumers
        use, so a row here proves the stats round-trip the open format
        (if the export is broken, this surface breaks with it)."""
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            read_iceberg_statistics,
        )

        return read_iceberg_statistics(self.spark, self.path)

    def column_stats(self) -> DataFrame:
        """Persisted per-column ANALYZE statistics as a DataFrame (the
        SHOW-stats surface): column, null_count, ndv, min, max, stale."""
        stats = self.statistics()
        schema = (
            "column string, null_count bigint, ndv bigint, "
            "min string, max string, stale boolean"
        )
        if stats is None:
            return local_frame(self.spark, [], schema)
        rows = [
            Row(
                column=c,
                null_count=rec["null_count"],
                ndv=rec["ndv"],
                min=rec.get("min"),
                max=rec.get("max"),
                stale=stats["stale"],
            )
            for c, rec in sorted(stats["columns"].items())
        ]
        return local_frame(self.spark, rows, schema)

    # ---------------- maintenance (D11) ----------------
    def data_file_count(self, version: int | None = None) -> int:
        snap = self._resolve(version)
        n = 0
        for d in snap["manifest"]:
            for root, _dirs, files in fsio.walk(os.path.join(self.path, d)):
                n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    _ZORDER_TOTAL_BITS = 18

    def _cluster_zorder(self, df: DataFrame, cols: list[str], target_partitions: int) -> DataFrame:
        """Multi-dimensional write clustering (Iceberg's
        rewrite_data_files(strategy => 'sort', sort_order => 'zorder(…)')):
        min-max scale each column to a fixed-width integer bucket,
        interleave the buckets' bits into one Z-value, then
        range-partition + sort on it. Files then hold z-contiguous blocks,
        so parquet footer [min,max] bounds stay tight on EVERY zorder
        column at once and scan() skips files for predicates on any of
        them — one-dimensional WRITE ORDERED BY only tightens the leading
        column. Bounds come from one scalar aggregate over the input
        (maintenance-time, O(k) result rows); the Z expression itself is
        pure JVM arithmetic, no Python in the rewrite path."""
        k = len(cols)
        bits = max(4, self._ZORDER_TOTAL_BITS // k)
        schema = self.schema()

        def as_num(c: str) -> Column:
            dt = schema[c].dataType
            if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
                return F.col(c).cast("timestamp").cast("long").cast("double")
            if isinstance(dt, T.NumericType):
                return F.col(c).cast("double")
            raise WarehouseError(
                f"zorder supports numeric/temporal columns; {c} is {dt.simpleString()}"
            )

        aggs: list[Column] = []
        for c in cols:
            aggs += [F.min(as_num(c)).alias(f"lo_{c}"), F.max(as_num(c)).alias(f"hi_{c}")]
        row = df.agg(*aggs).collect()[0]
        z = F.lit(0).cast("long")
        top = (1 << bits) - 1
        for j, c in enumerate(cols):
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            if lo is None or hi is None or hi == lo:
                continue  # all-null or constant column: no locality to encode
            scaled = (as_num(c) - F.lit(float(lo))) / F.lit(float(hi) - float(lo))
            bucket = F.coalesce(
                F.least(F.greatest(F.floor(scaled * top), F.lit(0)), F.lit(top)),
                F.lit(0),
            ).cast("long")
            for i in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)).cast("long"), i * k + j
                )
        return (
            df.withColumn("_zval", z)
            .repartitionByRange(target_partitions, "_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )

    def compact(
        self,
        target_partitions: int = 1,
        sort_by: list[str] | None = None,
        zorder: list[str] | None = None,
    ) -> int:
        """rewrite_data_files: coalesce the live data into target-sized
        files under a new 'replace' snapshot. This is the valid form of the
        reference's intended small-file compaction (its `ALTER TABLE t
        COMPACT`, warehouse_helpers.py:142-146, is not executable SQL).
        ``sort_by`` range-clusters the rewrite on those columns (strategy
        => 'sort'); ``zorder`` interleave-clusters on multiple columns so
        file skipping works on all of them (see _cluster_zorder)."""
        parent = self.current_snapshot_id()
        # lineage=True: compaction must not change row identity (Iceberg
        # v3) — carried rows' _row_id / _last_updated_sequence_number are
        # materialized into the rewritten files
        cur = self.read(lineage=True)
        if zorder:
            cur = self._cluster_zorder(cur, zorder, target_partitions)
        elif sort_by:
            cur = cur.repartitionByRange(
                target_partitions, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
        else:
            cur = cur.coalesce(target_partitions)
        summary: dict[str, Any] = {"compacted-to": target_partitions}
        if zorder:
            summary["zorder"] = ",".join(zorder)
        if sort_by:
            summary["sort"] = ",".join(sort_by)
        p = self._write_data(
            cur, pre_clustered=bool(zorder or sort_by), lineage_cols=True
        )
        return self._commit_replace("replace", [p], summary, parent)

    def row_count(self) -> int | None:
        """Metadata-only COUNT(*): Σ data-file rows − Σ tombstone rows of
        the current snapshot, from the footer stats recorded at commit —
        no Spark job, O(dirs) driver work ("listing files, computing
        statistics … fast even with billions of files", reference
        README.md:138-139). Returns None when any dir lacks recorded
        stats (pre-sidecar legacy data) — callers then fall back to a
        real scan rather than risk an undercount."""
        snap = self._resolve()
        meta = self._meta()
        if snap.get("eq_deletes"):
            # equality-deleted row counts aren't derivable from footers
            # (keys may hit any number of rows) — force the real scan
            return None
        total = 0
        for content_dirs, sign in ((snap["manifest"], 1), (snap.get("delete_dirs", []), -1)):
            for d in content_dirs:
                has_sidecar = fsio.isfile(os.path.join(self.path, d, DIR_STATS_FILE))
                if not has_sidecar and d not in meta.get("dir_stats", {}):
                    return None  # no recorded stats for this dir — don't guess
                total += sign * sum(f["rows"] for f in _load_dir_stats(self.path, d, meta))
        return total

    def materialize_deletes(self) -> int:
        """rewrite_position_delete_files: fold merge-on-read tombstones
        back into the data by rewriting ONLY the commit dirs that contain
        tombstoned files — O(affected data), not O(table). Untouched dirs
        carry over into the new snapshot by name; the delete files are
        dropped. Readers stop paying the anti-join, which is the point of
        running this after deletes accumulate."""
        parent = self.current_snapshot_id()
        snap = self._resolve()
        del_dirs = snap.get("delete_dirs", [])
        if snap.get("eq_deletes"):
            # equality deletes can hit rows in ANY dir whose sequence
            # predates them — fold everything in one full rewrite (the
            # positional-only path below stays O(affected dirs))
            live = self.read(lineage=True)
            p = self._write_data(live, lineage_cols=True)
            return self._commit_replace(
                "replace",
                [p],
                {"materialized-equality-deletes": len(snap["eq_deletes"])},
                parent,
            )
        if not del_dirs:
            return parent or 0  # no tombstones — nothing to rewrite
        import urllib.parse

        tomb_files = {
            urllib.parse.urlparse(r.file_path).path  # _metadata paths are file: URIs
            for r in self.position_deletes().select("file_path").distinct().collect()
        }
        affected = [
            d
            for d in snap["manifest"]
            if any(f.startswith(os.path.join(self.path, d) + os.sep) for f in tomb_files)
        ]
        untouched = [d for d in snap["manifest"] if d not in affected]
        meta = self._meta()
        path, md = self._published_metadata()
        live = read_iceberg_table(
            self.spark,
            path,
            row_lineage=True,
            _metadata=md,
            _files=[
                os.path.join(self.path, d, f["path"])
                for d in affected
                for f in _load_dir_stats(self.path, d, meta)
            ],
        )
        p = self._write_data(live, lineage_cols=True)
        return self._commit_replace(
            "replace",
            untouched + [p],
            {"rewrote-dirs": len(affected), "materialized-deletes": len(tomb_files)},
            parent,
        )

    def expire_snapshots(self, keep_last: int = 1, older_than_ms: int | None = None) -> int:
        """Iceberg expire_snapshots: drop history older than the last N
        snapshots and garbage-collect unreferenced data directories.
        ``older_than_ms`` is Iceberg's primary form: only snapshots
        committed BEFORE the cutoff expire, still retaining at least
        ``keep_last`` (and everything refs pin)."""
        lock, token = self._acquire_commit_lock()
        try:
            snaps = self._snaps()
            # ref-pinned snapshots survive expiry — and for a BRANCH head
            # the whole staged parent chain down to (and including) its
            # main fork point must survive with it: fast_forward walks
            # that chain to find the fork base, so expiring an
            # intermediate staged snapshot would strand the branch
            # unpublishable
            by_id = {s["snapshot_id"]: s for s in snaps}
            pinned: set[int] = set()
            for r in self._meta().get("refs", {}).values():
                s = by_id.get(int(r["snapshot_id"]))
                while s is not None:
                    pinned.add(s["snapshot_id"])
                    if not s.get("branch"):
                        break  # reached main history — the fork point
                    s = by_id.get(s.get("parent_id"))
            # the retention tail counts MAIN history; branch-staged
            # snapshots survive only while a ref pins them
            mains = self._main_snaps(snaps)
            tail = mains[-keep_last:]
            if older_than_ms is not None:
                tail_ids = {s["snapshot_id"] for s in tail} | {
                    s["snapshot_id"]
                    for s in mains
                    if s["committed_at_ms"] >= older_than_ms
                }
                tail = [s for s in mains if s["snapshot_id"] in tail_ids]
            keep = [
                s for s in snaps if s in tail or s["snapshot_id"] in pinned
            ]
            live_dirs = (
                {d for s in keep for d in s["manifest"]}
                | {d for s in keep for d in s.get("delete_dirs", [])}
                | {r["dir"] for s in keep for r in s.get("eq_deletes", [])}
            )
            removed = 0
            # Iceberg's expireSnapshots also deletes the manifest lists of
            # expired snapshots and the manifests of collected files
            dead_metadata: set[str] = set()
            for s in snaps:
                if s in keep:
                    continue
                for d in (
                    s["manifest"]
                    + s.get("delete_dirs", [])
                    + [r["dir"] for r in s.get("eq_deletes", [])]
                ):
                    if d not in live_dirs:
                        p = os.path.join(self.path, d)
                        if fsio.isdir(p):
                            fsio.rmtree(p)
                            removed += 1
                        dead_metadata.add(f"manifest-{d}.avro")
                dead_metadata.add(f"snap-{s['snapshot_id']}-manifest-list.avro")
            _atomic_write_json(os.path.join(self.path, SNAP_FILE), {"snapshots": keep})
            # prune commit-time sequence records for dirs that no longer
            # exist anywhere (keeps meta O(live dirs))
            meta = self._meta()
            meta_dirty = False
            if meta.get("dir_seqs"):
                meta["dir_seqs"] = {
                    d: v for d, v in meta["dir_seqs"].items() if d in live_dirs
                }
                meta_dirty = True
            # statistics files of EXPIRED snapshots are dead weight —
            # Iceberg's expireSnapshots deletes them; prune the entries
            # and the Puffin/Parquet files they reference
            kept_ids = {s["snapshot_id"] for s in keep}
            for stats_key in ("statistics_files", "partition_statistics_files"):
                entries = meta.get(stats_key) or []
                dead = [e for e in entries if e["snapshot-id"] not in kept_ids]
                if dead:
                    meta[stats_key] = [
                        e for e in entries if e["snapshot-id"] in kept_ids
                    ]
                    meta_dirty = True
                    for e in dead:
                        try:
                            fsio.remove(e["statistics-path"])
                        except OSError:
                            pass  # already gone
            if meta_dirty:
                self._write_meta(meta)
            # re-export open metadata so vN+1 reflects the pruned history
            from minio_iceberg_polaris_lakehouse_spark.iceberg_export import (
                _compile_eq_deletes,
                write_iceberg_metadata,
            )

            write_iceberg_metadata(self)
            # GC compiled equality→positional delete dirs (export
            # artifacts, fingerprint-addressed) that no retained snapshot
            # resolves to — the export just (re)compiled/reused every
            # live one, so the name recomputation below is a cached
            # lookup, never a Spark job
            live_eqpos = {
                d
                for s in keep
                if (d := _compile_eq_deletes(self, meta, s)) is not None
            }
            for d in fsio.listdir(self.path):
                if (
                    d.startswith("eqpos-")
                    and d not in live_eqpos
                    and fsio.isdir(os.path.join(self.path, d))
                ):
                    fsio.rmtree(os.path.join(self.path, d))
                    dead_metadata.add(f"manifest-{d}.avro")
                    removed += 1
            for name in dead_metadata:
                try:
                    fsio.remove(os.path.join(self.path, "metadata", name))
                except FileNotFoundError:
                    pass  # equality-delete dirs have no manifest
            return removed
        finally:
            self._release_commit_lock(lock, token)


def _ms_to_ts(ms: int):
    import datetime

    return datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc).replace(tzinfo=None)
