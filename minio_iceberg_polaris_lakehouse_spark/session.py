"""SparkSession factory.

Mirrors the session the reference notebook builds
(reference: workspace/notebooks/getting_started.ipynb:51-70 — Iceberg REST
catalog + S3A to MinIO + zstd parquet), minus the infra: the catalog/object
store become ordinary SparkSession configuration, which is exactly how the
reference itself treats them.

Scale notes (100 TB design point):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion are the difference between a plan that works
  at sf0.1 and one that works at 100 TB.
- Arrow on: every pandas interchange (toPandas, pandas UDFs) is columnar.
- zstd parquet output, matching the reference's table property
  (getting_started.ipynb:140 `write.parquet.compression-codec=zstd`).
- `nanosAsLong`: the events feed stores TIMESTAMP(NANOS) which Spark's
  vectorized reader does not map to a timestamp type; we read the raw int64
  and convert in the source adapter (sources/tables.py) — a projection, not
  a driver-side rewrite, so it scales.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Iterable
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of the
    driver process's cwd. Functions referenced from mapInPandas /
    pandas_udf kernels are pickled **by reference** to their defining
    module, so executors must be able to import it; zipping the package
    once per session and `addPyFile`-ing it guarantees that (on a real
    cluster this is the `--py-files` deployment path)."""
    sc = spark.sparkContext
    if sc._jsc is None or getattr(sc, "_lakehouse_pkg_shipped", False):
        return
    pkg_dir = Path(__file__).resolve().parent
    tmp = tempfile.mkdtemp(prefix="lakehouse_pyfiles_")
    atexit.register(shutil.rmtree, tmp, True)  # zips accumulate otherwise
    zpath = shutil.make_archive(
        os.path.join(tmp, "lakehouse_pkg"), "zip", root_dir=pkg_dir.parent, base_dir=pkg_dir.name
    )
    sc.addPyFile(zpath)
    sc._lakehouse_pkg_shipped = True


def local_frame(spark: SparkSession, rows: Iterable, schema: T.StructType | str) -> DataFrame:
    """A DataFrame over rows the driver already holds: metadata tables,
    procedure results, metadata COUNT(*), INSERT VALUES lists.

    ``spark.createDataFrame(<list>, schema)`` parallelizes the list as a
    Python RDD, so collecting even a one-row answer runs a Spark job and
    starts Python workers. An Arrow table becomes a JVM ``LocalRelation``
    instead: collecting it runs no job and starts no worker.

    ``schema`` is a ``StructType`` or a DDL string. A row is a tuple
    (positional) or a ``Row`` with field names (matched by name). Values
    are checked as ``createDataFrame`` checks them: a value that does not
    fit its column's type, or a NULL in a NOT NULL column, raises. Naive
    datetimes are read as UTC."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    names = schema.names
    verify = T._make_type_verifier(schema)  # createDataFrame's own type and NULL checks
    tuples = [_row_values(r, names) for r in rows]
    for t in tuples:
        verify(t)
    cols = list(zip(*tuples)) or [() for _ in names]
    arrow_schema = to_arrow_schema(schema)
    arrays = []
    for f, af, vals in zip(schema.fields, arrow_schema, cols):
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            vals = [_arrow_value(v, f.dataType) for v in vals]
        arrays.append(pa.array(vals, type=af.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


def _row_values(row, names: list[str]) -> tuple:
    if isinstance(row, Row) and hasattr(row, "__fields__"):
        if sorted(row.__fields__) != sorted(names):
            raise ValueError(f"row fields {row.__fields__} do not match schema {names}")
        return tuple(row[n] for n in names)
    if len(row) != len(names):
        raise ValueError(f"row of {len(row)} values for a schema of {len(names)} columns")
    return row


def _arrow_value(v, dt: T.DataType):
    """A nested value in the shape ``pa.array`` takes: structs as dicts,
    maps as (key, value) lists."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        vals = _row_values(v, dt.names)
        return {f.name: _arrow_value(x, f.dataType) for f, x in zip(dt.fields, vals)}
    if isinstance(dt, T.ArrayType):
        return [_arrow_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        return [(_arrow_value(k, dt.keyType), _arrow_value(x, dt.valueType)) for k, x in v.items()]
    return v


def get_spark(
    app_name: str = "minio-iceberg-polaris-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults target local[N] testing; on a real cluster pass ``master=None``
    with externally-managed spark-submit confs — everything set here is
    advisory and cluster-safe.
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4 defaults ANSI on; the engine's expression surface (and
        # its DuckDB oracles) use non-ANSI semantics: cast failure and
        # out-of-bounds element_at -> NULL, x/0 -> NULL — under ANSI an
        # empty document or a non-numeric JSON field ABORTS the query
        # instead of contributing a NULL
        .config("spark.sql.ansi.enabled", "false")
        # --- scale / performance ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (the legacy default) carries no parquet min/max statistics,
        # which would blind manifest-level file skipping on timestamps
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame call-site capture wraps every API call in an
        # active-session lookup, a conf read and an origin set/clear over
        # py4j; analysis errors still name the column without it
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "spark-warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark
