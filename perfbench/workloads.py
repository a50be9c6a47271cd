"""The benchmark's workloads: op lists, their inputs and the checks that
every op returned the right answer.

An op is one timed operation, a pass one run through a workload's op list.
The seed sets the op order in each pass and, for ``lakehouse_dml``, the
key slices each statement touches."""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path
from typing import Any

import duckdb

from minio_iceberg_polaris_lakehouse_spark.operators import similarity, similarity_pq
from minio_iceberg_polaris_lakehouse_spark.registry import all_queries
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import read_iceberg_table
from minio_iceberg_polaris_lakehouse_spark.sources.tables import DEFAULT_SF_DIR, TABLES
from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL
from perfbench.stats import ratio
from perfbench.storage import tree_bytes, zstd_parquet_bytes

SF01_DIR = DEFAULT_SF_DIR  # the engine's sf0.1 test tables

# Five headline queries (bench.py HEADLINE) at sf0.1: a join-aggregate,
# top-k, a window, regex token counting and the shuffle-heavy range join;
# plus mm_audio_stats from bench.py EXTENDED, whose audio kernel runs in
# Python workers (no headline query does). Six short ops, so that a run
# fits several timed passes after its cold pass in the time budget.
HEADLINE_SF01 = [
    "flagship_revenue_by_nation",
    "rel_topk_orders",
    "win_top3_per_segment",
    "text_bpe_tokens",
    "rel_range_join",
    "mm_audio_stats",
]

# Model caches the engine keeps per session, and the queries that read them.
MODEL_CACHES = {
    "ivf": lambda: len(similarity._IVF_INDEX_CACHE),
    "pq": lambda: len(similarity_pq._PQ_MODEL_CACHE),
}
CACHE_READERS = {"sim_ann_ivf_indexed": "ivf", "sim_ann_pq_topk": "pq"}


@dataclass
class Op:
    """``build`` returns a DataFrame or a value; ``fetch`` (optional) turns
    a DataFrame into rows. Both are timed. ``check`` runs after timing and
    returns a problem description, or None when the result is right."""

    name: str
    build: Callable[[], Any]
    fetch: Callable[[Any], Any] | None
    check: Callable[[Any], str | None]
    build_span: str | None = "build"  # None: the wrapped layer records its own span


# ----------------------------------------------------------- result digests
def _norm(v: Any) -> Any:
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if hasattr(v, "asDict"):
        return {k: _norm(x) for k, x in v.asDict().items()}
    if type(v).__name__ == "Decimal":
        return float(v)
    return v


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, cells
    normalised across engines, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(repr([_norm(r[i]) for i in order]) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in norm:
        h.update(line.encode())
    return h.hexdigest()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# ------------------------------------------------------------ read workloads
class ReadWorkload:
    """Registered headline queries; each op builds the query and fetches
    its full result to the driver."""

    def __init__(self, queries: list[str], sf_dir: str):
        self.queries = queries
        self.sf_dir = sf_dir
        self.expected: dict[str, tuple[str, Any]] = {}

    def prepare(self, spark, work: Path, cache: Path) -> None:
        """``work`` holds this run's files; ``cache`` what later runs reuse."""
        self.spark = spark
        self.registry = all_queries()
        self.stored_ratio = stored_bytes_per_live_byte(self.sf_dir, work, cache)

    def begin_pass(self, index: int, rng: random.Random) -> list[Op]:
        order = list(self.queries)
        rng.shuffle(order)
        return [self._op(name) for name in order]

    def observe(self) -> None:
        pass

    def end_pass(self, trace: bool) -> dict[str, float]:
        return {"stored_bytes_per_live_byte": self.stored_ratio}

    def _op(self, name: str) -> Op:
        q = self.registry[name]

        def fetch(df):
            return df.columns, [tuple(r) for r in df.collect()]

        return Op(name, lambda: q.spark(self.spark, self.sf_dir), fetch, lambda res: self._check(name, res))

    def _check(self, name: str, result) -> str | None:
        columns, rows = result
        oracle = self.registry[name].oracle
        got = ("digest", digest(columns, rows)) if oracle else ("rows", len(rows))
        if name not in self.expected:
            # first run of the query in this process: compare with DuckDB
            if oracle:
                res = self._duck().execute(oracle)
                want = digest([d[0] for d in res.description], res.fetchall())
                self.expected[name] = ("digest", want)
            else:
                self.expected[name] = got
        if got != self.expected[name]:
            return f"{name}: {got[0]} {got[1]} != expected {self.expected[name][1]}"
        return None

    def _duck(self) -> duckdb.DuckDBPyConnection:
        if not hasattr(self, "_con"):
            self._con = duck_connection(self.sf_dir)
        return self._con


def stored_bytes_per_live_byte(sf_dir: str, work: Path, cache: Path) -> float:
    """Bytes of the input tables on disk per byte of the same rows written
    once as one zstd parquet file per table. The inputs never change, so
    the figure is computed once per input directory and kept in ``cache``."""
    memo = cache / f"stored_ratio-{Path(sf_dir).name}.json"
    if memo.exists():
        return json.loads(memo.read_text())["ratio"]
    con = duck_connection(sf_dir)
    live = sum(
        zstd_parquet_bytes(con, f"SELECT * FROM {t}", str(work / f"{t}.live.parquet")) for t in TABLES
    )
    stored = sum(os.path.getsize(f"{sf_dir}/{t}.parquet") for t in TABLES)
    memo.write_text(json.dumps({"ratio": ratio(stored, live)}))
    return ratio(stored, live)


# -------------------------------------------------------------- table DML
ORDERS_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
TABLE = "polaris.bench.orders"


class DmlWorkload:
    """The reference's table lifecycle on one quarter of sf0.1 ``orders``,
    through ``LakehouseSQL.sql`` on a fresh warehouse each pass. DuckDB
    replays the same seeded statements on the same parquet to give every
    expected answer."""

    INSERT_SLICES = 2
    # one quarter, three monthly partitions: statement cost on this table is
    # per-commit overhead, while all of orders (~80 months) would make every
    # commit write ~80 small files and a pass many times longer, leaving no
    # time for the repeated passes that steady the medians
    ROWS = "year(o_orderdate) = 1995 AND month(o_orderdate) <= 3"

    def prepare(self, spark, work: Path, cache: Path) -> None:
        self.spark = spark
        self.work = work
        src = f"'{SF01_DIR}/orders.parquet'"
        spark.read.parquet(f"{SF01_DIR}/orders.parquet").where(self.ROWS).selectExpr(
            *ORDERS_COLS.split(", ")
        ).createOrReplaceTempView("bench_orders_src")
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW bench_orders_src AS SELECT {ORDERS_COLS} FROM {src} WHERE {self.ROWS}")
        self.keys = [r[0] for r in self.con.execute(
            "SELECT o_orderkey FROM bench_orders_src ORDER BY 1").fetchall()]
        self.checked_content = False
        self.seen_files: set[tuple[str, int, int]] = set()

    # Seeded slices are integer predicates, identical in Spark SQL and DuckDB.
    def _preds(self, rng: random.Random) -> dict[str, str]:
        a, b, c = (rng.randrange(1, 1_000_003) for _ in range(3))
        bucket = f"((o_orderkey * 7919 + {a}) % 100)"
        width = 96 // self.INSERT_SLICES
        p = {f"insert{i}": f"{bucket} >= {i * width} AND {bucket} < {(i + 1) * width}"
             for i in range(self.INSERT_SLICES)}
        p["held_back"] = f"{bucket} >= 96"
        # ~5% of the inserted keys are updated, the held-back keys inserted
        p["merge"] = f"(((o_orderkey * 104729 + {b}) % 100) < 5 AND {bucket} < 96) OR {p['held_back']}"
        p["delete"] = f"((o_orderkey * 1299709 + {c}) % 50) = 0"
        return p

    def begin_pass(self, index: int, rng: random.Random) -> list[Op]:
        p = self._preds(rng)
        self.wh_dir = str(self.work / f"warehouse-{index}")
        lake = self.lake = LakehouseSQL(self.spark, self.wh_dir)
        point_key = rng.choice(self.keys)
        merge_src = (
            "SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice, "
            f"o_orderdate, o_orderpriority FROM bench_orders_src WHERE {p['merge']}"
        )
        inserted = " OR ".join(f"({p[f'insert{i}']})" for i in range(self.INSERT_SLICES))
        final = (
            f"SELECT * FROM (SELECT {ORDERS_COLS} FROM bench_orders_src WHERE ({inserted}) "
            f"AND o_orderkey NOT IN (SELECT o_orderkey FROM ({merge_src})) "
            f"UNION ALL {merge_src}) WHERE NOT ({p['delete']})"
        )
        self.final_sql, self.written_sql = final, (
            f"SELECT {ORDERS_COLS} FROM bench_orders_src WHERE {inserted} UNION ALL {merge_src}"
        )
        n_final = self.con.execute(f"SELECT count(*) FROM ({final})").fetchone()[0]
        n_v2 = self.con.execute(
            f"SELECT count(*) FROM bench_orders_src WHERE ({p['insert0']}) OR ({p['insert1']})"
        ).fetchone()[0]
        point = self.con.execute(f"SELECT * FROM ({final}) WHERE o_orderkey = {point_key}")
        point_digest = digest([d[0] for d in point.description], point.fetchall())
        commits = self.INSERT_SLICES + 2

        def sql(statement: str) -> Callable[[], Any]:
            return lambda: lake.sql(statement)

        def rows(df):
            return [tuple(r) for r in df.collect()]

        def expect(what: str, want) -> Callable[[Any], str | None]:
            return lambda got: None if got == want else f"{what}: got {got!r}, expected {want!r}"

        def first(df):
            return df.collect()[0][0]

        def no_check(_):
            return None

        ops = [Op("create", sql(
            f"CREATE TABLE {TABLE} (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING) "
            "USING ICEBERG PARTITIONED BY (months(o_orderdate))"), None, no_check, None)]
        ops += [
            Op(f"insert{i}", sql(f"INSERT INTO {TABLE} SELECT * FROM bench_orders_src WHERE {p[f'insert{i}']}"),
               None, no_check, None)
            for i in range(self.INSERT_SLICES)
        ]
        ops += [
            Op("merge", sql(
                f"MERGE INTO {TABLE} t USING ({merge_src}) s ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"), None, no_check, None),
            Op("delete", sql(f"DELETE FROM {TABLE} WHERE {p['delete']}"), None, no_check, None),
        ]
        reads = [
            Op("count", sql(f"SELECT COUNT(*) AS n FROM {TABLE}"), first, expect("count", n_final), None),
            Op("count_v2", sql(f"SELECT COUNT(*) AS n FROM {TABLE} VERSION AS OF 2"), first,
               expect("VERSION AS OF 2 count", n_v2), None),
            Op("snapshots", sql(f"SELECT * FROM {TABLE}.snapshots"), rows,
               lambda r: None if len(r) == commits else f"snapshots: {len(r)} != {commits}", None),
            Op("files", sql(f"SELECT * FROM {TABLE}.files"), rows,
               lambda r: None if r else "files: no live data files", None),
            Op("point_lookup", sql(f"SELECT * FROM {TABLE} WHERE o_orderkey = {point_key}"),
               lambda df: digest(df.columns, rows(df)), expect("point lookup digest", point_digest), None),
            Op("iceberg_readback", lambda: read_iceberg_table(self.spark, lake.wh.table("bench", "orders").path),
               lambda df: df.count(), expect("read_iceberg_table count", n_final), "iceberg_reader"),
        ]
        rng.shuffle(reads)
        ops += reads
        ops += [
            Op("rewrite_data_files", sql("CALL polaris.system.rewrite_data_files(table => 'bench.orders')"),
               rows, lambda r: None if r else "rewrite_data_files returned nothing", None),
            Op("expire_snapshots", sql(
                "CALL polaris.system.expire_snapshots(table => 'bench.orders', retain_last => 1)"),
               rows, lambda r: None if r else "expire_snapshots returned nothing", None),
        ]
        if not self.checked_content:  # the full table, once per run
            want = self.con.execute(final)
            want_digest = digest([d[0] for d in want.description], want.fetchall())
            ops.append(Op("content", sql(f"SELECT * FROM {TABLE}"),
                          lambda df: digest(df.columns, rows(df)), expect("table content digest", want_digest), None))
            self.checked_content = True
        return ops

    def observe(self) -> None:
        """Record every file now under the warehouse, so that files written
        and later removed within the pass still count as written."""
        for d, _dirs, files in os.walk(self.wh_dir):
            for f in files:
                st = os.stat(os.path.join(d, f))
                self.seen_files.add((os.path.join(d, f), st.st_mtime_ns, st.st_size))

    def end_pass(self, trace: bool) -> dict[str, float]:
        """Storage figures of the finished pass; the warehouse is then removed."""
        table = self.lake.wh.table("bench", "orders")
        con = self.con
        live = zstd_parquet_bytes(con, f"{self.final_sql} ORDER BY o_orderkey", str(self.work / "live.parquet"))
        out = {"stored_bytes_per_live_byte": ratio(tree_bytes(table.path), live)}
        if trace:
            written = zstd_parquet_bytes(con, self.written_sql, str(self.work / "written.parquet"))
            out.update(
                commits=float(table.current_snapshot_id()),
                data_files_live=float(table.data_file_count()),
                metadata_bytes=float(tree_bytes(os.path.join(table.path, "metadata"))),
                write_amp=ratio(sum(size for _p, _m, size in self.seen_files), written),
            )
        self.seen_files.clear()
        shutil.rmtree(self.wh_dir, ignore_errors=True)
        return out


WORKLOADS: dict[str, Callable[[], Any]] = {
    "headline_sf0.1": lambda: ReadWorkload(HEADLINE_SF01, SF01_DIR),
    "lakehouse_dml": DmlWorkload,
}
