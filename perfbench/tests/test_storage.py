"""Byte counts behind the amplification ratios (stored bytes per live byte,
write amplification)."""

import os

import duckdb
import pytest

from perfbench.storage import tree_bytes, zstd_parquet_bytes
from perfbench.stats import ratio


def test_tree_bytes_counts_every_file(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 100)
    (tmp_path / "sub" / "deeper").mkdir(parents=True)
    (tmp_path / "sub" / "b").write_bytes(b"y" * 30)
    (tmp_path / "sub" / "deeper" / "c").write_bytes(b"")
    assert tree_bytes(str(tmp_path)) == 130
    assert tree_bytes(str(tmp_path / "missing")) == 0


def test_live_bytes_file_is_removed_and_sized(tmp_path):
    con = duckdb.connect()
    path = str(tmp_path / "live.parquet")
    n = zstd_parquet_bytes(con, "SELECT range AS k, range % 7 AS v FROM range(10000)", path)
    assert n > 0 and not os.path.exists(path)


def test_storage_amplification_of_duplicated_files(tmp_path):
    """Two copies of a table's rows, each written as the live file would
    be, store twice the live bytes."""
    con = duckdb.connect()
    query = "SELECT range AS k, range * 3 AS v FROM range(20000) ORDER BY k"
    live = zstd_parquet_bytes(con, query, str(tmp_path / "live.parquet"))
    table = tmp_path / "table"
    table.mkdir()
    for i in range(2):
        con.execute(f"COPY ({query}) TO '{table}/part-{i}.parquet' (FORMAT PARQUET, COMPRESSION ZSTD)")
    assert ratio(tree_bytes(str(table)), live) == pytest.approx(2.0)
