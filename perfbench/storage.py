"""Byte counts behind the storage ratios: what a table directory holds,
and what the same rows take written once as one zstd parquet file."""

from __future__ import annotations

import os

import duckdb


def zstd_parquet_bytes(con: duckdb.DuckDBPyConnection, query: str, path: str) -> int:
    """Size of ``query``'s rows written once as one zstd parquet file at
    ``path``; the file is removed again."""
    con.execute(f"COPY ({query}) TO '{path}' (FORMAT PARQUET, COMPRESSION ZSTD)")
    try:
        return os.path.getsize(path)
    finally:
        os.remove(path)


def tree_bytes(path: str) -> int:
    """Bytes of all files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )
