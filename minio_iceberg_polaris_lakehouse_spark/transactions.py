"""Multi-table transactions: atomic commits across several tables.

The Iceberg REST spec exposes `POST /v1/{prefix}/transactions/commit` —
one request carrying per-table requirements + updates that the catalog
applies ALL-or-NOTHING (Polaris, the reference's catalog, implements it;
rest_catalog.py's loopback server mirrors the endpoint). Engine-side,
this module gives the same contract on a plain filesystem warehouse by
composing two primitives the engine already has:

- STAGING: every operation inside the transaction lands on a hidden
  per-transaction BRANCH of each touched table (the write-audit-publish
  machinery — `branch=` on append/delete/update/merge/overwrite), so
  nothing is visible to main readers while the transaction is open, and
  the transaction reads its own writes through the branch.
- PUBLISH: commit acquires every touched table's commit lock in a
  canonical sorted order (no deadlocks), VALIDATES the fast-forward
  precondition on ALL tables first (main must not have moved past any
  fork base — snapshot-isolation conflict detection), and only then
  fast-forwards each table. A conflict found on the last table therefore
  aborts the whole transaction with zero tables published.

Atomicity scope (stated honestly): with per-table file pointers, a
reader enumerating tables WHILE commit() runs can observe table A's new
snapshot before table B's pointer swaps microseconds later — the same
read-skew window Iceberg's own multi-table transactions have on a
filesystem catalog. Routing readers through the REST catalog removes it:
the loopback server's `commitTransaction` swaps every pointer under one
mutex (rest_catalog.py), which is exactly why the spec put transactions
in the catalog.

Reference parity: the reference's Polaris deployment (setup-polaris.sh)
arbitrates commits through the same REST surface; its notebooks use
single-table commits only, so this is the catalog capability one step
beyond the notebook transcript.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    Table,
    Warehouse,
    WarehouseError,
)


class TransactionError(WarehouseError):
    pass


class _TxnTable:
    """Handle for one table inside a transaction: the DML surface with
    every write routed to the transaction's hidden branch."""

    def __init__(self, txn: "Transaction", tab: Table):
        self._txn = txn
        self._tab = tab

    def read(self) -> DataFrame:
        """Read-your-writes: the staged branch state (main + this
        transaction's commits)."""
        self._txn._check_open()
        return self._tab.read(version=self._txn._branch)

    def append(self, df: DataFrame) -> int:
        self._txn._check_open()
        return self._tab.append(df, branch=self._txn._branch)

    def insert_values(self, rows: list[tuple]) -> int:
        self._txn._check_open()
        return self._tab.insert_values(rows, branch=self._txn._branch)

    def delete_where(self, condition: str, mode: str | None = None) -> int:
        self._txn._check_open()
        return self._tab.delete_where(condition, mode=mode, branch=self._txn._branch)

    def update_where(
        self, assignments: dict[str, str], condition: str, mode: str | None = None
    ) -> int:
        self._txn._check_open()
        return self._tab.update_where(
            assignments, condition, mode=mode, branch=self._txn._branch
        )

    def merge_into(self, source: DataFrame, on: str, **kw) -> int:
        self._txn._check_open()
        return self._tab.merge_into(source, on, branch=self._txn._branch, **kw)

    def overwrite(self, df: DataFrame) -> int:
        self._txn._check_open()
        return self._tab.overwrite(df, branch=self._txn._branch)


class Transaction:
    """``with wh.transaction() as txn: txn.table('db','a').append(...)``.

    All writes stage invisibly; exiting the block commits atomically
    (validate-all-then-publish-all under every touched table's lock) or,
    on an exception / explicit abort(), drops the staged branches so
    main never sees any of it."""

    def __init__(self, wh: Warehouse):
        self._wh = wh
        self._branch = f"__txn_{uuid.uuid4().hex[:10]}"
        self._tables: dict[tuple[str, str], Table] = {}
        self._state = "open"

    # ------------------------------------------------------------- helpers
    def _check_open(self) -> None:
        if self._state != "open":
            raise TransactionError(f"transaction is {self._state}")

    def table(self, ns: str, name: str) -> _TxnTable:
        """Enlist a table (first touch forks the transaction branch from
        its current main head — the snapshot the commit-time conflict
        check validates against)."""
        self._check_open()
        key = (ns, name)
        if key not in self._tables:
            tab = self._wh.table(ns, name)
            if not tab.exists():
                raise TransactionError(f"unknown table {ns}.{name}")
            if tab.current_snapshot_id() is None:
                raise TransactionError(
                    f"{ns}.{name} has no snapshots yet — commit its first "
                    "write outside the transaction (branches fork from a "
                    "snapshot)"
                )
            tab.create_ref(self._branch, "branch")
            self._tables[key] = tab
        return _TxnTable(self, self._tables[key])

    # ------------------------------------------------------------ lifecycle
    def commit(self) -> dict[tuple[str, str], int | None]:
        """Publish every table's staged branch, all-or-nothing. Returns
        {(ns, name): published main snapshot id}. Raises
        CommitConflictError (state: aborted, branches dropped) if ANY
        table's main moved since the transaction first touched it."""
        self._check_open()
        order = sorted(self._tables)  # canonical lock order — no deadlocks
        locks: list[tuple[Table, str, str]] = []
        published: list[tuple[str, str]] = []
        try:
            for key in order:
                tab = self._tables[key]
                lock, token = tab._acquire_commit_lock()
                locks.append((tab, lock, token))
            # phase 1: validate EVERY table before ANY publishes
            for key in order:
                self._tables[key]._fast_forward_locked(self._branch, check_only=True)
            # phase 2: publish (each is now a guaranteed fast-forward)
            out: dict[tuple[str, str], int | None] = {}
            for key in order:
                out[key] = self._tables[key]._fast_forward_locked(self._branch)
                published.append(key)
            self._drop_branches_locked()
            self._state = "committed"
            return out
        except BaseException as e:
            self._state = "failed"
            if published:
                # an unexpected IO/export failure AFTER some tables
                # fast-forwarded: dropping the remaining staged branches
                # here would destroy the unpublished tables' work
                # irrecoverably and silently break all-or-nothing.
                # Keep every staged branch, name the torn state, and let
                # the operator retry/repair from the branch.
                remaining = [k for k in order if k not in published]
                self._state = "torn"
                raise TransactionError(
                    "multi-table transaction failed MID-PUBLISH: tables "
                    f"{['.'.join(k) for k in published]} are published on "
                    f"main, tables {['.'.join(k) for k in remaining]} are "
                    f"NOT; their staged work is preserved on branch "
                    f"'{self._branch}' of each table for manual "
                    "fast-forward or cleanup"
                ) from e
            raise
        finally:
            for tab, lock, token in reversed(locks):
                tab._release_commit_lock(lock, token)
            if self._state == "failed":
                # conflict or error BEFORE any publish (phase 1 barrier
                # held): nothing is visible — drop the staged branches
                # like abort(). The torn state above keeps its branches.
                self._drop_branches()
                self._state = "aborted"

    def abort(self) -> None:
        """Discard the transaction: drop every staged branch. The staged
        snapshots become unreferenced and age out via expire_snapshots,
        exactly like an abandoned write-audit-publish branch."""
        if self._state != "open":
            return
        self._drop_branches()
        self._state = "aborted"

    def _drop_branches(self) -> None:
        for tab in self._tables.values():
            try:
                tab.drop_ref(self._branch)
            except WarehouseError:
                pass  # never created / already gone

    def _drop_branches_locked(self) -> None:
        """Drop the transaction branches while commit() still holds every
        table's lock (drop_ref would re-acquire and self-deadlock); the
        drop re-exports, so the published document stops advertising the
        dropped __txn_* ref."""
        for tab in self._tables.values():
            try:
                tab._drop_ref_locked(self._branch)
            except WarehouseError:
                pass  # never created / already gone

    # -------------------------------------------------------- context mgr
    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is not None:
            self.abort()
            return False
        if self._state == "open":
            self.commit()
        return False
