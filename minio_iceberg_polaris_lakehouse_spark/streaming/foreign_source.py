"""Streaming (poll-based micro-batch) source over a FOREIGN Iceberg
table's open metadata — the consumer-side twin of streaming.table_source
.TableStream for tables this engine did not create (registered via
`CALL system.register_table`, or any filesystem Iceberg table). Each
poll diffs the current snapshot's manifest list against the
checkpointed one and plans only the added manifests' files
(sources.iceberg_reader.incremental_read_iceberg_table): O(new data)
per batch, O(manifests) driver-side.

Delivery semantics match TableStream: ``poll(commit=True)`` acks
immediately (crash between poll and sink loses the batch);
``poll(commit=False)`` + :meth:`commit` after the sink lands is
at-least-once — exactly-once with an idempotent sink. A checkpointed
snapshot that has disappeared from the metadata document (foreign
writer expired it) fails LOUDLY — silently re-basing would skip the
rows appended since the checkpoint. An interval containing a rewrite
raises too (not expressible as appends); the operator re-creates the
stream for a documented full re-read. Rows that row-level deletes in the
interval retired are simply not delivered.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from minio_iceberg_polaris_lakehouse_spark import fsio
from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
    changes_iceberg_table,
    incremental_read_iceberg_table,
    read_iceberg_table,
    resolve_metadata_path,
)
from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    WarehouseError,
    _atomic_write_json,
)


class ForeignTableStream:
    """Poll-based micro-batch reader over a foreign Iceberg table."""

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        from_snapshot_id: int | None = None,
        checkpoint_path: str | None = None,
        mode: str = "append",
    ):
        if mode not in ("append", "cdc"):
            raise WarehouseError(f"stream mode must be 'append' or 'cdc', not {mode!r}")
        self.spark = spark
        self.location = location
        self.mode = mode
        self.checkpoint_path = checkpoint_path
        self._pending: tuple[int, bool] | None = None
        restored = self._restore()
        if restored is not None:
            self._last = restored
            self._initial_pending = False
        elif from_snapshot_id is not None:
            self._last = from_snapshot_id
            self._initial_pending = False
        else:
            # Iceberg default: first batch is the table's current
            # contents, then appends from there
            self._last = 0
            self._initial_pending = True

    # -------------------------------------------------- checkpointing
    def _restore(self) -> int | None:
        if not self.checkpoint_path or not fsio.isfile(self.checkpoint_path):
            return None  # genuinely no checkpoint — fresh stream
        try:
            return int(
                json.loads(fsio.read_text(self.checkpoint_path))["last_snapshot_id"]
            )
        except (OSError, ValueError, KeyError) as e:
            # A checkpoint that EXISTS but cannot be parsed is at least
            # as serious as an expired snapshot (which raises below):
            # silently treating it as 'no checkpoint' would re-deliver
            # the entire table as a fresh initial batch — duplicate
            # delivery with no warning. The operator decides.
            raise WarehouseError(
                f"checkpoint {self.checkpoint_path} exists but is "
                f"unreadable ({e!r}) — delete it to deliberately restart "
                "from the full initial batch"
            ) from e

    def _save(self) -> None:
        if self.checkpoint_path:
            _atomic_write_json(
                self.checkpoint_path, {"last_snapshot_id": self._last}
            )

    def _current_snapshot(self) -> int | None:
        md = json.loads(fsio.read_text(resolve_metadata_path(self.location)))
        cur = md.get("current-snapshot-id")
        return None if cur in (None, -1) else int(cur)

    # -------------------------------------------------- polling
    def poll(self, commit: bool = True) -> tuple[DataFrame, int, int] | None:
        """One micro-batch: rows appended by snapshots (last, current],
        or None if the table hasn't advanced."""
        cur = self._current_snapshot()
        if cur is None:
            return None
        if self._initial_pending:
            # append mode: the table's current contents; cdc mode: the
            # FULL changelog replay (inserts AND historical deletes, so a
            # downstream MERGE reconstructs current state exactly —
            # TableStream's cdc contract)
            # both modes PIN the batch to `cur`: an unpinned read would
            # include rows a foreign writer commits between
            # _current_snapshot() and the metadata re-read, while the
            # checkpoint acks only `cur` — those rows would then be
            # re-delivered by the next incremental poll
            df = (
                changes_iceberg_table(self.spark, self.location, 0, cur)
                if self.mode == "cdc"
                else read_iceberg_table(self.spark, self.location, snapshot_id=cur)
            )
            out = (df, 0, cur)
            self._ack(cur, initial=True) if commit else self._stage(cur, initial=True)
            return out
        if cur == self._last:
            return None
        try:
            df = (
                changes_iceberg_table(self.spark, self.location, self._last, cur)
                if self.mode == "cdc"
                else incremental_read_iceberg_table(
                    self.spark, self.location, self._last, cur
                )
            )
        except ValueError as e:
            if "not found" in str(e):
                raise WarehouseError(
                    f"checkpointed snapshot {self._last} has been expired from "
                    f"the foreign table at {self.location}; incremental "
                    "position lost — delete the checkpoint to force a full "
                    "re-read (at-least-once restart) or recreate the stream"
                ) from e
            raise WarehouseError(str(e)) from e
        out = (df, self._last, cur)
        self._ack(cur) if commit else self._stage(cur)
        return out

    # ------------------------------------------------ acknowledgement
    def _stage(self, to: int, initial: bool = False) -> None:
        self._pending = (to, initial)

    def _ack(self, to: int, initial: bool = False) -> None:
        self._last = to
        if initial:
            self._initial_pending = False
        self._pending = None
        self._save()

    def commit(self) -> None:
        """Acknowledge the batch from the last ``poll(commit=False)``;
        without it the same batch re-delivers (at-least-once)."""
        if self._pending is None:
            return
        to, initial = self._pending
        self._ack(to, initial=initial)

    def drain(self, max_batches: int = 100) -> list[tuple[DataFrame, int, int]]:
        """Poll until the table stops advancing (bounded)."""
        out = []
        for _ in range(max_batches):
            b = self.poll()
            if b is None:
                break
            out.append(b)
        return out
