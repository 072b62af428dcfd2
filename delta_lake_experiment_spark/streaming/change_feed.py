"""Incremental change-feed consumption (CDC reader).

Delta exposes tables as Structured Streaming sources through a JVM
DataSource V2 implementation; a pure-Python engine can't register one,
but the equivalent consumption loop is small: poll the log version,
diff via :meth:`DeltaLakeClient.scan_changes`, process the batch,
advance a cursor. :class:`ChangeFeedReader` packages that loop with
explicit cursor control so delivery is at-least-once (advance after
durable processing) and composes with the exactly-once engine sink
(streaming/engine_sink.py txn markers) for end-to-end
exactly-once table-to-table pipelines.

Scale notes: each poll costs one log replay (checkpoint-accelerated,
metadata only) plus a files-changed-sized read — never O(table). The
returned DataFrame is lazy over immutable committed objects, so it
stays valid after the poll as long as VACUUM retention covers the
cursor gap.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from delta_lake_experiment_spark.plans.snapshot import log_versions


class ChangeFeedReader:
    """Cursor-driven reader over one table's change feed.

    ``poll()`` returns ``(changes_df, to_version)`` for everything
    committed after the cursor, or ``None`` when caught up. Call
    ``advance(to_version)`` only after the batch is durably processed —
    a crash before that re-delivers the batch (at-least-once)."""

    def __init__(self, client, table: str, start_version: int = 0) -> None:
        self.client = client
        self.table = table
        self.cursor = start_version

    def latest_version(self) -> int:
        # anchored at the cursor: O(new commits) LIST keys per poll
        versions = log_versions(
            self.client.store, after=self.cursor if self.cursor > 0 else None
        )
        return versions[-1] if versions else self.cursor

    def poll(self) -> Optional[tuple[DataFrame, int]]:
        latest = self.latest_version()
        if latest <= self.cursor:
            return None
        df = self.client.scan_changes(self.table, self.cursor, latest)
        return df, latest

    def advance(self, to_version: int) -> None:
        if to_version < self.cursor:
            raise ValueError(f"cursor moves forward only ({to_version} < {self.cursor})")
        self.cursor = to_version
