"""Maintained latest-per-key side table — the map-topic pattern.

The reference keeps a separate compacted topic so "read the latest
state" is a point-read instead of a log scan
(docs/en/game2-use-mq.md:62-76; SURVEY §4.1 "point lookup of latest
record instead of scan"). The Spark analog: a small serving table,
incrementally maintained from the event stream, that answers
latest-state queries without touching the log.

``foreachBatch`` merge strategy: each micro-batch's latest-per-key
rows are combined with the current view and re-compacted. The view
is O(|keys|), not O(|log|) — at 100 TB of events the view stays
megabytes, and every batch's work is proportional to the batch, never
to history. (With a transactional table format — Delta/Iceberg, not
in this image — the overwrite becomes MERGE INTO; the logic is
unchanged.)

Atomicity and retention: the view is a ``batch_dirs.VersionedStore``
under ``path`` — each update writes a NEW version directory and then
flips the ``current`` pointer, so readers always see a complete
version, and a crash mid-write leaves the previous version live (the
next update clears the partial one). This is the filesystem analog
of a table-format commit log; swap for Delta/Iceberg MERGE where
available.

Reader grace: ``read()`` returns a LAZY DataFrame that resolves its
backing files at execution time, so retention keeps each version that
falls out of the window on disk for ONE extra commit before deleting
it. A DataFrame obtained from ``read()`` therefore stays executable
across the next ``update()``; consume (or ``.cache()`` + materialize)
it before a second update, after which its directory may be pruned.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..streaming.batch_dirs import VersionedStore
from .compaction import latest_per_key


class LatestStateView:
    """Incrementally-maintained latest-per-key view over an event
    stream (batch or streaming via foreachBatch)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        order_cols: Sequence[str],
        payload_cols: Sequence[str] | None = None,
        keep_versions: int = 0,
    ) -> None:
        """``keep_versions``: how many SUPERSEDED versions to retain
        after a commit (0 = current only, history off; N≥1 enables
        ``read(version=...)`` time travel over the last N superseded
        versions — the filesystem analog of a Delta/Iceberg snapshot
        list). Every version stores the order columns, also when
        ``payload_cols`` leaves them out: the next update orders by
        them."""
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        if payload_cols is not None:
            payload_cols = list(payload_cols)
            payload_cols += [c for c in self.order_cols if c not in payload_cols]
        self.payload_cols = payload_cols
        self.keep_versions = max(0, int(keep_versions))
        self.store = VersionedStore(spark, path)

    def versions(self) -> list[int]:
        """Committed versions still on disk, ascending. The live one
        is the pointer's target; older ones are readable history."""
        return self.store.versions()

    def read(self, version: int | None = None) -> DataFrame:
        """Read the live view, or time-travel to a retained
        ``version`` (must be within the last ``keep_versions``)."""
        if version is None:
            version = self.store.live()
            if version is None:
                raise FileNotFoundError(f"view {self.path} has no committed version")
        elif version not in self.versions():
            raise FileNotFoundError(
                f"view {self.path} has no retained version {version} "
                f"(available: {self.versions()})"
            )
        return self.spark.read.parquet(self.store.path(version))

    def update(self, batch: DataFrame) -> None:
        """Fold one batch into the view: compact the batch, union with
        the current view, re-compact, write a new version directory,
        atomically flip the pointer, then prune versions past the
        retention window (each kept one extra commit as reader grace).
        Work is O(|batch| + |keys|); exactly ONE parquet write per
        update."""
        compacted = latest_per_key(
            batch, self.key_cols, self.order_cols, self.payload_cols
        )
        merged, live = compacted, self.store.live()
        if live is not None:
            merged = latest_per_key(
                self.spark.read.parquet(self.store.path(live)).unionByName(compacted),
                self.key_cols,
                self.order_cols,
                [c for c in compacted.columns if c not in self.key_cols],
            )
        version = 0 if live is None else live + 1
        merged.write.mode("overwrite").parquet(self.store.stage(version))
        self.store.flip(version, self.keep_versions)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch`` — the S7 connector
        export path."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.update(batch_df)

        return fn
