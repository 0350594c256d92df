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

Atomicity: each update writes a NEW versioned directory
(``{path}.v{n}``) and then flips a pointer file via ``os.replace``
(atomic on POSIX). Readers resolve the pointer, so they always see a
complete version — a crash mid-write leaves the previous version
live, and the partial ``.v{n+1}`` directory is overwritten by the
next update. The previous version directory is deleted only after
the flip. This is the filesystem analog of a table-format commit log;
swap for Delta/Iceberg MERGE where available.

Reader grace: ``read()`` returns a LAZY DataFrame that resolves its
backing files at execution time, so retention keeps each version that
falls out of the window on disk for ONE extra commit before deleting
it. A DataFrame obtained from ``read()`` therefore stays executable
across the next ``update()``; consume (or ``.cache()`` + materialize)
it before a second update, after which its directory may be pruned.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..streaming.batch_dirs import write_text_atomic
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
        list)."""
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self.payload_cols = payload_cols
        self.keep_versions = max(0, int(keep_versions))

    @property
    def _pointer(self) -> str:
        return self.path + ".current"

    def _resolve(self) -> str | None:
        """Directory holding the live version, or None if empty view.

        Falls back to ``self.path`` itself when no pointer exists but
        data does — a view committed by the pre-pointer layout (which
        wrote parquet directly at the path). The next ``update`` folds
        that legacy data in and migrates to the versioned layout."""
        if os.path.exists(self._pointer):
            with open(self._pointer) as f:
                target = f.read().strip()
            if target and os.path.exists(target):
                return target
        if os.path.isdir(self.path):
            return self.path
        return None

    def _exists(self) -> bool:
        return self._resolve() is not None

    def versions(self) -> list[int]:
        """Committed versions still on disk, ascending. The live one
        is the pointer's target; older ones are readable history."""
        base = os.path.basename(self.path) + ".v"
        parent = os.path.dirname(self.path) or "."
        if not os.path.isdir(parent):
            return []
        out = []
        for d in os.listdir(parent):
            if d.startswith(base):
                try:
                    out.append(int(d[len(base):]))
                except ValueError:
                    continue
        live = self._resolve()
        live_v = self._version_of(live)
        return sorted(v for v in out if v <= live_v)

    @staticmethod
    def _version_of(target: str | None) -> int:
        """Version number of a resolved directory; -1 for None or a
        legacy (pre-pointer) directory."""
        if target is None or ".v" not in os.path.basename(target):
            return -1
        try:
            return int(target.rsplit(".v", 1)[1])
        except ValueError:
            return -1

    def read(self, version: int | None = None) -> DataFrame:
        """Read the live view, or time-travel to a retained
        ``version`` (must be within the last ``keep_versions``)."""
        if version is not None:
            target = f"{self.path}.v{version}"
            if version not in self.versions() or not os.path.exists(target):
                raise FileNotFoundError(
                    f"view {self.path} has no retained version {version} "
                    f"(available: {self.versions()})"
                )
            return self.spark.read.parquet(target)
        target = self._resolve()
        if target is None:
            raise FileNotFoundError(f"view {self.path} has no committed version")
        return self.spark.read.parquet(target)

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
        old = self._resolve()
        if old is not None:
            current = self.spark.read.parquet(old)
            merged = latest_per_key(
                current.unionByName(compacted),
                self.key_cols,
                self.order_cols,
                [c for c in compacted.columns if c not in self.key_cols],
            )
            version = self._version_of(old) + 1  # legacy dir → v0
        else:
            merged = compacted
            version = 0
        new_dir = f"{self.path}.v{version}"
        merged.write.mode("overwrite").parquet(new_dir)
        # commit: write-temp + fsync + os.replace = atomic, durable
        # pointer flip (POSIX)
        write_text_atomic(self._pointer, new_dir)
        if old == self.path:
            # legacy layout migrated: its data is folded into v0
            shutil.rmtree(old, ignore_errors=True)
        # retention: drop versions older than the newest keep_versions
        # superseded ones (the new live version never counts). The
        # FIRST version past the window is kept one extra commit as
        # reader grace — a lazy DataFrame from read() taken before this
        # update still resolves its files until the NEXT update.
        cutoff = version - self.keep_versions - 2
        for v in self.versions():
            if v <= cutoff:
                shutil.rmtree(f"{self.path}.v{v}", ignore_errors=True)

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch`` — the S7 connector
        export path."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            self.update(batch_df)

        return fn
