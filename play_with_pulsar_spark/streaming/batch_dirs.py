"""The batch-directory commit protocol of every incremental operator.

``foreachBatch`` is AT-LEAST-once: a retry after a partial commit
re-delivers the same ``batch_id``. The corpus curator and the
incremental line and substring dedupers get effectively-once state
from replayable input plus batch-keyed idempotent commits (Structured
Streaming's sink contract), and this module is the one implementation
of those commits:

- **Layout.** Each state table is a directory holding one
  ``ingest_batch=<batch_id>/`` directory per micro-batch. A batch
  writes it with ``mode=overwrite``, so a replay rewrites the same
  directory instead of appending duplicate rows.
- **Commit.** The ``_SUCCESS`` marker the parquet writer leaves last
  is the commit record. A batch whose marker exists is skipped.
- **Watermark.** Compaction folds committed batch dirs into a
  compacted tier and records ``covered_upto`` in a JSON manifest
  (write-temp, fsync, ``os.replace``). A batch at or below the
  watermark counts as committed even after its directory is deleted,
  and state reads prune the covered directories (their rows live in
  the compacted tier). Operators without compaction leave
  ``_manifest_path`` as None.
- **Reads.** ``_read_state`` is the replay-safe state read: schema
  enforced, covered batches pruned, and the in-flight batch's own
  directory left out, so a replay screens against exactly the
  pre-batch state. ``_read_committed`` is the reader-facing read: only
  directories whose marker exists, so a crashed batch's partial
  directory stays invisible until its replay commits it.

Marker checks, listings and deletes go through the Hadoop FileSystem
API (object stores behave like local runs), falling back to the local
file system when the JVM is not reachable.

``IndexedBatchDirs`` adds the dedupers' shape on top: one index table
with a single compacted tier (``<index>_compacted/data_v<k>`` plus
``COMPACTED.json``) and an output table that is never compacted.

``VersionedStore`` is the commit of a table that swaps WHOLE versions
instead of batch dirs: ``LatestStateView`` (operators/matview.py) and
the stored IVF and IVF-PQ indexes (operators/similarity.py, pq.py).
Its layout under ``<root>/``:

- ``current`` names the live version (``v<k>``); ``write_text_atomic``
  flips it, so a reader that resolves it sees one complete version.
- ``v<k>/`` holds one version. A new one is staged in ``v<k+1>/``
  (whatever a crashed attempt left there is cleared first), written
  in full, then committed by the flip.
- Retention: after a flip, the newest ``keep`` superseded versions
  stay readable, and one more is kept as reader grace (a lazy
  DataFrame resolved before the flip still executes); older ones are
  deleted.
- The append record: ``v<k>/batches/<id>/`` holds one appended batch,
  partitioned by ``cell`` (the indexes' probe-pruning column) and
  written with ``mode=overwrite`` (a retry rewrites the same dir),
  and ``v<k>/appends.json`` lists the committed ids, flipped after
  the data job commits. Readers read the version's base table plus
  the listed dirs only, so a crashed append stays invisible until its
  retry commits it.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# the layout column of every batch directory: ``ingest_batch=<batch_id>``
PARTITION = "ingest_batch"


def _field_names(schema: str) -> list[str]:
    # DDL-parse for the names: a naive comma split breaks on
    # parameterized types like decimal(28,6) (the curator's doremi tier)
    return StructType.fromDDL(schema).fieldNames()


class BatchDirs:
    """Mixin: subclasses set ``self.spark`` and, if they compact,
    ``_manifest_path``; foreachBatch operators define ``process_batch``."""

    _manifest_path: str | None = None
    spark: SparkSession

    # ------------------------------------------------------------------
    # naming and markers

    def _batch_dir(self, base: str, batch_id: int) -> str:
        return os.path.join(base, f"{PARTITION}={batch_id}")

    def _batch_id_of(self, path: str) -> int:
        return int(path.rstrip("/").rsplit(f"{PARTITION}=", 1)[1])

    def _hadoop_fs(self, path: str):
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return hpath.getFileSystem(self.spark._jsc.hadoopConfiguration()), hpath

    def _success_exists(self, batch_dir: str) -> bool:
        path = os.path.join(batch_dir, "_SUCCESS")
        try:
            fs, hpath = self._hadoop_fs(path)
            return bool(fs.exists(hpath))
        except Exception:
            return os.path.exists(path)

    def _committed(self, base: str, batch_id: int) -> bool:
        """True iff this batch's partition already committed: its
        ``_SUCCESS`` marker exists, or compaction folded (and may have
        deleted) it."""
        return batch_id <= self._covered_upto() or self._success_exists(
            self._batch_dir(base, batch_id)
        )

    def _batch_dirs(self, base: str) -> list[str]:
        """ALL partition directories of ``base``, committed or not:
        compaction safety checks need to see partial ones."""
        prefix = f"{PARTITION}="
        try:
            fs, hbase = self._hadoop_fs(base)
            if not fs.exists(hbase):
                return []
            return [
                s.getPath().toString()
                for s in fs.listStatus(hbase)
                if s.isDirectory() and s.getPath().getName().startswith(prefix)
            ]
        except Exception:
            if not os.path.isdir(base):
                return []
            return [
                os.path.join(base, d)
                for d in os.listdir(base)
                if d.startswith(prefix) and os.path.isdir(os.path.join(base, d))
            ]

    def _committed_batch_dirs(
        self, base: str, lo: int = -1, hi: int | None = None, exclude: int | None = None
    ) -> list[str]:
        """The partition directories whose ``_SUCCESS`` marker exists
        (the subset a concurrent reader may trust), with ``lo < batch
        <= hi`` and batch ``exclude`` left out."""
        return [
            d
            for d in self._batch_dirs(base)
            if lo < self._batch_id_of(d) <= (math.inf if hi is None else hi)
            and self._batch_id_of(d) != exclude
            and self._success_exists(d)
        ]

    def _delete_dir(self, path: str) -> None:
        try:
            fs, hpath = self._hadoop_fs(path)
            if fs.exists(hpath):
                fs.delete(hpath, True)
        except Exception:
            shutil.rmtree(path, ignore_errors=True)

    # ------------------------------------------------------------------
    # compaction manifest

    def _manifest(self) -> dict | None:
        """None = never compacted (no manifest file). A PRESENT but
        unparseable manifest raises instead: treating it as 'never
        compacted' would silently drop the whole compacted tier from
        every read (the folded source dirs are already deleted) and
        re-accept duplicates with no error anywhere."""
        if self._manifest_path is None:
            return None
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except json.JSONDecodeError as e:
            raise RuntimeError(
                f"corrupt compaction manifest {self._manifest_path}: {e}; "
                "restore it (the versioned compacted tier it points at "
                "still exists next to it) before reading this state"
            ) from e

    def _covered_upto(self) -> int:
        man = self._manifest()
        return man["covered_upto"] if man else -1

    def _flip_manifest(self, manifest: dict) -> None:
        """Commit a compaction: write-temp + fsync + ``os.replace`` is
        an atomic AND durable pointer flip (without the fsync, a power
        loss after the rename can leave an empty manifest while the
        folded source dirs are already gone)."""
        write_json_atomic(self._manifest_path, manifest)

    # ------------------------------------------------------------------
    # reads

    def _statically_empty(self, schema: str) -> DataFrame:
        """An empty DataFrame the OPTIMIZER can see is empty:
        ``createDataFrame([], schema)`` builds a LogicalRDD, which
        ``PropagateEmptyRelation`` cannot prune, so a
        ``compacted ∪ live`` union survives with Unknown partitioning
        and the probe join re-EXCHANGES the bucketed index side even
        when the live tier has no directories. A constant-folded
        ``WHERE 1=0`` over NULL casts collapses to an empty
        LocalRelation, the union prunes to the bucketed scan alone,
        and the scan's HashPartitioning reaches the join."""
        sel = ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
            for f in StructType.fromDDL(schema).fields
        )
        return self.spark.sql(f"SELECT {sel} WHERE 1=0")

    def _read_state(
        self, path: str, schema: str, exclude_batch: int | None = None
    ) -> DataFrame:
        """Live-tier state read with the schema ENFORCED (a stray or
        corrupt file fails at the read boundary, not as a mid-join cast
        error), compaction-covered partitions EXCLUDED (their rows
        moved to the compacted tier; the directories only still exist
        in the crash window between manifest flip and cleanup), and —
        inside ``process_batch`` — this batch's own partition EXCLUDED:
        a replay after a partial commit must screen against exactly
        the pre-batch state, not against rows this same batch already
        wrote."""
        if not self._batch_dirs(path):  # no batch written yet
            return self._statically_empty(schema)
        df = self.spark.read.schema(f"{schema}, {PARTITION} int").parquet(path)
        upto = self._covered_upto()
        if upto >= 0:
            # partition column ⇒ covered dirs are PRUNED, not scanned
            df = df.filter(F.col(PARTITION) > upto)
        if exclude_batch is not None:
            df = df.filter(F.col(PARTITION) != exclude_batch)
        return df.select(*_field_names(schema))

    def _read_committed(
        self,
        base: str,
        schema: str,
        lo: int = -1,
        hi: int | None = None,
        exclude: int | None = None,
    ) -> DataFrame:
        """Committed live-tier rows with ``lo < batch <= hi``, batch
        ``exclude`` left out."""
        dirs = self._committed_batch_dirs(base, lo, hi, exclude)
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.schema(f"{schema}, {PARTITION} int")
            .option("basePath", base)
            .parquet(*dirs)
            .select(*_field_names(schema))
        )

    # ------------------------------------------------------------------
    # streaming wiring

    def attach(self, stream: DataFrame, checkpoint_dir: str, **trigger):
        """Run ``process_batch`` as the ``foreachBatch`` sink of
        ``stream``. ``trigger`` kwargs pass through; the default is
        drain-and-stop ``availableNow`` (an empty ``.trigger()`` call
        raises in pyspark); use ``processingTime='30 seconds'`` for a
        continuous operator."""
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )


def write_text_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` via write-temp + fsync +
    ``os.replace``: readers see the old file or the new one, never a
    torn one, and a power loss after the rename cannot leave it
    empty. Every pointer, manifest and sidecar flip goes through
    here."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_json_atomic(path: str, obj) -> None:
    """``write_text_atomic`` of ``obj`` as JSON."""
    write_text_atomic(path, json.dumps(obj))


class IndexedBatchDirs(BatchDirs):
    """One index table (``<index>/``) with a single compacted tier
    (``<index>_compacted/``), plus an output table (``deduped/``) that
    is never compacted: the incremental line and substring dedupers."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        index: str,
        index_schema: str,
        out_schema: str,
    ) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.index_dir = os.path.join(base_dir, index)
        self.compacted_dir = os.path.join(base_dir, f"{index}_compacted")
        self._manifest_path = os.path.join(self.compacted_dir, "COMPACTED.json")
        self.out_dir = os.path.join(base_dir, "deduped")
        self.index_schema, self.out_schema = index_schema, out_schema

    def _batch_done(self, batch_id: int) -> bool:
        """Both tables of ``batch_id`` committed: ``process_batch``
        skips it outright."""
        return self._committed(self.out_dir, batch_id) and self._committed(
            self.index_dir, batch_id
        )

    def _index(self, exclude_batch: int | None = None) -> DataFrame:
        """The whole index: compacted tier (if any) ∪ the live batch
        dirs above the watermark, batch ``exclude_batch`` left out."""
        live = self._read_state(self.index_dir, self.index_schema, exclude_batch)
        man = self._manifest()
        if man is None:
            return live
        comp = self.spark.read.schema(self.index_schema).parquet(
            os.path.join(self.compacted_dir, f"data_v{man['version']}")
        )
        return comp.unionByName(live)

    def deduped(self) -> DataFrame:
        """All COMMITTED rewritten documents, one row per input doc
        across the stream. A crash that left a partial output dir
        leaks no rows to readers; the replay of that batch commits
        it."""
        return self._read_committed(self.out_dir, self.out_schema)

    def compact(self) -> bool:
        """Fold the CONTIGUOUS prefix of committed index batch dirs
        above the watermark, plus the current compacted tier, into a
        NEW versioned data dir (``data_v<k+1>``), flip the manifest,
        and only then delete every covered batch dir and every older
        version. Steady state: one live version plus the post-fold
        batch dirs, whatever the stream age. A crash before the flip
        leaves the old manifest and every source dir intact (a re-run
        rewrites the same version dir); a crash after it only leaves
        directories that reads already skip and the next fold deletes.

        Two constraints on the fold input:

        - ONLY committed dirs fold: an uncommitted batch's partial
          rows baked into the compacted tier cannot be excluded by the
          replay's ``exclude_batch`` filter, so the replayed batch
          would screen against its own rows and drop them all.
        - ``covered_upto`` stops at the first gap (an uncommitted or
          missing batch id): advancing it past the gap would prune the
          gap batch's replayed dir from every future index read.

        Returns False when there is nothing to fold."""
        man = self._manifest()
        upto = man["covered_upto"] if man else -1
        present = {
            self._batch_id_of(d): d
            for d in self._committed_batch_dirs(self.index_dir)
        }
        fold: list[str] = []
        while upto + len(fold) + 1 in present:
            fold.append(present[upto + len(fold) + 1])
        if not fold:
            return False
        version = man["version"] + 1 if man else 0
        read = self.spark.read.schema(self.index_schema)
        rows = read.parquet(*fold)
        if man is not None:
            prev = os.path.join(self.compacted_dir, f"data_v{man['version']}")
            rows = read.parquet(prev).unionByName(rows)
        rows.distinct().write.mode("overwrite").parquet(
            os.path.join(self.compacted_dir, f"data_v{version}")
        )
        upto += len(fold)
        self._flip_manifest({"covered_upto": upto, "version": version})
        for d in self._batch_dirs(self.index_dir):
            if self._batch_id_of(d) <= upto:
                self._delete_dir(d)
        for name in os.listdir(self.compacted_dir):
            if name.startswith("data_v") and name != f"data_v{version}":
                self._delete_dir(os.path.join(self.compacted_dir, name))
        return True


class VersionedStore:
    """A table under ``root`` that swaps whole versions (layout in the
    module docstring). Single writer: one process stages and flips."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark, self.root = spark, root

    def path(self, k: int) -> str:
        return os.path.join(self.root, f"v{k}")

    def live(self) -> int | None:
        """The version ``current`` names; None before the first flip."""
        try:
            with open(os.path.join(self.root, "current")) as f:
                target = f.read().strip()
        except FileNotFoundError:
            return None
        if not target or not os.path.isdir(os.path.join(self.root, target)):
            return None
        return int(target[1:])

    def versions(self) -> list[int]:
        """Committed versions still on disk, ascending: the live one
        and the superseded ones retention kept. A staged version above
        the live one is not committed and is left out."""
        live = self.live()
        if live is None:
            return []
        return sorted(
            int(d[1:])
            for d in os.listdir(self.root)
            if d[:1] == "v" and d[1:].isdigit() and int(d[1:]) <= live
        )

    def stage(self, k: int) -> str:
        """An empty ``v<k>/`` to write a new version into, cleared of
        whatever a crashed attempt left there (stray batch dirs
        included)."""
        shutil.rmtree(self.path(k), ignore_errors=True)
        os.makedirs(self.path(k))
        return self.path(k)

    def flip(self, k: int, keep: int = 0) -> None:
        """Commit ``v<k>``: point ``current`` at it, then delete every
        version older than the ``keep`` newest superseded ones and the
        one after them kept as reader grace."""
        write_text_atomic(os.path.join(self.root, "current"), f"v{k}")
        for v in self.versions():
            if v < k - keep - 1:
                shutil.rmtree(self.path(v), ignore_errors=True)

    # ------------------------------------------------------------------
    # the append record of one version

    def _batch(self, k: int, batch_id: str) -> str:
        return os.path.join(self.path(k), "batches", batch_id)

    def appends(self, k: int) -> list[str]:
        """Ids of the batches committed to ``v<k>``, in commit order."""
        try:
            with open(os.path.join(self.path(k), "appends.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def append(self, k: int, batch_id: str, rows: DataFrame) -> None:
        """Commit ``rows`` as batch ``batch_id`` of ``v<k>``: write its
        dir, then add the id to the record. Single writer: the record
        update is a read-modify-write."""
        rows.write.mode("overwrite").partitionBy("cell").parquet(
            self._batch(k, batch_id)
        )
        write_json_atomic(
            os.path.join(self.path(k), "appends.json"), self.appends(k) + [batch_id]
        )

    def read(self, k: int, base: str, batch_ids: list[str] | None = None) -> DataFrame:
        """``v<k>/<base>`` ∪ the committed batches (``batch_ids``, by
        default the record as it stands), in the base table's columns.
        Each root is its own scan, so partition pruning applies per
        scan."""
        df = self.spark.read.parquet(os.path.join(self.path(k), base))
        for bid in self.appends(k) if batch_ids is None else batch_ids:
            df = df.unionByName(
                self.spark.read.parquet(self._batch(k, bid)).select(*df.columns)
            )
        return df

    def carry_over(self, old: int, new: int, seen: list[str], rows_of) -> None:
        """Commit to ``v<new>`` every batch committed to ``v<old>``
        since the snapshot ``seen``, each dir's rows passed through
        ``rows_of`` (the new version's quantizer). A rebalance calls
        it before its flip, so an append that committed while the new
        version was written is not lost."""
        for bid in sorted(set(self.appends(old)) - set(seen)):
            rows = rows_of(self.spark.read.parquet(self._batch(old, bid)))
            self.append(new, bid, rows)
