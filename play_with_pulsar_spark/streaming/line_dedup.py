"""Incremental line-level dedup: the streaming twin of
:func:`operators.textops.line_dedup`.

Production pipelines (RefinedWeb, Dolma) run line dedup over a crawl
that ARRIVES IN SHARDS: a line is kept at its first-ever occurrence
across the whole stream and removed everywhere later, without ever
re-reading the accepted corpus. This module maintains exactly that
contract; its state (the ``lines/`` index with its
``lines_compacted/`` tier, and the ``deduped/`` output) follows the
batch-directory commit protocol of ``streaming/batch_dirs.py``, so a
replayed ``foreachBatch`` screens against exactly the pre-batch state.

Semantics (greedy, first-writer-wins — acceptance TIME beats id
order, the same rule the curator's doc-level screens follow):

- a line already in the index (some earlier batch kept it) is
  removed from every document of the current batch, whatever the
  relative doc ids;
- among occurrences of a line first seen IN this batch, the smallest
  ``(doc_id, line_index)`` survives (the batch operator's rule);
- surviving lines join the index, so the next batch screens against
  them too.

Equivalence law (pinned in ``tests/test_streaming_curator.py``): the
batch-at-a-time fold equals the GLOBAL first-occurrence rule under
the lexicographic order ``(batch_id, doc_id, line_index)`` — each
occurrence survives iff it is the minimum of its line's occurrence
set under that order. That law is what makes the whole incremental
loop hash-checkable against a single SQL statement
(``pipeline_incremental_line_dedup``).

State is keyed on ``xxhash64(line)``, not the line text — the index
for a 100 TB corpus is 8 bytes per distinct kept line instead of a
second copy of the corpus (the production tradeoff; a 2^-64-per-pair
collision could drop a unique line). The per-batch probe is one
left-anti hash join batch-side against the index, one batch-local
min-aggregate, and one doc-keyed reassembly — index-side work is a
scan of the hash column only. Long-running streams accumulate one
index directory per batch; fold them periodically with
:meth:`IncrementalLineDeduper.compact`.

Reference semantics anchor: the reference's compacted-topic
keep-one-per-key retention (TableView over a key-compacted topic,
``pulsar.go``) applied to content hashes instead of message keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import split_lines, _LINE_POS_LIM
from .batch_dirs import IndexedBatchDirs


class IncrementalLineDeduper(IndexedBatchDirs):
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        *,
        delimiter: str | None = None,
        segment_tokens: int = 10,
        id_type: str = "long",
    ) -> None:
        super().__init__(
            spark,
            base_dir,
            "lines",
            "lh long",
            f"{id_col} {id_type}, text_dedup string, n_lines bigint, "
            "n_kept bigint, n_removed bigint",
        )
        self.lines_dir = self.index_dir
        self.text_col, self.id_col = text_col, id_col
        self.delimiter, self.segment_tokens = delimiter, segment_tokens

    # ------------------------------------------------------------------
    # the per-batch fold

    def _occurrences(self, batch: DataFrame) -> DataFrame:
        """(doc, idx, line, lh, gpos) for every non-empty line of the
        batch, with the position-encoding overflow guarded row-wise
        (codegen ``raise_error`` — distributed, costless when sound)."""
        d = batch.select(
            F.col(self.id_col).alias("_id"),
            split_lines(
                self.text_col,
                delimiter=self.delimiter,
                segment_tokens=self.segment_tokens,
            ).alias("_lines"),
        )
        return (
            d.select("_id", F.posexplode("_lines").alias("_idx", "_line"))
            .filter(F.col("_line") != "")
            .withColumn(
                "_gpos",
                F.when(
                    F.col("_idx") < F.lit(_LINE_POS_LIM),
                    F.col("_id") * _LINE_POS_LIM + F.col("_idx"),
                ).otherwise(
                    F.raise_error(
                        F.lit(
                            "line_dedup: document exceeds the "
                            f"{_LINE_POS_LIM}-line position encoding"
                        )
                    )
                ),
            )
            .withColumn("_lh", F.xxhash64("_line"))
        )

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch hook. Writes this batch's rewritten documents
        into ``deduped/ingest_batch=<id>`` and its surviving line
        hashes into ``lines/ingest_batch=<id>`` — both idempotent
        overwrites; a fully-committed batch is skipped outright."""
        if self._batch_done(batch_id):
            return
        occ = self._occurrences(batch)
        index = self._index(exclude_batch=batch_id)
        # lines never seen by ANY earlier batch (hash anti-join; the
        # index side carries only the 8-byte hash column)
        fresh = occ.join(index, occ["_lh"] == index["lh"], "left_anti")
        firsts = fresh.groupBy("_lh").agg(F.min("_gpos").alias("_first"))
        kept = fresh.join(firsts, "_lh").filter(F.col("_gpos") == F.col("_first"))
        kept = kept.persist()  # feeds both the rewrite and the index append
        rebuilt = kept.groupBy("_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                    lambda s: s["_line"],
                ),
                " " if self.delimiter is None else self.delimiter,
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        base = occ.groupBy("_id").agg(F.count(F.lit(1)).alias("n_lines"))
        all_ids = batch.select(F.col(self.id_col).alias("_id"))
        out = (
            all_ids.join(base, "_id", "left")
            .join(rebuilt, "_id", "left")
            .select(
                F.col("_id").alias(self.id_col),
                F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
                F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
                F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
                (
                    F.coalesce("n_lines", F.lit(0))
                    - F.coalesce("n_kept", F.lit(0))
                ).cast("bigint").alias("n_removed"),
            )
        )
        out.write.mode("overwrite").parquet(self._batch_dir(self.out_dir, batch_id))
        kept.select(F.col("_lh").alias("lh")).write.mode("overwrite").parquet(
            self._batch_dir(self.lines_dir, batch_id)
        )
        kept.unpersist()
