"""Incremental substring dedup over a winnowed-anchor index: the
crawl-cadence twin of :func:`operators.textops.excise_winnowed_spans`
(round 11 — the r10 verdict's winnowing-indexed ExactSubstr ask).

Lee et al. 2021's ExactSubstr is batch-shaped: it needs every gram
occurrence of the corpus in one aggregate. A crawl pipeline gets
shards; re-running the batch operator over accepted ∪ batch each day
re-pays the whole corpus's gram work per shard. This module keeps the
keep-first policy incremental the way ``line_dedup`` keeps line dedup
incremental: the state is the set of CLAIMED ANCHORS — the winnowing-
selected n-gram occurrences that survived earlier batches — and each
new batch's selected anchors screen against it with one (gh, g)-keyed
anti-join. Index size is ~2·len/(w+1) rows per accepted document (the
winnowing sample — per-window rightmost minima since round 12, so
duplicated runs of ≥ n+w−1 tokens are caught BY CONSTRUCTION), not
one row per token.

Semantics (greedy, first-writer-wins — acceptance TIME beats id
order, the ``line_dedup`` convention):

- a selected anchor whose gram STRING is already claimed by an
  earlier batch has its n-token span excised, whatever the relative
  doc ids;
- among occurrences of a gram first seen IN this batch, the smallest
  ``(doc_id, pos)`` keeps its span, later ones are excised
  (within-document repeats included — the keep-first policy);
- the batch's first occurrences join the index, so the next batch
  screens against them.

Equivalence law (pinned in ``tests/test_substr_dedup_stream.py`` and
hash-checked by ``pipeline_incremental_substr_dedup``): the
batch-at-a-time fold equals the GLOBAL first-occurrence rule over
selected anchors under the lexicographic order (batch, doc_id, pos) —
one BIGINT key ``batch·2⁵⁰ + doc_id·2²⁰ + pos`` (2⁵⁰, not the line
oracle's 2⁴³: the plant's copied doc ids reach 10⁷ + 10⁴, and
``10⁷·2²⁰`` would collide with a 2⁴³ batch term), the
``pipeline_incremental_line_dedup`` construction.

Anchors are claimed by STRING: the portable 31-bit Horner hash only
drives winnowing selection and join keying, so a hash collision can
never excise a non-duplicate span (and the DuckDB oracle — which
reproduces the same hash arithmetic — agrees bitwise). The state
(the ``anchors/`` index with its ``anchors_compacted/`` tier, and the
``deduped/`` output) follows the batch-directory commit protocol of
``streaming/batch_dirs.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import _winnowed_anchor_occurrences, tokens
from .batch_dirs import IndexedBatchDirs


def claim_anchors(
    occ: DataFrame, index: DataFrame, n: int
) -> tuple[DataFrame, DataFrame]:
    """The keep-first claim plan shared by ``IncrementalSubstrDeduper``
    and the curator's substr screen. ``occ`` holds a batch's selected
    anchor occurrences (``gh``, ``g``, ``doc_id``, ``pos`` and the
    packed order key ``k``) and ``index`` the (gh, g) anchors claimed
    by earlier batches. An occurrence loses its n-token span when its
    gram is already claimed, or when an earlier occurrence (smaller
    ``k``) of a fresh gram is in this batch. Returns ``covered``
    (``doc_id``, ``_cov``: the set of excised token positions, for
    docs that lose any) and ``firsts`` (``gh``, ``g``, ``fk``: the
    batch's new claims)."""
    hit = occ.join(index, ["gh", "g"], "semi").select("doc_id", "pos")
    fresh = occ.join(index, ["gh", "g"], "anti")
    firsts = fresh.groupBy("gh", "g").agg(F.min("k").alias("fk"))
    dup_fresh = (
        fresh.join(firsts, ["gh", "g"])
        .filter(F.col("k") != F.col("fk"))
        .select("doc_id", "pos")
    )
    covered = (
        hit.unionByName(dup_fresh)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("_cov"))
    )
    return covered, firsts


class IncrementalSubstrDeduper(IndexedBatchDirs):
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        *,
        n: int = 5,
        w: int = 8,
        id_type: str = "long",
    ) -> None:
        super().__init__(
            spark,
            base_dir,
            "anchors",
            "gh long, g string",
            f"{id_col} {id_type}, n_tokens bigint, clean_text string, "
            "n_tokens_kept bigint, n_tokens_dropped bigint",
        )
        self.anchors_dir = self.index_dir
        self.text_col, self.id_col = text_col, id_col
        self.n, self.w = n, w

    # ------------------------------------------------------------------
    # the per-batch fold

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch hook. Writes this batch's rewritten documents
        into ``deduped/ingest_batch=<id>`` and its newly claimed
        anchors into ``anchors/ingest_batch=<id>`` — both idempotent
        overwrites; a fully-committed batch is skipped outright.

        Per-batch data movement: the batch's ~2·len/(w+1) selected anchors
        through one (gh, g) anti-join against the index (index-side
        work is a scan of two columns), one batch-local min-aggregate
        for within-batch firsts, and one doc-keyed reassembly —
        O(batch) everywhere, never O(corpus)."""
        if self._batch_done(batch_id):
            return
        occ = _winnowed_anchor_occurrences(
            batch, self.text_col, self.id_col, self.n, self.w
        ).persist()  # feeds the hit probe, the fresh split, and firsts
        covered, firsts = claim_anchors(
            occ, self._index(exclude_batch=batch_id), self.n
        )
        toks = batch.select(
            F.col(self.id_col).alias("doc_id"), tokens(self.text_col).alias("_t")
        )
        kept = F.filter(
            "_t",
            lambda x, i: ~F.array_contains(
                F.coalesce(F.col("_cov"), F.array().cast("array<int>")), i
            ),
        )
        out = toks.join(covered, "doc_id", "left").select(
            F.col("doc_id").alias(self.id_col),
            F.size("_t").cast("bigint").alias("n_tokens"),
            F.array_join(kept, " ").alias("clean_text"),
            F.size(kept).cast("bigint").alias("n_tokens_kept"),
            (F.size("_t") - F.size(kept)).cast("bigint").alias("n_tokens_dropped"),
        )
        out.write.mode("overwrite").parquet(self._batch_dir(self.out_dir, batch_id))
        firsts.select("gh", "g").write.mode("overwrite").parquet(
            self._batch_dir(self.anchors_dir, batch_id)
        )
        occ.unpersist()
