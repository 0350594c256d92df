"""Embedding similarity search (ANN) over an array<float> column.

Two strategies, same answer shape (query_id, neighbor_id, sim, rn):

- **brute_force_topk** — the exact baseline. The query set is
  broadcast (it is the small side by construction); each corpus
  partition computes sims against all queries with a numpy matmul in
  one Arrow batch, keeps ONLY its local top-k per query, and the
  global top-k merges the per-partition candidates (≤ k·partitions
  rows reach the final window). The all-pairs matrix never hits a
  shuffle — this is exactly the plan you want at 100 TB: score
  where the data lives, move only candidates.
- **lsh_topk** — the approximate scale path: random-hyperplane
  signatures (seeded), candidates = same-bucket pairs under
  multi-probe banding, exact re-scoring of candidates only.

Cosine parity note: signatures/scores use float64; the declared
query rounds to 6 decimals so the (blocked, SIMD) numpy sum and the
oracle's sequential sum agree bitwise after rounding.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..streaming.batch_dirs import VersionedStore


def _topk_schema() -> str:
    return "query_id long, neighbor_id long, sim double"


def jvm_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    corpus_nonzero: bool = False,
) -> DataFrame:
    """Exact cosine top-k entirely in built-in JVM functions — zero
    Python in the plan.

    The dot product is ``F.aggregate(F.zip_with(a, b, *), 0.0, +)``:
    a left fold in index order, which is ALSO how the oracle's
    ``list_dot_product`` sums, so doubles match bitwise and
    ``round(sim, round_to)`` ranks identically in both engines.

    Plan: per-side norms precomputed (one pass per row), query side
    broadcast into a BroadcastNestedLoopJoin, rank per query_id. The
    whole scoring expression lives in whole-stage codegen. Use this
    form for small probe sets / latency-sensitive paths (no Python
    worker startup); ``brute_force_topk``'s Arrow+numpy matmul kernel
    overtakes it as corpus×queries grows, and IVF/LSH are the
    at-scale candidates-only paths.

    ``corpus_nonzero``: set True when the corpus provably contains no
    zero vectors (e.g. ``dequantize`` output, which drops them) to
    skip the ``cn > 0`` guard. The guard is not free to keep "just in
    case": predicate pushdown re-inlines the whole corpus vector
    expression into an interpreted per-row Filter below the scan —
    measured 5× on the quantized path, where the vector is a
    projection chain rather than a raw column.
    """
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    # zero-norm vectors have no defined cosine: exclude them outright
    # (mirrored in the oracle) instead of letting NaN enter the rank
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", F.sqrt(dot("qv", "qv"))).filter(F.col("qn") > 0)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", F.sqrt(dot("cv", "cv")))
    if not corpus_nonzero:
        c = c.filter(F.col("cn") > 0)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(dot("qv", "cv") / (F.col("qn") * F.col("cn")), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def jl_projection_matrix(in_dim: int, out_dim: int, seed: str = "jl") -> list[list[float]]:
    """Deterministic Rademacher JL projection matrix (Achlioptas 2003
    — 'database-friendly random projections'): entries ±1/sqrt(out_dim)
    with the sign drawn from md5(seed:row:col), so the SAME literal
    matrix regenerates anywhere (both engines embed the Python-computed
    doubles — no runtime randomness, no RNG-order coupling)."""
    import hashlib

    s = 1.0 / math.sqrt(out_dim)
    return [
        [
            s
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) < 8
            else -s
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def project_embeddings(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    seed: str = "jl",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction as a PURE
    per-row codegen projection — the embedding-compression lever for
    ANN/dedup state at 100 TB (4x fewer floats at out_dim=16 from 64,
    with pairwise distances preserved within the JL distortion bound;
    law-tested). Output long form ``(id, d, val)`` with ``val``
    rounded: each of the ``out_dim`` components is one
    ``aggregate(zip_with(v, literal_row, *))`` left fold, matching
    DuckDB's list_dot_product bitwise — zero exchanges, zero Python,
    an expression any scan can carry for free."""
    m = jl_projection_matrix(in_dim, out_dim, seed)
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    v = F.col(vec_col).cast("array<double>")
    comps = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("d"),
                F.round(
                    dot(v, F.array(*[F.lit(x) for x in m[j]])), round_to
                ).alias("val"),
            )
            for j in range(out_dim)
        ]
    )
    return (
        df.select(F.col(id_col), F.explode(comps).alias("p"))
        .select(id_col, F.col("p.d").alias("d"), F.col("p.val").alias("val"))
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training (the
    ANCE recipe — Xiong et al. 2021; DPR's BM25 variant — Karpukhin
    et al. 2020): for each query, the top-k most-similar corpus items
    whose ``label_col`` DIFFERS from the query's — maximally
    confusable wrong answers, the negatives that actually move a
    bi-encoder. Same exact-cosine rounded-rank protocol and
    zero-norm exclusion as ``jvm_cosine_topk`` (left-fold dot
    products, so the DuckDB oracle matches bitwise); the label
    inequality rides the same broadcast join predicate, so mining
    costs exactly what the plain top-k costs.

    At 100 TB the corpus side swaps to ANN candidates (IVF/LSH) with
    the label filter applied to the candidate list — the per-epoch
    re-mining loop ANCE describes; this exact form is the ground
    truth those candidates are measured against."""
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(label_col).alias("qlabel"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        .withColumn("qn", F.sqrt(dot("qv", "qv")))
        .filter(F.col("qn") > 0)
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("clabel"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .withColumn("cn", F.sqrt(dot("cv", "cv")))
        .filter(F.col("cn") > 0)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("clabel") != F.col("qlabel"))
        .withColumn(
            "sim", F.round(dot("qv", "cv") / (F.col("qn") * F.col("cn")), round_to)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "sim", "rn")
    )


def brute_force_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for every query vector.

    ``queries`` must be collectable to the driver (it is broadcast to
    every partition); ``corpus`` can be arbitrarily large.

    ``round_to`` ranks by round(sim, d) with neighbor_id tiebreak —
    used by the declared query so the (blocked) numpy sum and the
    oracle's sequential sum rank identically; the local top-k keeps a
    small margin so rounded-tie boundary cases survive the cut.
    """
    qpdf = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("v")
    ).toPandas()
    q_ids = qpdf["qid"].to_numpy()
    q_mat = np.stack(qpdf["v"].to_numpy())  # (Q, D) float64
    if metric == "cosine":
        q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["nid"].to_numpy()
            c_mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            if metric == "cosine":
                norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                c_mat = c_mat / norms
            sims = qm @ c_mat.T  # (Q, C)
            # self-matches are excluded downstream by id inequality;
            # local top-k per query bounds what leaves the partition
            kk = min(k + 8, sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out_q = np.repeat(ids, kk)
            out_n = c_ids[idx.ravel()]
            out_s = np.take_along_axis(sims, idx, axis=1).ravel()
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "sim": out_s})

    c = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    partial = c.mapInPandas(score_partition, schema=_topk_schema())
    if round_to is not None:
        partial = partial.withColumn("sim", F.round(F.col("sim"), round_to))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        partial.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """k-NN majority-vote classification: predict each query's label
    from the labels of its ``k`` nearest corpus neighbors (cosine) —
    the classic quality-classifier / weak-labeling primitive for a
    curation pipeline (label a small seed set, vote labels onto the
    rest of the corpus by similarity).

    Output: (query_id, true_label, pred_label, votes). Ties on vote
    count break toward the smallest label; neighbor ranking uses the
    family's round(sim, 6) + neighbor-id protocol so the oracle ranks
    identically. Plan: the exact top-k is :func:`jvm_cosine_topk`
    (broadcast query side, codegen fold dots — swap in ``ivf_topk`` /
    ``lsh_topk`` for candidates-only neighbor generation at corpus
    scale); the vote is one narrow groupBy on (query, label).
    """
    nn = jvm_cosine_topk(corpus, queries, k=k, id_col=id_col,
                         vec_col=vec_col, round_to=round_to)
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel")
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("nlabel"))
    pred = (
        votes.withColumn("vrn", F.row_number().over(w))
        .filter(F.col("vrn") == 1)
        .select("query_id", F.col("nlabel").alias("pred_label"), "votes")
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id", "true_label", "pred_label", "votes"
    )


def ivf_fit_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 10,
    seed: int = 42,
    sample_limit: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "sample",
) -> np.ndarray:
    """Train an IVF coarse quantizer: k-means (numpy, fixed
    iterations, seeded init) on a bounded corpus sample. The sample
    is id-ordered (deterministic), capped at ``sample_limit`` rows —
    training cost is independent of corpus size; assignment is the
    distributed part.

    ``strategy="distributed"`` instead trains SPHERICAL k-means over
    the FULL corpus via ``clustering.kmeans_fit(spherical=True)`` —
    the FAISS-style sample fit is usually enough for a coarse
    quantizer, but when cell balance matters (skewed corpora where a
    20k sample misses tail modes) the distributed fit sees everything
    at O(N·K·D) per iteration, deterministic first-K init, no RNG."""
    if strategy == "distributed":
        from .clustering import kmeans_fit

        cents = kmeans_fit(
            corpus, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
            spherical=True,
        )
        return np.stack([np.asarray(cv, dtype=np.float64) for _, cv in cents])
    pdf = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy("i")
        .limit(sample_limit)
        .toPandas()
    )
    m = np.stack(pdf["v"].to_numpy())
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    cents = m[rng.choice(len(m), size=min(n_cells, len(m)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest cells (1 for
    corpus indexing, >1 for query probing). Vectorized per Arrow
    batch; centroids ride the closure (tiny)."""

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (m / norms) @ centroids.T
            order = np.argsort(-sims, axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["nid"].to_numpy(), nprobe),
                    "cell": order.ravel().astype(np.int64),
                }
            )

    v = df.select(F.col(id_col).alias("nid"), F.col(vec_col).cast("array<double>").alias("v"))
    return v.mapInPandas(assign, schema="vec_id long, cell long")


def ivf_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    fit_strategy: str = "sample",
) -> DataFrame:
    """IVF-Flat ANN (the FAISS coarse-quantization design,
    Spark-distributed): corpus vectors live in their nearest-centroid
    cell; a query scores only the ``nprobe`` nearest cells — cost is
    nprobe/n_cells of brute force. Exact cosine re-scoring of
    candidates, numpy per Arrow batch. At 100 TB the cell column
    becomes the partition key, so a probe reads only its cells'
    partitions (partition pruning on the scan)."""
    cents = ivf_fit_centroids(corpus, n_cells=n_cells, seed=seed,
                              id_col=id_col, vec_col=vec_col,
                              strategy=fit_strategy)
    c_cells = ivf_assign(corpus, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
    q_cells = ivf_assign(queries, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col)

    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("cvec"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).cast("array<double>").alias("qvec"))
    cand = (
        q_cells.select(F.col("vec_id").alias("query_id"), "cell")
        .join(c_cells.select(F.col("vec_id").alias("neighbor_id"), "cell"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    dot = F.aggregate(F.zip_with("qvec", "cvec", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot / (norm(F.col("qvec")) * norm(F.col("cvec"))))
        .select("query_id", "neighbor_id", "sim")
    )
    if round_to is not None:
        # rank by the ROUNDED sim (same protocol as brute_force_topk)
        # so an oracle summing in a different order ranks identically
        scored = scored.withColumn("sim", F.round(F.col("sim"), round_to))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# --- materialized IVF index ----------------------------------------
#
# A ``batch_dirs.VersionedStore`` under ``path`` (pointer, versions,
# retention and the append record are described there). Each version:
#
#   centroids/        tiny (cell, centroid) table: the frozen quantizer
#   cells/            base corpus (id, vec), partitionBy(cell)
#   batches/<bid>/    appended batches in the same shape
#
# A rebalance writes a whole NEW version, so a probe never sees a
# mixed quantizer.


def _ivf_live(spark: SparkSession, path: str) -> tuple[VersionedStore, int]:
    """The index store at ``path`` and its live version (shared by
    the IVF-PQ index, which uses the same store)."""
    store = VersionedStore(spark, path)
    k = store.live()
    if k is None:
        raise FileNotFoundError(f"no committed index at {path}")
    return store, k


def _ivf_centroids(spark: SparkSession, vdir: str) -> np.ndarray:
    cent_pdf = (
        spark.read.parquet(os.path.join(vdir, "centroids")).orderBy("cell").toPandas()
    )
    return np.stack(cent_pdf["centroid"].to_numpy()).astype(np.float64)


def _ivf_cells(batch: DataFrame, cents: np.ndarray, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, cell) rows of ``batch`` under the quantizer ``cents``."""
    assigned = ivf_assign(batch, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
    return batch.join(assigned, batch[id_col] == assigned.vec_id).select(
        batch[id_col].alias(id_col), batch[vec_col].alias(vec_col), "cell"
    )


def _ivf_write_version(
    corpus: DataFrame,
    vdir: str,
    cents: np.ndarray,
    id_col: str,
    vec_col: str,
) -> None:
    spark = corpus.sparkSession
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)]
    spark.createDataFrame(cent_rows, "cell long, centroid array<double>") \
        .coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))
    _ivf_cells(corpus, cents, id_col, vec_col).write.mode("overwrite") \
        .partitionBy("cell").parquet(os.path.join(vdir, "cells"))


def ivf_build_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_strategy: str = "sample",
    cents: np.ndarray | None = None,
) -> None:
    """Materialize the IVF index on disk: corpus rows written
    ``partitionBy(cell)`` plus a tiny centroid table, under a
    versioned pointer (layout above). This is the 100 TB structure the
    ``ivf_topk`` docstring promises: the cell directory IS the pruning
    index — a probe's scan reads only its nprobe cells' partitions
    (PartitionFilters at the parquet scan, asserted in tests),
    nprobe/n_cells of the data. Pass ``cents`` to build with a
    pre-trained quantizer instead of fitting here."""
    if cents is None:
        cents = ivf_fit_centroids(corpus, n_cells=n_cells, seed=seed,
                                  id_col=id_col, vec_col=vec_col,
                                  strategy=fit_strategy)
    store = VersionedStore(corpus.sparkSession, path)
    _ivf_write_version(corpus, store.stage(0), cents, id_col, vec_col)
    store.flip(0)


def _content_batch_id(batch: DataFrame, id_col: str, vec_col: str) -> str:
    """Deterministic, order- and partition-insensitive batch id for
    appends called WITHOUT an explicit ``batch_id`` (round 9 — r8
    advice): ``mode('append')`` into a shared legacy dir meant a
    crashed-and-retried append DUPLICATED every vector, and duplicate
    candidate rows then took multiple ``row_number`` ranks in the
    probe's top-k, displacing genuine neighbors. Two fingerprints
    (each a sum of 60-bit md5 prefixes — the
    ``audit_dataset_fingerprint`` protocol): the id set AND the
    (id, vector) content (round 10 — r9 advice: with the id-only
    form, a re-encoded batch reusing the same vec-ids silently
    no-op'd, indistinguishable from a retry — unnoticed data loss).
    ``_resolve_auto_batch_id`` keys retry detection on the full id
    and raises on an id-set match with different vector content.
    One bounded aggregate job per append — appends run jobs anyway."""

    def _fp(col: Column) -> Column:
        return F.sum(
            F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast(
                "decimal(38,0)"
            )
        )

    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        _fp(F.col(id_col).cast("string")).alias("idfp"),
        _fp(
            F.concat_ws(
                ",",
                F.col(id_col).cast("string"),
                F.col(vec_col).cast("string"),
            )
        ).alias("vecfp"),
    ).first()
    return (
        f"auto_{int(row['n'])}_{int(row['idfp'] or 0):x}"
        f"_{int(row['vecfp'] or 0):x}"
    )


def _resolve_auto_batch_id(
    batch: DataFrame, committed: list[str], id_col: str, vec_col: str
) -> tuple[str, bool]:
    """(content-derived batch id, already-committed?) for an anonymous
    append. A true retry (same ids AND same vectors) resolves
    committed=True, as does a retry of a round-9-era append committed
    under the legacy 2-part id-only form. An id-set match whose
    VECTOR content differs raises — it is a different batch (e.g.
    re-encoded embeddings) that would either silently vanish (the r9
    behavior this closes) or duplicate every id in the index."""
    batch_id = _content_batch_id(batch, id_col, vec_col)
    if batch_id in committed:
        return batch_id, True
    legacy = batch_id.rsplit("_", 1)[0]  # the r9 2-part form
    if legacy in committed:
        return batch_id, True
    clash = [b for b in committed if b.startswith(legacy + "_")]
    if clash:
        raise ValueError(
            f"anonymous append matches committed batch {clash[0]} on its "
            "vec-id set but carries DIFFERENT vector content (re-encoded "
            "embeddings?). Refusing: appending would duplicate every id "
            "in the index. Pass an explicit batch_id after removing or "
            "rebuilding the stale batch."
        )
    return batch_id, False


def ivf_append_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: str | None = None,
) -> bool:
    """Append a new batch to a materialized IVF index WITHOUT
    retraining: the batch is assigned against the STORED centroids
    (the quantizer is frozen — FAISS `add` semantics). This is the
    crawl-loop maintenance path: per-batch cost is one assignment
    stage over the batch plus one write, never a corpus rewrite. An
    index built with frozen centroids C then appended answers queries
    identically to one built from all the data with the same C
    (tested) — probes cannot tell the difference.

    ``batch_id`` makes the append IDEMPOTENT (use it in the crawl
    loop): the batch commits through the store's append record
    (``batch_dirs`` module docstring), so every crash window resolves
    to exactly-once. Returns False (no work) when ``batch_id`` is
    already committed. Without ``batch_id`` a content-derived id is
    computed from the batch's (vec-id, vector) content
    (``_content_batch_id`` — round 9 r8 advice; vector digest added
    round 10, r9 advice), so a retried anonymous append is ALSO a
    no-op instead of duplicating rows, while a DIFFERENT batch
    reusing committed vec-ids (re-encoded embeddings) raises loudly
    instead of silently vanishing.

    SINGLE WRITER: the append record update is a read-modify-write
    (atomic against readers and against crash/retry of the SAME
    batch, which is the exactly-once claim), not against a CONCURRENT
    append of a different batch — two simultaneous appenders can drop
    one another's record entry. Run one appender per index
    directory (the crawl-loop curator already serializes batches);
    ``ivf_rebalance_index`` re-checks the record before cutover so
    an append racing a REBALANCE is carried over, not lost.

    Drift caveat: a frozen quantizer slowly unbalances as the data
    distribution moves; watch ``ivf_imbalance`` and cut over with
    ``ivf_rebalance_index`` when it crosses your threshold — the
    rebalance is the compaction event, appends are the steady state."""
    store, v = _ivf_live(spark, path)
    committed = store.appends(v)
    if batch_id is None:
        batch_id, done = _resolve_auto_batch_id(batch, committed, id_col, vec_col)
        if done:
            return False
    if batch_id in committed:
        return False
    cents = _ivf_centroids(spark, store.path(v))
    store.append(v, batch_id, _ivf_cells(batch, cents, id_col, vec_col))
    return True


def ivf_cell_stats(spark: SparkSession, path: str) -> DataFrame:
    """(cell, n) member counts of a materialized IVF index — the
    rebuild trigger for the ``ivf_append_index`` steady state: a
    frozen quantizer drifts as the data distribution moves, and probe
    cost tracks the LARGEST probed cell. One partition-column
    aggregation — reads footer metadata plus the cell column, never
    the vectors."""
    store, v = _ivf_live(spark, path)
    return store.read(v, "cells").groupBy("cell").agg(F.count(F.lit(1)).alias("n"))


def ivf_imbalance(spark: SparkSession, path: str) -> float:
    """``max(cell size) / mean(cell size over n_cells)`` of the live
    index — 1.0 is perfectly balanced; probe latency tracks this
    ratio, so it is the rebalance trigger. Empty trained cells count
    in the mean (they are capacity the quantizer wastes)."""
    store, v = _ivf_live(spark, path)
    n_cells = spark.read.parquet(os.path.join(store.path(v), "centroids")).count()
    row = (
        store.read(v, "cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("total"))
        .collect()[0]
    )
    if not row.total:
        return 1.0
    return float(row.mx) / (float(row.total) / float(n_cells))


def ivf_rebalance_index(
    spark: SparkSession,
    path: str,
    n_cells: int | None = None,
    iters: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Retrain-and-cutover for a drifted IVF index: refit spherical
    centroids on the FULL live corpus (base + committed appends) with
    the distributed k-means, write a complete NEW version dir (fresh
    cells layout, empty append record), then atomically flip the
    ``current`` pointer — readers resolve the pointer per query, so
    they see either the old quantizer or the new one, never a mix.
    The superseded version dir is retained for one cutover as reader
    grace (lazy DataFrames already resolved keep working), then
    pruned on the NEXT rebalance. Returns the new version number.

    An append committing DURING the rebalance (the fit + rewrite is
    the long window) is not lost: the old version's append record is
    re-read after the new version's data is written, and any batch
    committed since the snapshot is re-assigned under the NEW
    quantizer and folded in before the pointer flips. The remaining
    instant between that re-check and the flip is covered by the
    single-writer contract documented on ``ivf_append_index``.

    Cost: one full read of the index (the compaction event the append
    path amortizes toward), the k-means fit, one partitioned rewrite.
    """
    store, v = _ivf_live(spark, path)
    # snapshot the append record ONCE and read exactly that snapshot:
    # a batch committed after it is carried over below, never folded
    # in twice
    seen = sorted(store.appends(v))
    data = store.read(v, "cells", seen)
    if n_cells is None:
        n_cells = spark.read.parquet(os.path.join(store.path(v), "centroids")).count()
    cents = ivf_fit_centroids(
        data, n_cells=n_cells, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col, strategy="distributed",
    )

    def cells(rows: DataFrame) -> DataFrame:
        return _ivf_cells(rows.select(F.col(id_col), F.col(vec_col)), cents, id_col, vec_col)

    _ivf_write_version(
        data.select(F.col(id_col), F.col(vec_col)), store.stage(v + 1), cents, id_col, vec_col
    )
    store.carry_over(v, v + 1, seen, cells)
    store.flip(v + 1)
    return v + 1


def ivf_query_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a materialized IVF index: probe cells are computed from
    the stored centroids, collected (bounded by n_cells — driver-side
    by design), and pushed into the scan as a partition-column IN
    filter, so only the probed cell directories are read (of the base
    cells AND of every committed append batch — each root is its own
    pruned scan). The version pointer is resolved ONCE per call, so a
    concurrent rebalance cutover never yields a mixed quantizer.
    Candidate re-scoring is identical to ``ivf_topk``."""
    store, v = _ivf_live(spark, path)
    cents = _ivf_centroids(spark, store.path(v))
    q_cells = ivf_assign(queries, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col)
    probe = sorted({int(r.cell) for r in q_cells.select("cell").distinct().collect()})
    corpus = store.read(v, "cells").filter(F.col("cell").isin(probe))

    cand = (
        q_cells.select(F.col("vec_id").alias("query_id"), "cell")
        .join(corpus.select(F.col(id_col).alias("neighbor_id"), "cell"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).cast("array<double>").alias("cvec"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).cast("array<double>").alias("qvec"))
    dot = F.aggregate(F.zip_with("qvec", "cvec", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot / (norm(F.col("qvec")) * norm(F.col("cvec"))))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def lsh_auto_geometry(
    n_vectors: int,
    threshold: float = 0.9,
    target_recall: float = 0.9,
    target_bucket_size: int = 8,
    min_planes: int = 4,
    max_planes: int = 24,
    max_tables: int = 64,
) -> tuple[int, int]:
    """(num_planes, num_tables) sized for the corpus — the sizing rule
    the fixed-geometry pipelines only document.

    Rationale (measured, round-6 scale probe): with planes fixed,
    bucket occupancy grows ~N/2^planes, so candidate pairs grow
    ~N²/2^planes and a 10× corpus costs ~38× (superlinear). Planes
    must track log2(N / target_bucket_size) to keep buckets O(1);
    more planes lower per-table recall at the threshold similarity
    ((1 - θ/π)^planes), so tables are then sized to restore it:
    tables ≥ ln(1 - target_recall) / ln(1 - p_table). Candidate work
    scales ~tables · N · bucket_size — linear in N at fixed
    occupancy, with the table count growing only polynomially in
    planes. Probe cost and recall are both explicit knobs; clamp caps
    keep degenerate inputs (tiny corpora, extreme thresholds) sane."""
    import math

    planes = int(math.ceil(math.log2(max(n_vectors, 2) / max(target_bucket_size, 1))))
    planes = min(max(planes, min_planes), max_planes)
    p_plane = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_table = p_plane**planes
    if p_table >= 1.0:
        tables = 1
    else:
        tables = int(math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_table)))
    return planes, min(max(tables, 1), max_tables)


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    num_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH (Charikar 2002): sign pattern of
    ``num_planes`` fixed Gaussian projections → an integer bucket.
    Cosine-similar vectors collide with probability 1 - θ/π per bit."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(num_planes, dim)

    def sign_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            bits = (m @ planes.T) > 0  # (N, P)
            bucket = np.zeros(len(pdf), dtype=np.int64)
            for i in range(num_planes):
                bucket |= bits[:, i].astype(np.int64) << i
            yield pd.DataFrame({"vec_id": pdf["nid"], "bucket": bucket})

    v = df.select(F.col(id_col).alias("nid"), F.col(vec_col).cast("array<double>").alias("v"))
    return v.mapInPandas(sign_partition, schema="vec_id long, bucket long")


def hyperplane_signatures_multi(
    df: DataFrame,
    dim: int,
    num_planes: int,
    num_tables: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, tbl, bucket) for ALL tables in ONE pass.

    Bit-identical to ``num_tables`` separate ``hyperplane_signatures``
    calls with seeds ``seed+t`` (the per-table plane matrices are
    constructed identically), but as a single scan + single Python
    stage: one (N, tables·planes) matmul per Arrow batch instead of
    ``num_tables`` full mapInPandas stages — per-stage worker overhead
    and the source scan are paid once, which is the dominant cost when
    tables ≫ 1.

    The output id column keeps the INPUT id column's type (long ids,
    string crawl ids, ... all work) — the mapInPandas schema is derived
    from ``df``, not hardcoded."""
    planes = np.concatenate(
        [np.random.RandomState(seed + t).randn(num_planes, dim) for t in range(num_tables)]
    )  # (T·P, dim)
    id_type = df.schema[id_col].dataType.simpleString()

    def sign_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = (np.int64(1) << np.arange(num_planes, dtype=np.int64))
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            bits = (m @ planes.T) > 0  # (N, T·P)
            buckets = bits.reshape(len(pdf), num_tables, num_planes).astype(np.int64) @ weights  # (N, T)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["nid"].to_numpy(), num_tables),
                    "tbl": np.tile(np.arange(num_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.ravel(),
                }
            )

    v = df.select(F.col(id_col).alias("nid"), F.col(vec_col).cast("array<double>").alias("v"))
    return v.mapInPandas(
        sign_partition, schema=f"vec_id {id_type}, tbl int, bucket long"
    )


def lsh_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: union of ``num_tables`` independent
    hyperplane tables; candidates = bucket collisions in any table;
    exact cosine re-scoring of candidates only (numpy, Arrow-batched).
    Recall grows with tables; cost stays ~|collisions|, not |Q|·|C|."""
    all_c = hyperplane_signatures_multi(
        corpus, dim, num_planes, num_tables, seed, id_col, vec_col
    )
    all_q = hyperplane_signatures_multi(
        queries, dim, num_planes, num_tables, seed, id_col, vec_col
    )

    cand = (
        all_q.select(F.col("vec_id").alias("query_id"), "bucket", "tbl")
        .join(all_c.select(F.col("vec_id").alias("neighbor_id"), "bucket", "tbl"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rescore_candidates(cand, corpus, queries, k, id_col, vec_col, round_to)


def _rescore_candidates(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    round_to: int | None,
) -> DataFrame:
    """Exact cosine re-scoring of a (query_id, neighbor_id) candidate
    frame — shared by every candidates-only ANN path. Query side
    broadcast; the candidate-restricted score is a codegen fold, so
    cost is ~|candidates|, never |Q|x|C|."""
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cvec"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qvec"))
    dot = F.aggregate(
        F.zip_with("qvec", "cvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))  # noqa: E731
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot / (norm(F.col("qvec")) * norm(F.col("cvec"))))
        .select("query_id", "neighbor_id", "sim")
    )
    if round_to is not None:
        scored = scored.withColumn("sim", F.round(F.col("sim"), round_to))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def multiprobe_lsh_topk(
    spark: SparkSession,
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 12,
    num_tables: int = 4,
    probe_bits: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al. 2007, adapted to the
    Charikar sign signature): the QUERY side also probes every bucket
    within Hamming distance ``probe_bits`` of its signature, because
    a near-neighbor that misses the exact bucket most likely differs
    in just one low-margin sign bit.

    Why this matters at scale: recall can be bought with tables (each
    one a full extra copy of the index — storage and build cost) or
    with probes (extra lookups against the SAME index — query-time
    cost only). Multi-probe reaches a given recall with ~2-3x fewer
    tables, which at a 100 TB corpus is the index-storage bottleneck;
    the probe expansion itself is a pure codegen projection on the
    tiny query side (1 + P + P(P-1)/2 buckets per table at
    ``probe_bits=2``), shuffling nothing new — the corpus-side
    signature table is byte-identical to single-probe's, so an
    existing stored index serves both.

    probe_bits=0 is exactly ``lsh_topk``; the corpus side never
    expands (only queries probe — the asymmetry keeps the index
    unchanged)."""
    if probe_bits not in (0, 1, 2):
        raise ValueError("multiprobe_lsh_topk: probe_bits must be 0, 1, or 2")
    all_c = hyperplane_signatures_multi(
        corpus, dim, num_planes, num_tables, seed, id_col, vec_col
    )
    all_q = hyperplane_signatures_multi(
        queries, dim, num_planes, num_tables, seed, id_col, vec_col
    )
    flips = [0]
    if probe_bits >= 1:
        flips += [1 << i for i in range(num_planes)]
    if probe_bits >= 2:
        flips += [
            (1 << i) | (1 << j)
            for i in range(num_planes)
            for j in range(i + 1, num_planes)
        ]
    probed_q = all_q.select(
        F.col("vec_id").alias("query_id"),
        "tbl",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips])
        ).alias("bucket"),
    )
    cand = (
        probed_q.join(
            all_c.select(F.col("vec_id").alias("neighbor_id"), "bucket", "tbl"),
            ["tbl", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rescore_candidates(cand, corpus, queries, k, id_col, vec_col, round_to)


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Distribution-drift report between two embedding populations
    (e.g. the indexed corpus vs the last week of crawl) — the
    monitoring signal that decides when ``ivf_rebalance_index`` /
    re-training is due, BEFORE probe latency degrades.

    Per dimension: mean in each population, the mean delta, and the
    pooled z-like shift |Δmean| / stddev_a. Plus one summary row
    (dim = -1) carrying the cosine between the two mean vectors —
    1.0 means the centroid of the data hasn't moved.

    Shape: ONE aggregate per side — ``posexplode`` of the vector and a
    (dim)-keyed partial-aggregated mean/std (2·D doubles cross the
    exchange per partition); the join/summary work is D-sized. Nothing
    corpus-scale shuffles, so the monitor is cheap enough to run per
    crawl batch. Rounded to ``round_to`` on every output so the report
    is engine-portable (oracle-checked)."""

    def stats(df: DataFrame, prefix: str) -> DataFrame:
        e = df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "v"))
        return e.groupBy("dim").agg(
            F.avg("v").alias(f"{prefix}_mean"),
            F.stddev_samp("v").alias(f"{prefix}_std"),
        )
    sa = stats(a, "a")
    sb = stats(b, "b")
    per_dim = (
        sa.join(sb, "dim")
        .select(
            "dim",
            F.round("a_mean", round_to).alias("a_mean"),
            F.round("b_mean", round_to).alias("b_mean"),
            F.round(F.col("b_mean") - F.col("a_mean"), round_to).alias("delta"),
            F.round(
                F.abs(F.col("b_mean") - F.col("a_mean"))
                / F.nullif(F.col("a_std"), F.lit(0.0)),
                round_to,
            ).alias("shift_z"),
        )
    )
    # summary: cosine between mean vectors, computed from the SAME
    # per-dim aggregates (D-sized arithmetic, no extra corpus pass)
    summary = (
        sa.join(sb, "dim")
        .agg(
            F.sum(F.col("a_mean") * F.col("b_mean")).alias("_dot"),
            F.sqrt(F.sum(F.col("a_mean") * F.col("a_mean"))).alias("_na"),
            F.sqrt(F.sum(F.col("b_mean") * F.col("b_mean"))).alias("_nb"),
        )
        .select(
            F.lit(-1).cast("int").alias("dim"),
            F.lit(None).cast("double").alias("a_mean"),
            F.lit(None).cast("double").alias("b_mean"),
            F.lit(None).cast("double").alias("delta"),
            F.round(
                F.col("_dot") / F.nullif(F.col("_na") * F.col("_nb"), F.lit(0.0)),
                round_to,
            ).alias("shift_z"),
        )
    )
    return per_dim.unionByName(summary)


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization:
    ``scale = max|v_j| / 127``; ``code_j = round(v_j / scale)`` in
    [-127, 127]. Output: ``(id_col, codes array<int>, scale double)``.

    This is the storage format for memory-bound ANN at scale — codes
    are 1 byte of information per dimension vs 4 for float32, so a
    100 TB embedding corpus quantizes to ~25 TB (plus one double per
    vector), which is the difference between an index that fits
    executor memory and one that spills. Per-vector (not per-corpus)
    scaling keeps the max quantization error at scale/2 regardless of
    norm spread, and needs no corpus pass to fit — the projection is
    a pure per-row expression (whole-stage codegen, no shuffle, no
    Python).

    Zero vectors have no scale; their codes are NULL (they carry no
    direction and are excluded from cosine scoring anyway — same
    convention as the zero-norm guards in the exact paths).

    The scale is materialized at a projection boundary before the
    code transform references it: expressions referenced inside array
    lambdas re-evaluate per element (the ``ngrams_from_tokens`` rule —
    inlining the array_max chain into the lambda cost 64 array scans
    + allocations per row, measured ~5× on the whole scoring query)."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    base = emb.select(
        F.col(id_col),
        v.alias("_v"),
        (amax / F.lit(127.0)).alias("scale"),
    )
    s = F.col("scale")
    return base.select(
        F.col(id_col),
        F.when(
            s > 0,
            F.transform(F.col("_v"), lambda x: F.round(x / s).cast("int")),
        ).alias("codes"),
        F.when(s > 0, s).alias("scale"),
    )


def with_int8_codes(
    df: DataFrame,
    vec_col: str,
    dim: int,
    qc: str = "qc",
    qs: str = "qs",
    vhat: str = "_vhat",
) -> DataFrame:
    """Append int8 quantization columns AND the dequantized vector to
    ``df`` (round 8 — the curator's compressed embedding state):

    - ``qc``: the :func:`quantize_embeddings` codes, with the zero-
      vector NULL convention replaced by an all-zero code (state
      tables keep one row per doc; a zero v̂ is excluded by the same
      zero-norm guards as a zero v);
    - ``qs``: the per-vector scale (0.0 for zero vectors);
    - ``vhat``: ``qc * qs`` — the CANONICAL reconstructed vector.

    Everything downstream of a compressed store (signatures, cosine
    verify, rollover re-signing) must derive from ``vhat``, never the
    original: quantization is the single approximation boundary, and
    deriving sigs and verify from the same v̂ keeps stored state
    byte-reproducible from itself — the property replay and geometry
    rollovers rest on. Same projection-boundary discipline as
    :func:`quantize_embeddings` (the scale is materialized before the
    code lambda references it)."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    out = df.withColumn("_qs_raw", amax / F.lit(127.0))
    s = F.col("_qs_raw")
    out = (
        out.withColumn(
            qc,
            F.when(
                s > 0, F.transform(v, lambda x: F.round(x / s).cast("int"))
            ).otherwise(F.array_repeat(F.lit(0), dim)),
        )
        .withColumn(qs, F.when(s > 0, s).otherwise(F.lit(0.0)))
        .drop("_qs_raw")
    )
    return out.withColumn(
        vhat,
        F.transform(F.col(qc), lambda c: c.cast("double") * F.col(qs)),
    )


def dequantized_vecs(
    codes: DataFrame, qc: str = "qc", qs: str = "qs"
) -> DataFrame:
    """(vec_id, v, nv) view of an int8-compressed vec state table —
    the read-side inverse of :func:`with_int8_codes`: v = qc*qs, nv
    recomputed over the reconstruction (exact in v̂). Pure per-row
    codegen; the verify kernels downstream are unchanged."""
    v = F.transform(F.col(qc), lambda c: c.cast("double") * F.col(qs))
    out = codes.withColumn("v", v).drop(qc, qs)
    nv = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return out.withColumn("nv", nv)


def dequantize(quantized: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Reconstruct approximate double vectors from int8 codes:
    ``v_j ~ code_j * scale``. A per-row codegen projection; NULL-scale
    (zero) vectors are dropped, matching the zero-norm exclusion of
    every cosine path. The drop filters on ``scale`` — NULL exactly
    when ``codes`` is NULL — because a pushed-down ``codes IS NOT
    NULL`` predicate re-inlines the whole code-transform chain into
    an interpreted per-row Filter (measured: the filter alone cost
    more than the scoring)."""
    return quantized.filter(F.col("scale").isNotNull()).withColumn(
        vec_col,
        F.transform(F.col("codes"), lambda c: c.cast("double") * F.col("scale")),
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k of float queries against the int8-QUANTIZED
    corpus: quantize -> dequantize -> the same JVM fold-dot scoring as
    ``jvm_cosine_topk``. Every arithmetic step (cast, abs-max, the
    /127 scale, round-to-int, the dequant multiply, the ordered fold
    dot product, round(sim, 6)) is deterministic IEEE double in both
    engines, so the result is hash-checkable against an ANSI oracle —
    approximation without nondeterminism.

    At scale the codes (not the dequantized doubles) are what an index
    stores and ships; dequantization here is a scan-stage projection,
    so the memory win survives while the scoring plan stays identical
    to the exact path's."""
    deq = dequantize(
        quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col), vec_col=vec_col
    ).select(id_col, vec_col)
    # corpus_nonzero: dequantize dropped the zero vectors, and every
    # survivor carries a saturated +/-127 code, so cn > 0 always
    return jvm_cosine_topk(
        deq, queries, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to,
        corpus_nonzero=True,
    )


def rrf_fuse(
    rankings: list[tuple[DataFrame, str, str]],
    k_const: int = 60,
    k: int = 10,
    contrib_round: int = 9,
    score_round: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists
    — the standard hybrid-retrieval combiner (lexical BM25 + dense
    cosine in a RAG stack): rrf(id) = Σ_lists 1 / (k_const + rank),
    summed over the lists where the id appears.

    ``rankings`` is a list of (df, id_col, rank_col) triples; ranks
    are 1-based. Shape: each list is already top-k-sized (k·queries
    rows — the candidate lists are SMALL by construction, that is the
    point of fusion over pre-cut lists), so the union + one keyed
    aggregation is bounded by Σ list sizes at any corpus scale; the
    final cut is TakeOrdered. Determinism: each contribution is
    rounded to ``contrib_round`` then summed with the exact decimal
    protocol; ties break by id ascending.

    Output: (doc_id, rrf_score, n_lists, rnk) for rnk ≤ k.
    """
    from pyspark.sql import Window

    from ..oracle import dsum

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = [
        df.select(
            F.col(id_col).alias("doc_id"),
            F.round(
                F.lit(1.0) / (F.lit(k_const) + F.col(rank_col)), contrib_round
            ).alias("_contrib"),
        )
        for df, id_col, rank_col in rankings
    ]
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy("doc_id").agg(
        F.round(dsum("_contrib"), score_round).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    # TakeOrdered cut FIRST (k·partitions rows move), window ranks
    # only the k survivors — the bm25_topk top-k protocol
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rnk", F.row_number().over(w).cast("int"))
    )
