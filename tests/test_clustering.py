"""Distributed k-means / SemDeDup / shard-export tests.

The oracle hash equality for `cluster_kmeans_assign`, `dedup_semantic`,
`knn_label_vote`, and `export_shuffle_shards` is covered by
test_oracle_parity; here we pin the SCALE contracts (plan shapes) and
the semantic edge cases the oracles can't see.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from play_with_pulsar_spark.operators import clustering, curation, similarity
from play_with_pulsar_spark.plans import count_shuffles
from play_with_pulsar_spark.sources.tables import load_table
from play_with_pulsar_spark.streaming.batch_dirs import VersionedStore


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _clustered(spark, sf_dir):
    from play_with_pulsar_spark import queries as q

    return q._clustered_embeddings(spark, sf_dir)


def test_assignment_is_shuffle_free_in_both_strategies(spark, sf_dir):
    """THE scale property: k-means assignment plans ZERO exchanges in
    BOTH kernels. The "sql" strategy is additionally Python-free
    (literal centroids in a declarative projection); the "numpy"
    strategy is one Arrow stage, still no join/window/exchange."""
    cents = clustering.kmeans_init(_emb(spark, sf_dir), k=8)
    sql = clustering.kmeans_assign(_emb(spark, sf_dir), cents, strategy="sql")
    assert count_shuffles(sql) == 0
    plan = sql._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan
    assert "Python" not in plan  # no Arrow/UDF stage either
    np_ = clustering.kmeans_assign(_emb(spark, sf_dir), cents, strategy="numpy")
    assert count_shuffles(np_) == 0
    np_plan = np_._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in np_plan and "Window" not in np_plan


def test_assignment_kernels_agree_exactly(spark, sf_dir):
    """The declarative fold kernel and the Arrow matmul kernel rank by
    the same rounded distance, so they must produce IDENTICAL
    (cluster, dist) for every vector."""
    emb = _emb(spark, sf_dir)
    cents = clustering.kmeans_fit(emb, k=8, iters=1)
    a = {r.vec_id: (r.cluster, r.dist)
         for r in clustering.kmeans_assign(emb, cents, strategy="sql").collect()}
    b = {r.vec_id: (r.cluster, r.dist)
         for r in clustering.kmeans_assign(emb, cents, strategy="numpy").collect()}
    assert a == b


def test_semantic_dedup_kernels_agree(spark, sf_dir):
    """The per-cluster gram-matrix kernel and the declarative
    self-join produce identical keep verdicts."""
    emb = _emb(spark, sf_dir)
    a = {r.vec_id: (r.cluster, r.keep)
         for r in clustering.semantic_dedup(emb, k=8, iters=1, threshold=0.4,
                                            pair_kernel="numpy").collect()}
    b = {r.vec_id: (r.cluster, r.keep)
         for r in clustering.semantic_dedup(emb, k=8, iters=1, threshold=0.4,
                                            pair_kernel="sql").collect()}
    assert a == b


def test_lloyds_objective_decreases(spark, sf_dir):
    """Each update step may only improve the mean assignment distance
    (Lloyd's monotonicity, up to the 1e-6 rounding the cross-engine
    protocol applies to distances)."""
    emb = _emb(spark, sf_dir)

    def avg_dist(iters):
        c = clustering.kmeans_fit(emb, k=8, iters=iters)
        return clustering.kmeans_assign(emb, c).agg(F.avg("dist")).collect()[0][0]

    d0, d1, d3 = avg_dist(0), avg_dist(1), avg_dist(3)
    assert d1 <= d0 + 1e-6
    assert d3 <= d1 + 1e-6
    assert d1 < d0  # on this fixture the first step strictly improves


def test_kmeans_recovers_planted_clusters(spark, sf_dir):
    """On the clustered fixture (8 orthogonal centers, jitter ~0.1)
    k-means must recover the planted partition exactly: purity 1.0
    with all 8 clusters populated."""
    v = _clustered(spark, sf_dir)
    cents = clustering.kmeans_fit(v, k=8, iters=2)
    a = clustering.kmeans_assign(v, cents).withColumn("truth", F.col("vec_id") % 8)
    pur = (
        a.groupBy("cluster", "truth").count()
        .groupBy("cluster")
        .agg(F.max("count").alias("maj"), F.sum("count").alias("tot"))
        .collect()
    )
    assert len(pur) == 8
    assert sum(r.maj for r in pur) == sum(r.tot for r in pur)


def test_empty_cluster_keeps_previous_centroid(spark):
    """Two identical points tie on distance to two identical init
    centroids; the id tiebreak empties the second cluster, which must
    then KEEP its previous centroid (not crash, not NaN) — mirrored by
    the oracle's LEFT JOIN + coalesce."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [5.1, 5.0])],
        "vec_id long, embedding array<double>",
    )
    cents = clustering.kmeans_fit(df, k=3, iters=2)
    as_dict = dict((cl, cv) for cl, cv in cents)
    assert as_dict[1] == [0.0, 0.0]  # orphaned cluster: centroid unchanged
    rows = {r.vec_id: r.cluster for r in clustering.kmeans_assign(df, cents).collect()}
    assert rows[0] == 0 and rows[1] == 0  # ties broke to the lower id
    assert rows[2] == 2 and rows[3] == 2


def test_semantic_dedup_keeps_earliest_and_zero_norm(spark):
    """Identical vectors: the lowest id survives, later copies are
    dropped. A zero-norm vector has no defined cosine and is never
    marked a duplicate."""
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),      # exact dup of 0 -> dropped
            (2, [0.99, 0.01]),    # near-dup of 0 -> dropped
            (3, [0.0, 0.0]),      # zero norm -> kept
            (4, [-1.0, 0.5]),     # dissimilar -> kept
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r.keep for r in
           clustering.semantic_dedup(df, k=1, iters=0, threshold=0.9).collect()}
    assert out == {0: True, 1: False, 2: False, 3: True, 4: True}


def test_knn_label_vote_on_separable_clusters(spark, sf_dir):
    """With labels = planted cluster ids, 5-NN voting must classify
    every held-out query correctly (within-cluster cosine ~0.99 vs
    cross-cluster ~0.01)."""
    v = _clustered(spark, sf_dir).withColumn("label", (F.col("vec_id") % 8).cast("int"))
    kv = similarity.knn_label_vote(
        corpus=v.filter(F.col("vec_id") >= 50),
        queries=v.filter(F.col("vec_id") < 50),
        k=5,
    ).collect()
    assert len(kv) == 50
    assert all(r.true_label == r.pred_label for r in kv)


def test_write_training_shards_layout(spark, sf_dir, tmp_path):
    """The materialized export: shard dirs partition the corpus, the
    within-file row order IS the declared shuffle order, and a rewrite
    is byte-deterministic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    expected = curation.shuffle_shards(docs, n_shards=8, seed="42")
    p = str(tmp_path / "shards")
    curation.write_training_shards(docs, p, n_shards=8, seed="42")

    back = spark.read.parquet(p)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    assert back.select("shard").distinct().count() == 8

    # within-file order == declared (shard, pos) order
    import pandas as pd

    got = (
        spark.read.parquet(p)
        .withColumn("file", F.input_file_name())
        .withColumn("file_pos", F.monotonically_increasing_id())
    ).toPandas()
    exp = expected.toPandas()
    merged = got.merge(exp, on="doc_id")
    for shard, g in merged.groupby("shard_y"):
        g = g.sort_values("file_pos")
        assert list(g["pos"]) == sorted(g["pos"]), f"shard {shard} order broken"

    # determinism: rewriting yields the identical assignment
    curation.write_training_shards(docs, p, n_shards=8, seed="42")
    again = spark.read.parquet(p).select("doc_id", "shard")
    diff = (
        again.join(expected.select("doc_id", F.col("shard").alias("s2")), "doc_id")
        .filter(F.col("shard") != F.col("s2"))
        .count()
    )
    assert diff == 0


def test_spherical_distributed_fit_trains_ivf(spark, sf_dir):
    """ivf_fit_centroids(strategy='distributed') — spherical k-means
    over the FULL corpus via clustering.kmeans_fit — yields unit-norm
    centroids that recover the planted structure, and ivf_topk built
    on it returns the exact top-5 on the clustered fixture (candidate
    coverage is what IVF correctness means)."""
    import numpy as np

    from play_with_pulsar_spark.operators import similarity

    v = _clustered(spark, sf_dir)
    cents = similarity.ivf_fit_centroids(
        v, n_cells=8, iters=3, strategy="distributed"
    )
    assert cents.shape == (8, 64)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-6)
    got = similarity.ivf_topk(
        spark, corpus=v, queries=v.filter(F.col("vec_id") < 10),
        k=5, n_cells=8, nprobe=4, round_to=6, fit_strategy="distributed",
    )
    exact = similarity.jvm_cosine_topk(
        corpus=v, queries=v.filter(F.col("vec_id") < 10), k=5, round_to=6
    )
    g = {(r.query_id, r.rn): r.neighbor_id for r in got.collect()}
    e = {(r.query_id, r.rn): r.neighbor_id for r in exact.collect()}
    assert g == e and len(e) == 50


def test_ivf_append_equals_build_with_same_quantizer(spark, sf_dir, tmp_path):
    """FAISS `add` semantics: building the index on a corpus subset
    then appending the rest (frozen centroids) answers queries
    IDENTICALLY to an index built from all the data with the same
    centroids — the crawl-loop maintenance path costs one assignment
    per batch, never a corpus rewrite."""
    from play_with_pulsar_spark.operators import similarity

    v = _clustered(spark, sf_dir)
    corpus = v.filter(F.col("vec_id") >= 100)
    batch = v.filter(F.col("vec_id") < 100)
    queries = v.filter(F.col("vec_id") < 10)
    cents = similarity.ivf_fit_centroids(corpus, n_cells=8, seed=42)

    p_inc = str(tmp_path / "ivf_inc")
    similarity.ivf_build_index(corpus, p_inc, n_cells=8, cents=cents)
    similarity.ivf_append_index(spark, p_inc, batch)

    p_full = str(tmp_path / "ivf_full")
    similarity.ivf_build_index(v, p_full, n_cells=8, cents=cents)

    inc = {(r.query_id, r.rn): r.neighbor_id
           for r in similarity.ivf_query_index(spark, p_inc, queries, k=5, nprobe=4).collect()}
    full = {(r.query_id, r.rn): r.neighbor_id
            for r in similarity.ivf_query_index(spark, p_full, queries, k=5, nprobe=4).collect()}
    assert inc == full and len(inc) == 50
    # appended vectors are genuinely reachable: batch ids appear among
    # the neighbors (the fixture's nearest neighbors are in-cluster,
    # and ids <100 are all in the batch)
    assert any(n < 100 for n in inc.values())
    # the balance monitor sees every row across build + append
    stats = similarity.ivf_cell_stats(spark, p_inc).collect()
    assert sum(r.n for r in stats) == v.count()
    assert len(stats) <= 8


def test_ivf_append_idempotent_batch_protocol(spark, sf_dir, tmp_path):
    """Round-6 advice fix: batch-id appends are exactly-once. A
    replayed batch id is detected and skipped; a crash between the
    data write and the manifest flip (simulated by reverting the
    manifest) leaves the orphan dir invisible to readers, and the
    retry republishes it exactly once."""
    import json
    import os

    from play_with_pulsar_spark.operators import similarity

    v = _clustered(spark, sf_dir)
    corpus = v.filter(F.col("vec_id") >= 100)
    batch = v.filter(F.col("vec_id") < 100)
    path = str(tmp_path / "ivf_idem")
    similarity.ivf_build_index(corpus, path, n_cells=8, seed=42)
    base_n = corpus.count()

    assert similarity.ivf_append_index(spark, path, batch, batch_id="b1") is True
    n1 = sum(r.n for r in similarity.ivf_cell_stats(spark, path).collect())
    assert n1 == base_n + batch.count()
    # replay of a committed id: skipped, no duplicate rows
    assert similarity.ivf_append_index(spark, path, batch, batch_id="b1") is False
    assert sum(r.n for r in similarity.ivf_cell_stats(spark, path).collect()) == n1

    # crash window: data dir exists but the id never reached the
    # manifest — readers must not see it; the retry commits once
    store = VersionedStore(spark, path)
    mf = os.path.join(store.path(store.live()), "appends.json")
    with open(mf, "w") as f:
        json.dump([], f)
    assert sum(r.n for r in similarity.ivf_cell_stats(spark, path).collect()) == base_n
    assert similarity.ivf_append_index(spark, path, batch, batch_id="b1") is True
    assert sum(r.n for r in similarity.ivf_cell_stats(spark, path).collect()) == n1


def test_ivf_rebalance_cutover(spark, sf_dir, tmp_path):
    """Round-6: the retrain-and-cutover the balance monitor implies.
    An index deliberately trained on ONE planted cluster crams the
    rest of the corpus into few cells (imbalance high); rebalancing
    refits spherical centroids on the full live corpus under a NEW
    version dir and atomically flips the pointer. Full-probe query
    results are identical before/after (the data never changes — only
    the quantizer), per-cell stats are balanced after, and the append
    manifest starts empty in the new version."""
    from play_with_pulsar_spark.operators import similarity

    v = _clustered(spark, sf_dir)
    # train ONLY on planted cluster 0 → terrible quantizer for the rest
    skew_fit = v.filter(F.col("vec_id") % 8 == 0)
    cents = similarity.ivf_fit_centroids(skew_fit, n_cells=8, seed=42)
    path = str(tmp_path / "ivf_reb")
    similarity.ivf_build_index(
        v.filter(F.col("vec_id") >= 100), path, n_cells=8, cents=cents
    )
    similarity.ivf_append_index(
        spark, path, v.filter(F.col("vec_id") < 100), batch_id="drift-1"
    )
    queries = v.filter(F.col("vec_id") < 10)

    def full_probe():
        return {
            (r.query_id, r.rn): r.neighbor_id
            for r in similarity.ivf_query_index(
                spark, path, queries, k=5, nprobe=8
            ).collect()
        }

    before_imb = similarity.ivf_imbalance(spark, path)
    before = full_probe()
    new_v = similarity.ivf_rebalance_index(spark, path, iters=3)
    assert new_v == 1
    after = full_probe()
    assert after == before and len(before) == 50
    after_imb = similarity.ivf_imbalance(spark, path)
    # the skewed quantizer collapsed 7/8 of the data into few cells;
    # the refit must spread the 8 planted clusters near-evenly
    assert before_imb > 2.0, before_imb
    assert after_imb < 1.5, after_imb
    store = VersionedStore(spark, path)
    assert store.live() == 1
    assert store.appends(1) == []
    # row count preserved across the cutover (appends folded in)
    assert sum(r.n for r in similarity.ivf_cell_stats(spark, path).collect()) == v.count()


def test_ivf_rebalance_carries_over_mid_rebalance_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-7 advice fix: an append that commits DURING a rebalance
    (after the rebalance snapshots the old version's data, before the
    pointer flips) must survive the cutover. Simulated by wrapping the
    k-means fit — the long window — to commit a late batch against the
    live (old) index mid-rebalance. The new version must carry the
    late batch (re-assigned under the NEW quantizer, listed in the new
    manifest) and the next rebalance's prune must not lose it."""
    v = _clustered(spark, sf_dir)
    corpus = v.filter(F.col("vec_id") >= 100)
    late = v.filter(F.col("vec_id") < 100)
    path = str(tmp_path / "ivf_race")
    similarity.ivf_build_index(corpus, path, n_cells=8, seed=42)

    real_fit = similarity.ivf_fit_centroids
    hits = []

    def fit_with_racing_append(*args, **kwargs):
        if not hits:  # only the rebalance's own fit call races
            hits.append(1)
            assert similarity.ivf_append_index(
                spark, path, late, batch_id="late-1"
            ) is True
        return real_fit(*args, **kwargs)

    monkeypatch.setattr(similarity, "ivf_fit_centroids", fit_with_racing_append)
    new_v = similarity.ivf_rebalance_index(spark, path, iters=2)
    monkeypatch.setattr(similarity, "ivf_fit_centroids", real_fit)

    store = VersionedStore(spark, path)
    assert store.live() == new_v
    # the late batch rode over: the append record lists it, rows all present
    assert store.appends(new_v) == ["late-1"]
    total = sum(r.n for r in similarity.ivf_cell_stats(spark, path).collect())
    assert total == v.count()
    # and a further (non-racing) rebalance folds it into the base cells
    new_v2 = similarity.ivf_rebalance_index(spark, path, iters=2)
    assert store.live() == new_v2 and store.appends(new_v2) == []
    assert (
        sum(r.n for r in similarity.ivf_cell_stats(spark, path).collect())
        == v.count()
    )


def test_ivf_append_without_batch_id_is_idempotent(spark, sf_dir, tmp_path):
    """Same r8-advice fix on the IVF-Flat side: an anonymous append
    derives a content id, so a crash-retry cannot duplicate vectors
    (the old path appended straight into cells/)."""
    from play_with_pulsar_spark.operators import similarity

    v = _clustered(spark, sf_dir)
    corpus = v.filter(F.col("vec_id") >= 100)
    batch = v.filter(F.col("vec_id") < 100)
    p = str(tmp_path / "ivf_anon")
    similarity.ivf_build_index(corpus, p, n_cells=8,
                               cents=similarity.ivf_fit_centroids(corpus, n_cells=8, seed=42))
    assert similarity.ivf_append_index(spark, p, batch)
    assert not similarity.ivf_append_index(spark, p, batch)
    store = VersionedStore(spark, p)
    data = store.read(store.live(), "cells")
    assert data.count() == data.select("vec_id").distinct().count()


def test_ivf_anon_append_reencoded_batch_raises(spark, sf_dir, tmp_path):
    """r9 advice: with the id-only fingerprint, an anonymous append of
    a genuinely DIFFERENT batch reusing committed vec-ids (re-encoded
    vectors) silently no-op'd — unnoticed data loss. The content id
    now folds in a vector digest: a true retry still no-ops, the
    re-encoded batch raises, and a round-9-era legacy 2-part id is
    still recognized as committed."""
    import json
    import os

    import pytest

    from play_with_pulsar_spark.operators import similarity

    v = _clustered(spark, sf_dir)
    corpus = v.filter(F.col("vec_id") >= 100)
    batch = v.filter(F.col("vec_id") < 100)
    reenc = batch.withColumn(
        "embedding", F.transform("embedding", lambda x: x * 2.0)
    )
    p = str(tmp_path / "ivf_reenc")
    similarity.ivf_build_index(
        corpus, p, n_cells=8,
        cents=similarity.ivf_fit_centroids(corpus, n_cells=8, seed=42),
    )
    assert similarity.ivf_append_index(spark, p, batch)
    assert not similarity.ivf_append_index(spark, p, batch)  # true retry
    with pytest.raises(ValueError, match="DIFFERENT vector content"):
        similarity.ivf_append_index(spark, p, reenc)
    # legacy 2-part content id (r9 format) committed -> retry no-ops
    store = VersionedStore(spark, p)
    committed = store.appends(store.live())
    full = [b for b in committed if b.startswith("auto_")][0]
    legacy = full.rsplit("_", 1)[0]
    with open(os.path.join(store.path(store.live()), "appends.json"), "w") as f:
        json.dump([legacy if b == full else b for b in committed], f)
    assert not similarity.ivf_append_index(spark, p, batch)


def test_kcenter_seeds_golden(spark):
    """Gonzalez greedy on a line: 0, 1, 2, 10, 20 — picks the two
    extremes then the midpoint outlier, with exact radii."""
    pts = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [2.0, 0.0]),
           (3, [10.0, 0.0]), (4, [20.0, 0.0])]
    emb = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    got = [(r.seed_rank, r.vec_id, r.dist)
           for r in clustering.kcenter_seeds(emb, k=3).collect()]
    assert got == [(1, 0, 0.0), (2, 4, 20.0), (3, 3, 10.0)]


def test_kcenter_seeds_degenerate_inputs(spark):
    """ADVICE r10 (low): k beyond the distinct vectors stops early
    (never re-picks a seed at distance 0); empty input raises; the
    vec_id output type follows the input id column."""
    import pytest as _pt

    dup = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = [(r.seed_rank, r.vec_id, r.dist)
           for r in clustering.kcenter_seeds(dup, k=5).collect()]
    assert got == [(1, 0, 0.0), (2, 2, 5.0)]  # 2 distinct -> 2 seeds
    assert len({v for _, v, _ in got}) == len(got)

    empty = dup.limit(0)
    with _pt.raises(ValueError, match="empty input"):
        clustering.kcenter_seeds(empty, k=2)

    sid = spark.createDataFrame(
        [("a", [0.0]), ("b", [3.0])], "vec_id string, embedding array<float>"
    )
    out = clustering.kcenter_seeds(sid, k=2)
    assert dict(out.dtypes)["vec_id"] == "string"
    assert [(r.vec_id, r.dist) for r in out.collect()] == [("a", 0.0), ("b", 3.0)]
