"""End-to-end crawl-loop integration (round 6): the production
composition of this engine's curation pieces on one seeded workload —

  quality filter (persisted model) → streaming dedup curator →
  IVF append per accepted batch → drift / imbalance monitors →
  rebalance cutover → deterministic shard export → content audit

Each piece has its own unit/parity suite; this test pins that they
COMPOSE: hand-offs (model sidecar, curator state, index manifest)
survive across batches and the final corpus is exactly the set the
individual contracts predict.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from play_with_pulsar_spark.operators import classifier, curation, layout, similarity
from play_with_pulsar_spark.streaming.batch_dirs import VersionedStore
from play_with_pulsar_spark.streaming.curator import StreamingCorpusCurator

DIM = 8


def _mk_docs(spark, rows):
    """rows: (doc_id, text, vec)"""
    return spark.createDataFrame(
        [(i, t, [float(x) for x in v]) for i, t, v in rows],
        "doc_id long, text string, embedding array<double>",
    )


def _texts(rng, n, n_words, prefix):
    vocab = ["data", "query", "join", "scan", "merge", "stream", "table",
             "batch", "vector", "shard"]
    out = []
    for i in range(n):
        words = [vocab[rng.randint(len(vocab))] for _ in range(n_words)]
        out.append(f"{prefix}{i} " + " ".join(words))
    return out


def test_crawl_loop_composes(spark, tmp_path):
    rng = np.random.RandomState(17)
    # mutually-distinct seed vectors (random 8-dim directions: pairwise
    # cosine stays far below the 0.95 dedup threshold)
    seed_vecs = rng.randn(30, DIM)

    # --- day 0: seed corpus (all long/high-quality), fit + persist the
    # quality model, stand up curator state and the IVF index
    seed_rows = [
        (i, t, seed_vecs[i])
        for i, t in enumerate(_texts(rng, 30, 60, "seed"))
    ]
    seed = _mk_docs(spark, seed_rows).cache()
    # the TRAINING frame needs both classes: the long accepted seed
    # plus short junk examples (never enter the curator)
    train_docs = seed.select("doc_id", "text").unionByName(
        _mk_docs(
            spark,
            [(9000 + j, t, np.zeros(DIM)) for j, t in enumerate(_texts(rng, 15, 2, "junk"))],
        ).select("doc_id", "text")
    )
    raw = classifier.quality_features(train_docs, label=F.length("text") >= 200)
    stats = classifier.feature_stats(raw)
    w = classifier.logreg_fit(classifier.standardize(raw, stats), iters=8, lr=2.0)
    model_path = str(tmp_path / "model.json")
    classifier.save_model(model_path, w, stats)

    cur = StreamingCorpusCurator(
        spark, str(tmp_path / "curator"), screen="embedding", emb_dim=DIM,
        threshold=0.95, expected_corpus=500,
    )
    cur.process_batch(seed.select("doc_id", "embedding"), 0)

    ivf_path = str(tmp_path / "ivf")
    similarity.ivf_build_index(
        seed.select("doc_id", "embedding"), ivf_path, n_cells=4, seed=1,
        id_col="doc_id", vec_col="embedding",
    )
    accepted_ids = {r.doc_id for r in cur.accepted().collect()}
    assert accepted_ids == {r[0] for r in seed_rows}

    # --- crawl days: each batch mixes junk (short text), duplicates of
    # accepted content (same latent vector), and fresh documents
    w2, stats2 = classifier.load_model(model_path)
    n_fresh_expected = 0
    for day in (1, 2):
        fresh = [
            (1000 * day + j, t, rng.randn(DIM) * 1.2)
            for j, t in enumerate(_texts(rng, 10, 60, f"d{day}f"))
        ]
        dups = [
            (2000 * day + j, t, seed_vecs[j] + 0.005 * rng.randn(DIM))
            for j, t in enumerate(_texts(rng, 5, 60, f"d{day}dup"))
        ]
        junk = [
            (3000 * day + j, f"j{j}", rng.randn(DIM))
            for j in range(5)
        ]
        batch = _mk_docs(spark, fresh + dups + junk)

        # 1. quality gate: stateless projection with the PERSISTED model
        scored = classifier.logreg_score(
            classifier.standardize(
                classifier.quality_features(batch.select("doc_id", "text")), stats2
            ),
            w2,
        )
        good = batch.join(
            scored.filter(F.col("score") >= 0.5).select("doc_id"), "doc_id", "semi"
        ).cache()
        good_ids = {r.doc_id for r in good.select("doc_id").collect()}
        assert all(i < 3000 * day or i >= 3000 * day + 5 for i in good_ids)  # junk gone
        assert all(i in good_ids for i, _, _ in fresh + dups)  # long docs survive

        # 2. dedup screen: duplicates of ACCEPTED content are rejected,
        # fresh vectors are accepted and indexed
        cur.process_batch(good.select("doc_id", "embedding"), day)
        now_accepted = {r.doc_id for r in cur.accepted().collect()}
        new_ids = now_accepted - accepted_ids
        assert {i for i, _, _ in fresh} <= new_ids
        assert not ({i for i, _, _ in dups} & new_ids)
        accepted_ids = now_accepted
        n_fresh_expected += len(fresh)

        # 3. index maintenance: append exactly the newly accepted rows,
        # idempotently (a replay of the same batch id is a no-op)
        newly = good.filter(F.col("doc_id").isin([int(i) for i in new_ids]))
        assert similarity.ivf_append_index(
            spark, ivf_path, newly.select("doc_id", "embedding"),
            id_col="doc_id", vec_col="embedding", batch_id=f"day-{day}",
        )
        assert not similarity.ivf_append_index(
            spark, ivf_path, newly.select("doc_id", "embedding"),
            id_col="doc_id", vec_col="embedding", batch_id=f"day-{day}",
        )
        good.unpersist()

    total = sum(r.n for r in similarity.ivf_cell_stats(spark, ivf_path).collect())
    assert total == len(accepted_ids) == 30 + n_fresh_expected

    # 4. monitors: fresh crawl vectors (wider distribution) vs seed —
    # the drift report runs and the summary row is present
    drift = similarity.embedding_drift(
        seed.select("embedding"),
        _mk_docs(spark, [(0, "x", rng.randn(DIM) * 1.2) for _ in range(20)]).select("embedding"),
        dim=DIM,
    ).collect()
    assert any(r.dim == -1 for r in drift) and len(drift) == DIM + 1
    imb_before = similarity.ivf_imbalance(spark, ivf_path)

    # 5. rebalance cutover: full-probe results identical, manifest reset
    queries = seed.select("doc_id", "embedding").limit(5)

    def probe():
        return {
            (r.query_id, r.rn): r.neighbor_id
            for r in similarity.ivf_query_index(
                spark, ivf_path, queries, k=3, nprobe=4,
                id_col="doc_id", vec_col="embedding",
            ).collect()
        }

    before = probe()
    similarity.ivf_rebalance_index(
        spark, ivf_path, iters=2, id_col="doc_id", vec_col="embedding"
    )
    assert probe() == before
    store = VersionedStore(spark, ivf_path)
    assert store.appends(store.live()) == []
    assert sum(r.n for r in similarity.ivf_cell_stats(spark, ivf_path).collect()) == total
    # imbalance IMPROVEMENT under drift is proven by
    # test_ivf_rebalance_cutover; this corpus is near-uniform, so only
    # sanity-bound the refit here
    assert similarity.ivf_imbalance(spark, ivf_path) < 2.5

    # 6. export + audit: deterministic shards of the accepted corpus,
    # and the fingerprint certifies the export carried every row
    acc = cur.accepted().select(F.col("doc_id"))
    shard_dir = str(tmp_path / "shards")
    curation.write_training_shards(acc, shard_dir, n_shards=4)
    exported = spark.read.parquet(shard_dir).select("doc_id")
    fp_src = layout.dataset_fingerprint(acc, ["doc_id"]).collect()[0]
    fp_out = layout.dataset_fingerprint(exported, ["doc_id"]).collect()[0]
    assert (fp_src.n_rows, fp_src.fp) == (fp_out.n_rows, fp_out.fp)
    seed.unpersist()
