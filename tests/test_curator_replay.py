"""Partial-commit replay for every curator screen: a batch redelivered
after losing its first index tier rewrites exactly that tier, from the
same decision, and leaves the accepted corpus unchanged."""

from __future__ import annotations

import math
import shutil

import pytest

from play_with_pulsar_spark.streaming.curator import StreamingCorpusCurator

# each screen's first index tier: the one whose batch-dirs drive compaction
PRIMARY = {
    "jaccard": "grams_dir",
    "minhash": "grams_dir",
    "simhash": "shsig_dir",
    "substr": "anchors_dir",
    "embedding": "vec_dir",
}
RUN = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"  # 12 toks


def _w(seed: int, n: int = 30) -> str:
    # unique-vocabulary doc: no shingle overlap across seeds
    return " ".join(f"w{seed}x{i}" for i in range(n))


def _deg(d: float) -> list[float]:
    return [math.cos(math.radians(d)), math.sin(math.radians(d))]


def _text_batches(spark, screen: str):
    if screen == "substr":
        rows = [
            [(1, RUN + " one two three four five"), (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")],
            # doc 3 repeats the run doc 1 claimed, doc 4 is fresh
            [(3, "x1 x2 x3 x4 x5 " + RUN), (4, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10")],
        ]
    else:
        # batch 1: doc 3 duplicates the accepted doc 1, doc 4 is fresh
        rows = [[(1, _w(1)), (2, _w(2))], [(3, _w(1)), (4, _w(4))]]
    return [spark.createDataFrame(r, "doc_id long, text string") for r in rows]


def _emb_batches(spark):
    rows = [[(1, _deg(0)), (2, _deg(90))], [(3, _deg(1)), (4, _deg(200))]]
    return [
        spark.createDataFrame(r, "doc_id long, embedding array<double>")
        for r in rows
    ]


@pytest.mark.parametrize("screen", list(PRIMARY))
def test_partial_commit_replay_every_screen(spark, tmp_path, screen):
    if screen == "embedding":
        cur = StreamingCorpusCurator(
            spark, str(tmp_path / "c"), screen="embedding", emb_dim=2,
            threshold=0.95, num_planes=2, num_tables=16,
        )
        batches = _emb_batches(spark)
    else:
        cur = StreamingCorpusCurator(spark, str(tmp_path / "c"), screen=screen)
        batches = _text_batches(spark, screen)
    for i, b in enumerate(batches):
        cur.process_batch(b, i)
    primary = cur._batch_dir(getattr(cur, PRIMARY[screen]), 1)
    accepted = sorted(cur.accepted().collect())
    tier_rows = sorted(spark.read.parquet(primary).collect())
    assert len(accepted) == (4 if screen == "substr" else 3)

    shutil.rmtree(primary)  # the crash lost batch 1's first index tier
    cur.process_batch(batches[1], 1)  # redelivery

    assert sorted(cur.accepted().collect()) == accepted
    assert sorted(spark.read.parquet(primary).collect()) == tier_rows
