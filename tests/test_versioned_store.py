"""The versioned store behind every table that swaps whole versions
(``batch_dirs.VersionedStore``): the latest-state view, the IVF index
and the IVF-PQ index share one crash and retention contract."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from play_with_pulsar_spark.operators import pq, similarity
from play_with_pulsar_spark.operators.matview import LatestStateView


def _vectors(spark, n=48, dim=8):
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(2, dim)) * 4
    rows = [
        (i, [float(x) for x in centers[i % 2] + rng.normal(size=dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class _View:
    """Each cutover is an update with one new key."""

    def __init__(self, spark, root):
        self.spark, self.n = spark, 0
        self.view = LatestStateView(spark, root, ["k"], ["o"])

    def cutover(self):
        self.view.update(
            self.spark.createDataFrame(
                pd.DataFrame([{"k": f"k{self.n}", "o": self.n}]), "k string, o long"
            )
        )
        self.n += 1

    build = cutover

    def rows(self):
        return sorted(r.k for r in self.view.read().collect())


class _Ivf:
    """Each cutover is a rebalance; the rows are the indexed ids."""

    def __init__(self, spark, root):
        self.spark, self.root = spark, root
        self.corpus = _vectors(spark)

    def build(self):
        similarity.ivf_build_index(self.corpus, self.root, n_cells=2)

    def cutover(self):
        similarity.ivf_rebalance_index(self.spark, self.root, iters=1)

    def rows(self):
        return sum(r.n for r in similarity.ivf_cell_stats(self.spark, self.root).collect())


class _Pq(_Ivf):
    """Each cutover is a rebalance; the rows are one full probe."""

    def build(self):
        pq.pq_write_index(self.spark, self.root, self.corpus, n_cells=2, m=2, k_sub=4)

    def cutover(self):
        pq.pq_rebalance_index(self.spark, self.root, self.corpus)

    def rows(self):
        q = self.corpus.filter(F.col("vec_id") == 0)
        return sorted(
            r.neighbor_id
            for r in pq.pq_query_index(self.spark, self.root, q, k=100, nprobe=2).collect()
        )


def _on_disk(root):
    with open(os.path.join(root, "current")) as f:
        live = f.read()
    return live, sorted(d for d in os.listdir(root) if d.startswith("v"))


@pytest.mark.parametrize("kind", [_View, _Ivf, _Pq], ids=["view", "ivf", "ivf_pq"])
def test_cutover_clears_a_crashed_stage_and_keeps_one_grace_version(spark, tmp_path, kind):
    root = str(tmp_path / "store")
    store = kind(spark, root)
    store.build()
    before = store.rows()
    # a crashed cutover: v1 staged with a stray batch dir no append
    # record lists, the pointer never flipped
    stray = os.path.join(root, "v1", "batches", "stray")
    spark.range(3).write.parquet(stray)
    assert _on_disk(root) == ("v0", ["v0", "v1"])
    assert store.rows() == before  # invisible to readers

    store.cutover()  # clears the stage, then commits v1
    assert not os.path.exists(stray)
    assert _on_disk(root) == ("v1", ["v0", "v1"])  # v0 kept as reader grace
    if kind is not _View:
        assert store.rows() == before

    store.cutover()  # the next cutover prunes v0
    assert _on_disk(root) == ("v2", ["v1", "v2"])
