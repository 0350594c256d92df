"""Curator compaction on every screen: reads stay transparent across a
compaction, the manifest keeps its layout (keys, catalog table names,
bucket keys), old versions leave the catalog, and the export ships no
evicted or uncommitted rows."""

from __future__ import annotations

import math
import os
import shutil

import pytest

from play_with_pulsar_spark.streaming.curator import StreamingCorpusCurator

RUN = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"  # 12 toks


def _w(seed: int, n: int = 30) -> str:
    # unique-vocabulary doc: no shingle overlap across seeds
    return " ".join(f"w{seed}x{i}" for i in range(n))


def _deg(d: float) -> list[float]:
    return [math.cos(math.radians(d)), math.sin(math.radians(d))]


# batch 1 near-dups an accepted doc of batch 0; batch 2 near-dups one
# that is in the compacted tier by then, and one of batch 1
TEXT = [
    [(1, _w(1), 1.0), (2, _w(2), 1.0)],
    [(3, _w(1), 2.0), (4, _w(4), 1.0)],
    [(5, _w(2), 3.0), (6, _w(4), 0.5), (7, _w(7), 1.0)],
]
SUBSTR = [
    [(1, RUN + " one two three four five", 1.0), (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", 1.0)],
    [(3, "x1 x2 x3 x4 x5 " + RUN, 1.0), (4, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10", 1.0)],
    [(5, "y1 y2 " + RUN + " y3", 1.0), (6, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", 1.0)],
]
EMB = [
    [(1, _deg(0)), (2, _deg(90))],
    [(3, _deg(1)), (4, _deg(200))],
    [(5, _deg(91)), (6, _deg(300))],
]
EMB_ARGS = dict(screen="embedding", emb_dim=2, threshold=0.95, num_planes=2, num_tables=16)

# case -> (constructor args, accepted ids, policy record, {tier: (catalog
# table suffix or None for plain parquet, dir under v0/, bucket keys)})
MONITORS = {"hll": (None, "hll", None), "hdr": (None, "hdr", None)}
CASES = {
    "jaccard": (
        dict(screen="jaccard"),
        {1, 2, 4, 7},
        {"retention": "first"},
        {
            "grams": ("grams_by_g", "grams_by_g", ["g"]),
            "df": ("df_by_g", "df_by_g", ["g"]),
            **MONITORS,
        },
    ),
    "jaccard_best": (
        dict(screen="jaccard", retention="best", score_col="score"),
        {3, 4, 5, 7},
        {"retention": "best", "score_col": "score"},
        {
            "grams": ("grams_by_g", "grams_by_g", ["g"]),
            "df": ("df_by_g", "df_by_g", ["g"]),
            **MONITORS,
        },
    ),
    "minhash": (
        dict(screen="minhash"),
        {1, 2, 4, 7},
        {"retention": "first"},
        {
            "grams": ("grams", "idx_grams", ["doc_id"]),
            "banded": ("banded", "idx_banded", ["band", "bucket"]),
            **MONITORS,
        },
    ),
    "simhash": (
        dict(screen="simhash"),
        {1, 2, 4, 7},
        {"retention": "first", "sh_hash_fn": "xxhash64", "max_hamming": 3, "sh_blocks": 4},
        {"shsig": (None, "shsig", None), "hdr": (None, "hdr", None)},
    ),
    "substr": (
        dict(screen="substr"),
        {1, 2, 3, 4, 5, 6},
        {"retention": "first", "substr_n": 5, "winnow_w": 8},
        {"anchors": ("anchors", "anchors", ["gh", "g"]), "hdr": (None, "hdr", None)},
    ),
    "embedding": (
        EMB_ARGS,
        {1, 2, 4, 6},
        {
            "retention": "first",
            "geometry": {"num_planes": 2, "num_tables": 16},
            "vec_format": "int8",
        },
        {
            "vec": ("vec", "idx_vec", ["vec_id"]),
            "sig": ("sig", "idx_sig", ["tbl", "bucket"]),
        },
    ),
}


def _batches(spark, case: str):
    if case == "embedding":
        return [spark.createDataFrame(r, "doc_id long, embedding array<double>") for r in EMB]
    rows = SUBSTR if case == "substr" else TEXT
    return [spark.createDataFrame(r, "doc_id long, text string, score double") for r in rows]


def _rows(df):
    return sorted(map(tuple, df.select(sorted(df.columns)).collect()))


@pytest.mark.parametrize("case", list(CASES))
def test_compaction_is_transparent_on_every_screen(spark, tmp_path, case):
    """Two batches, compact, a third batch: every read equals an
    uncompacted twin's, and the manifest keeps its layout."""
    args, ids, policy, tiers = CASES[case]
    cur = StreamingCorpusCurator(spark, str(tmp_path / "c"), n_buckets=4, **args)
    twin = StreamingCorpusCurator(spark, str(tmp_path / "t"), n_buckets=4, **args)
    b = _batches(spark, case)
    for i in range(2):
        cur.process_batch(b[i], i)
        twin.process_batch(b[i], i)
    assert cur.compact()
    cur.process_batch(b[2], 2)
    twin.process_batch(b[2], 2)

    acc = _rows(cur.accepted())
    assert acc == _rows(twin.accepted())
    assert {r[0] for r in acc} == ids  # doc_id sorts first
    if args["screen"] in ("jaccard", "minhash"):
        assert cur.vocab_estimate() == twin.vocab_estimate()
    if args["screen"] != "embedding":
        assert cur.length_quantiles() == twin.length_quantiles()

    v0 = os.path.join(cur.base_dir, "compacted", "v0")
    pfx = f"{cur.catalog_prefix}_v0"
    want = {
        "version": 0,
        "covered_upto": 1,
        "n_buckets": 4,
        "accepted_path": os.path.join(v0, "accepted"),
        "banded": None,
        **policy,
    }
    for name, (table, path, keys) in tiers.items():
        want[name] = {"path": os.path.join(v0, path)}
        if table is not None:
            want[name].update(table=f"{pfx}_{table}", keys=keys)
            assert spark.catalog.tableExists(f"{pfx}_{table}")
    assert cur._manifest() == want


def test_compaction_drops_old_version_tables_on_substr(spark, tmp_path):
    """Dropping a version two compactions old removes its catalog
    tables too: every table suffix comes from the tier table, so the
    substr screen's anchors table no longer outlives its files."""
    cur = StreamingCorpusCurator(spark, str(tmp_path / "c"), screen="substr", n_buckets=4)
    for i, b in enumerate(_batches(spark, "substr")):
        cur.process_batch(b, i)
        assert cur.compact()
    pfx = cur.catalog_prefix
    assert sorted(os.listdir(cur.compacted_dir)) == ["v1", "v2"]
    assert not spark.catalog.tableExists(f"{pfx}_v0_anchors")
    assert spark.catalog.tableExists(f"{pfx}_v1_anchors")
    assert spark.catalog.tableExists(f"{pfx}_v2_anchors")


def test_embedding_export_ships_no_evicted_or_uncommitted_vectors(spark, tmp_path):
    """retention='best' on the embedding screen: the exported _vec and
    _sig tables hold the vectors accepted() holds — an evicted
    incumbent is not shipped — and an uncommitted batch dir is not
    read."""
    from pyspark.sql import functions as F

    def vx(rows):  # (id, cluster, score)
        import numpy as np

        out = []
        for i, c, s in rows:
            base = [0.0] * 8
            base[c] = 1.0
            rng = np.random.RandomState(i)
            out.append((i, [float(b + 0.05 * g) for b, g in zip(base, rng.randn(8))], float(s)))
        return spark.createDataFrame(out, "vec_id long, embedding array<double>, score double")

    cur = StreamingCorpusCurator(
        spark, str(tmp_path / "c"), screen="embedding", emb_dim=8,
        threshold=0.9, id_col="vec_id", retention="best", score_col="score",
    )
    cur.process_batch(vx([(10, 0, 1.0), (11, 1, 5.0)]), 0)
    cur.process_batch(vx([(5, 0, 3.0)]), 1)  # evicts 10
    # a crashed batch 2: its vec rows are on disk, its marker is not
    cur.process_batch(vx([(77, 3, 1.0)]), 2)
    for tier in ("accepted", "vec", "sig"):
        os.remove(os.path.join(cur._batch_dir(getattr(cur, f"{tier}_dir"), 2), "_SUCCESS"))
    assert {r.vec_id for r in cur.accepted().collect()} == {5, 11}
    prefix = "pwp_cur_emb_export"
    cur.export_bucketed_index(prefix, n_buckets=4)
    try:
        for t in ("vec", "sig"):
            got = spark.table(f"{prefix}_{t}").select(F.col("vec_id"))
            assert {r.vec_id for r in got.distinct().collect()} == {5, 11}, t
        assert spark.table(f"{prefix}_vec").columns == ["vec_id", "v", "nv"]
    finally:
        for t in ("vec", "sig"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
        shutil.rmtree(str(tmp_path / "c"), ignore_errors=True)
