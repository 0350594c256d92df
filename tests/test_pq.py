"""Product quantization (operators/pq.py) — codebook/encode/ADC/
re-rank laws and recall floors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from play_with_pulsar_spark.operators import pq
from play_with_pulsar_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def books(spark, emb):
    return pq.pq_fit(emb, m=8, k_sub=16, iters=1)


def _exact_top10(emb, n_queries=10):
    pdf = emb.toPandas()
    M = np.stack(pdf.embedding.to_numpy()).astype(float)
    ids = pdf.vec_id.to_numpy()
    out = {}
    for q in range(n_queries):
        qv = M[ids == q][0]
        d = ((M - qv) ** 2).sum(1)
        order = np.argsort(d, kind="stable")
        out[q] = [int(ids[i]) for i in order if ids[i] != q][:10]
    return out


def test_codebook_shape_and_code_bounds(spark, emb, books):
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(cv) == 8 for b in books for _, cv in b)
    codes = pq.pq_encode(emb, books)
    row = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("n1"),
        F.max(F.size("codes")).alias("n2"),
    ).collect()[0]
    assert row["lo"] >= 0 and row["hi"] <= 15 and row["n1"] == row["n2"] == 8


def test_encode_is_shuffle_free(spark, emb, books):
    # numpy kernel: Arrow stage, still zero exchanges (rides the scan)
    plan = pq.pq_encode(emb, books)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dim_must_divide(spark, emb):
    with pytest.raises(ValueError):
        pq.pq_fit(emb, m=7)


def test_adc_recall_floor_and_rerank_improves(spark, emb, books):
    exact = _exact_top10(emb)
    codes = pq.pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 10)
    adc = pq.pq_adc_topk(codes, books, queries, k=10).toPandas()
    rer = pq.pq_rerank_topk(codes, books, queries, emb, k=10, shortlist=50).toPandas()

    def recall(df):
        per_q = []
        for q, ex in exact.items():
            got = df[df.query_id == q].neighbor_id.tolist()
            per_q.append(len(set(ex) & set(got)) / 10)
        return sum(per_q) / len(per_q)

    r_adc, r_rer = recall(adc), recall(rer)
    # measured on this fixture: adc ~0.34, rerank ~0.71 — PQ at 32x
    # compression on unstructured vectors; floors leave noise margin
    assert r_adc >= 0.2, r_adc
    assert r_rer >= 0.55, r_rer
    assert r_rer > r_adc


def test_rerank_is_exact_within_shortlist(spark, emb, books):
    # every reranked hit must also be the true nearest among the
    # shortlist: recompute the exact distance locally and check order
    codes = pq.pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 3)
    rer = pq.pq_rerank_topk(codes, books, queries, emb, k=5, shortlist=20).toPandas()
    pdf = emb.toPandas()
    M = {int(r.vec_id): np.array(r.embedding, dtype=float) for r in pdf.itertuples()}
    for q in range(3):
        rows = rer[rer.query_id == q].sort_values("rn")
        dists = [np.linalg.norm(M[q] - M[int(n)]) for n in rows.neighbor_id]
        assert dists == sorted(dists)


def test_fused_fit_equals_per_subspace(spark, emb):
    b1 = pq.pq_fit(emb, m=8, k_sub=16, iters=2, strategy="fused")
    b2 = pq.pq_fit(emb, m=8, k_sub=16, iters=2, strategy="per_subspace")
    assert b1 == b2


def test_encode_and_adc_cross_kernel_parity(spark, emb, books):
    c_np = pq.pq_encode(emb, books, strategy="numpy")
    c_sql = pq.pq_encode(emb, books, strategy="sql")
    a = sorted((r["vec_id"], tuple(r["codes"])) for r in c_np.collect())
    b = sorted((r["vec_id"], tuple(r["codes"])) for r in c_sql.collect())
    assert a == b
    q = emb.filter(F.col("vec_id") < 5)
    t_np = pq.pq_adc_topk(c_np, books, q, k=10, strategy="numpy").collect()
    t_sql = pq.pq_adc_topk(c_np, books, q, k=10, strategy="sql").collect()
    assert sorted(map(tuple, t_np)) == sorted(map(tuple, t_sql))


def test_sql_encode_is_pure_projection(spark, emb, books):
    plan = (
        pq.pq_encode(emb, books, strategy="sql")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan and "InPandas" not in plan


def test_ivf_pq_full_probe_equals_plain_adc(spark, emb, books):
    # with nprobe == n_cells there is no pruning: IVF-PQ must rank
    # exactly like plain ADC over the same deterministic codebooks
    q = emb.filter(F.col("vec_id") < 5)
    full = pq.ivf_pq_topk(emb, q, n_cells=4, nprobe=4, m=8, k_sub=16, k=10)
    codes = pq.pq_encode(emb, books)
    plain = pq.pq_adc_topk(codes, books, q, k=10)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, plain.collect()))


def test_ivf_pq_candidates_only_from_probed_cells(spark, emb):
    from play_with_pulsar_spark.operators.clustering import kmeans_assign, kmeans_fit

    cents = kmeans_fit(emb, k=8, iters=1)
    cells = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, cents).collect()}
    out = pq.ivf_pq_topk(emb, emb.filter(F.col("vec_id") < 5),
                         n_cells=8, nprobe=2, m=8, k_sub=16, k=10).collect()
    # each query's neighbors span at most nprobe distinct cells
    from collections import defaultdict

    per_q = defaultdict(set)
    for r in out:
        per_q[r["query_id"]].add(cells[r["neighbor_id"]])
    assert all(len(cs) <= 2 for cs in per_q.values())


# ---------------------------------------------------------------------
# materialized IVF-PQ index lifecycle (round 8 — r7 verdict #3)

def test_pq_index_stored_equals_in_memory(spark, emb, tmp_path):
    q = emb.filter(F.col("vec_id") < 5)
    mem = sorted(map(tuple, pq.ivf_pq_topk(
        emb, q, n_cells=8, nprobe=2, m=8, k_sub=16, k=10).collect()))
    pq.pq_write_index(spark, str(tmp_path / "idx"), emb, n_cells=8, m=8, k_sub=16)
    st = sorted(map(tuple, pq.pq_query_index(
        spark, str(tmp_path / "idx"), q, k=10, nprobe=2).collect()))
    assert st == mem and len(st) == 50


def test_pq_index_append_law_and_idempotence(spark, emb, tmp_path):
    """FAISS `add` semantics: write(A)+append(B) == write(data=A∪B,
    fit_on=A) — the quantizers are frozen, so an appended index is
    indistinguishable from one built with the same quantizers on all
    the data. Replaying a committed batch_id is a no-op."""
    A = emb.filter(F.col("vec_id") % 4 != 0)
    B = emb.filter(F.col("vec_id") % 4 == 0)
    q = emb.filter(F.col("vec_id") < 5)
    pq.pq_write_index(spark, str(tmp_path / "full"), emb, fit_on=A,
                      n_cells=8, m=8, k_sub=16)
    pq.pq_write_index(spark, str(tmp_path / "inc"), A, n_cells=8, m=8, k_sub=16)
    assert pq.pq_append_index(spark, str(tmp_path / "inc"), B, batch_id="b0")
    assert not pq.pq_append_index(spark, str(tmp_path / "inc"), B, batch_id="b0")
    x1 = sorted(map(tuple, pq.pq_query_index(
        spark, str(tmp_path / "full"), q, k=10, nprobe=2).collect()))
    x2 = sorted(map(tuple, pq.pq_query_index(
        spark, str(tmp_path / "inc"), q, k=10, nprobe=2).collect()))
    assert x1 == x2 and len(x1) == 50


def test_pq_index_rebalance_cutover(spark, emb, tmp_path):
    """Quantizer swap: rebalance refits BOTH stages on the canonical
    corpus, bumps the codebook version in meta, flips the pointer
    atomically, keeps one superseded version as reader grace, and the
    probes equal a fresh full-corpus build."""
    import json
    import os

    A = emb.filter(F.col("vec_id") % 4 != 0)
    B = emb.filter(F.col("vec_id") % 4 == 0)
    q = emb.filter(F.col("vec_id") < 5)
    root = str(tmp_path / "idx")
    pq.pq_write_index(spark, root, A, n_cells=8, m=8, k_sub=16)
    pq.pq_append_index(spark, root, B, batch_id="b0")
    v = pq.pq_rebalance_index(spark, root, emb)
    assert v == 1
    with open(os.path.join(root, "current")) as f:
        assert f.read().strip() == "v1"
    assert json.load(open(os.path.join(root, "v1", "meta.json")))["version"] == 1
    assert os.path.isdir(os.path.join(root, "v0"))  # reader grace
    pq.pq_write_index(spark, str(tmp_path / "fresh"), emb, n_cells=8, m=8, k_sub=16)
    assert sorted(map(tuple, pq.pq_query_index(spark, root, q, k=10, nprobe=2).collect())) == \
        sorted(map(tuple, pq.pq_query_index(spark, str(tmp_path / "fresh"), q, k=10, nprobe=2).collect()))
    # a second rebalance prunes v0 (older than the superseded v1)
    pq.pq_rebalance_index(spark, root, emb)
    assert not os.path.isdir(os.path.join(root, "v0"))
    assert os.path.isdir(os.path.join(root, "v1"))


def test_pq_index_crash_window_replay(spark, emb, tmp_path):
    """Crash between the batch-dir write and the manifest flip: the
    batch id is not committed, readers do not see the partial rows,
    and the replayed append overwrites the same dir exactly-once."""
    import json
    import os

    A = emb.filter(F.col("vec_id") % 4 != 0)
    B = emb.filter(F.col("vec_id") % 4 == 0)
    q = emb.filter(F.col("vec_id") < 5)
    root = str(tmp_path / "idx")
    pq.pq_write_index(spark, root, A, n_cells=8, m=8, k_sub=16)
    pq.pq_append_index(spark, root, B, batch_id="b0")
    base = sorted(map(tuple, pq.pq_query_index(spark, root, q, k=10, nprobe=2).collect()))
    # simulate the crash window: rewind the manifest (dir stays)
    mf = os.path.join(root, "v0", "appends.json")
    with open(mf, "w") as f:
        json.dump([], f)
    pre = sorted(map(tuple, pq.pq_query_index(spark, root, q, k=10, nprobe=2).collect()))
    assert pre != base  # uncommitted rows invisible
    assert pq.pq_append_index(spark, root, B, batch_id="b0")  # replay
    post = sorted(map(tuple, pq.pq_query_index(spark, root, q, k=10, nprobe=2).collect()))
    assert post == base


def test_pq_index_query_kernel_parity(spark, emb, tmp_path):
    """The stored-probe numpy LUT kernel returns exactly the sql
    kernel's rows (same rounding protocol, tie-inclusive lexsorted
    cut) — the throughput path carries the same hash."""
    q = emb.filter(F.col("vec_id") < 5)
    pq.pq_write_index(spark, str(tmp_path / "i"), emb, n_cells=8, m=8, k_sub=16)
    a = sorted(map(tuple, pq.pq_query_index(
        spark, str(tmp_path / "i"), q, k=10, nprobe=2).collect()))
    b = sorted(map(tuple, pq.pq_query_index(
        spark, str(tmp_path / "i"), q, k=10, nprobe=2, kernel="numpy").collect()))
    assert a == b and len(a) == 50


def test_pq_append_without_batch_id_is_idempotent(spark, emb, tmp_path):
    """r8 advice: batch_id=None used to mode('append') into a shared
    _legacy dir — a retried append duplicated every vector and the
    duplicates took extra row_number ranks in pq_query_index. The
    content-derived id makes the retry a committed no-op and the
    probe results identical to a single append."""
    A = emb.filter(F.col("vec_id") % 4 != 0)
    B = emb.filter(F.col("vec_id") % 4 == 0)
    q = emb.filter(F.col("vec_id") < 5)
    root = str(tmp_path / "anon")
    pq.pq_write_index(spark, root, A, n_cells=8, m=8, k_sub=16)
    assert pq.pq_append_index(spark, root, B)
    # the retry (crash-replay of the same anonymous batch) is a no-op
    assert not pq.pq_append_index(spark, root, B)
    ref_root = str(tmp_path / "named")
    pq.pq_write_index(spark, ref_root, A, n_cells=8, m=8, k_sub=16)
    pq.pq_append_index(spark, ref_root, B, batch_id="b0")
    x1 = sorted(map(tuple, pq.pq_query_index(spark, root, q, k=10, nprobe=2).collect()))
    x2 = sorted(map(tuple, pq.pq_query_index(spark, ref_root, q, k=10, nprobe=2).collect()))
    assert x1 == x2 and len(x1) == 50
    # no duplicate (vec_id) rows anywhere in the stored codes
    from play_with_pulsar_spark.streaming.batch_dirs import VersionedStore

    store = VersionedStore(spark, root)
    codes = store.read(store.live(), "codes")
    assert codes.count() == codes.select("vec_id").distinct().count()


# ------------------------------------------------------- OPQ rotation
def test_fwht_rotation_is_orthonormal_and_isometric(spark):
    """W/√d must be exactly orthonormal (H·Hᵀ = d·I with the sign
    diagonal folded in), and the Spark rotation must preserve
    pairwise distances — ADC in rotated space keeps its meaning."""
    d = 64
    w = np.array(pq.hadamard_weights(d, pq.opq_signs(d)), dtype=np.float64)
    assert np.array_equal(w @ w.T, d * np.eye(d))
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(6, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rot = {
        r.vec_id: np.array(r.embedding)
        for r in pq.fwht_rotate(df, dim=d).collect()
    }
    for i in range(6):
        for j in range(i + 1, 6):
            a = np.linalg.norm(vecs[i].astype(np.float64) - vecs[j].astype(np.float64))
            b = np.linalg.norm(rot[i] - rot[j])
            assert abs(a - b) < 1e-9, (i, j, a, b)


def test_fwht_rotation_spreads_subspace_variance(spark):
    """The OPQ motivation, measured: on axis-concentrated data (all
    variance in the first subspace) the rotation balances per-subspace
    variance, so no PQ subspace is left quantizing near-constants."""
    d, m = 64, 8
    rng = np.random.default_rng(11)
    vecs = np.zeros((200, d), dtype=np.float32)
    vecs[:, : d // m] = rng.normal(size=(200, d // m)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rot = np.stack(
        [r.embedding for r in pq.fwht_rotate(df, dim=d).orderBy("vec_id").collect()]
    )

    def sub_var(mat):
        return [mat[:, j * 8 : (j + 1) * 8].var() for j in range(m)]

    raw_v, rot_v = sub_var(vecs.astype(np.float64)), sub_var(rot)
    assert min(raw_v) < 1e-12  # seven subspaces are constant pre-rotation
    assert min(rot_v) > 0.01 * max(rot_v)  # post-rotation: all subspaces live


def test_fwht_strategies_agree(spark):
    """arrow (default) == sql, BITWISE, including the edge contract:
    a malformed vector (NULL, wrong length, NULL element) yields an
    array of dim NULLs via zip_with/aggregate null poisoning; NaN and
    ±inf are VALUES and propagate arithmetically in both engines.
    Exactness matters — sim_opq_adc_topk's oracle replays the sql
    fold in DuckDB, so the kernel must reproduce every double."""
    import struct

    d = 16
    rng = np.random.default_rng(23)
    rows = [
        (i, [float(x) for x in rng.normal(size=d)]) for i in range(8)
    ]
    rows += [
        (100, None),  # NULL vector
        (101, [1.0] * (d - 1)),  # short
        (102, [1.0] * (d + 3)),  # long
        (103, [1.0] * (d // 2) + [None] + [1.0] * (d - d // 2 - 1)),  # NULL elem
        (104, [float("nan")] + [1.0] * (d - 1)),  # NaN value
        (105, [float("inf"), float("-inf")] + [0.5] * (d - 2)),  # infs
        (106, []),  # empty
        (107, [-0.0] * d),  # signed zeros
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def bits(vec):
        if vec is None:
            return None
        return tuple(
            None if x is None else struct.pack("<d", x) for x in vec
        )

    got = {}
    for strat in ("arrow", "sql"):
        got[strat] = {
            r.vec_id: bits(r.embedding)
            for r in pq.fwht_rotate(df, dim=d, strategy=strat).collect()
        }
    assert got["arrow"] == got["sql"]
    # the malformed rows each produced d NULL elements, not a NULL array
    for bad in (100, 101, 102, 103, 106):
        assert got["arrow"][bad] == tuple([None] * d)
    # float input widens exactly in both strategies
    df32 = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v]) for i, v in rows[:8]],
        "vec_id long, embedding array<float>",
    )
    a32 = {
        r.vec_id: bits(r.embedding)
        for r in pq.fwht_rotate(df32, dim=d, strategy="arrow").collect()
    }
    s32 = {
        r.vec_id: bits(r.embedding)
        for r in pq.fwht_rotate(df32, dim=d, strategy="sql").collect()
    }
    assert a32 == s32


def test_opq_stored_rotation_frozen_through_lifecycle(spark, emb, tmp_path):
    """rotation='fwht' freezes into meta.json like the quantizers:
    (a) the stored probe equals the in-memory ivf_pq_topk over the
    pre-rotated corpus (same fits, same ADC arithmetic); (b) appends
    rotate at the boundary — appending RAW vectors reproduces the
    index built from the rotated union; (c) rebalance carries the
    rotation into the new version."""
    base = emb.filter(F.col("vec_id") < 180)
    extra = emb.filter((F.col("vec_id") >= 180) & (F.col("vec_id") < 220))
    queries = emb.filter(F.col("vec_id") < 3)
    root = str(tmp_path / "opq")
    pq.pq_write_index(
        spark, root, base, n_cells=4, m=8, k_sub=8, rotation="fwht"
    )
    import json, os

    meta = json.load(open(os.path.join(root, "v0", "meta.json")))
    assert meta["rotation"] == "fwht" and meta["rot_salt"] == "opq-sign"

    rot = pq.fwht_rotate(emb, dim=64).localCheckpoint()
    rbase = rot.filter(F.col("vec_id") < 180)
    rq = rot.filter(F.col("vec_id") < 3)
    want = sorted(
        tuple(r)
        for r in pq.ivf_pq_topk(
            rbase, rq, n_cells=4, nprobe=2, m=8, k_sub=8, k=5
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in pq.pq_query_index(spark, root, queries, k=5, nprobe=2).collect()
    )
    assert got == want
    # (b) raw-vector append lands in rotated space: probing the
    # appended index equals probing a PRE-ROTATED-union index built
    # with the same frozen fit (fit_on=rbase), i.e. the append law
    # holds across the rotation boundary
    assert pq.pq_append_index(spark, root, extra, batch_id="b1")
    root2 = str(tmp_path / "opq_union")
    pq.pq_write_index(
        spark, root2, rot.filter(F.col("vec_id") < 220),
        n_cells=4, m=8, k_sub=8, fit_on=rbase,
    )
    got2 = sorted(
        tuple(r)
        for r in pq.pq_query_index(spark, root, queries, k=5, nprobe=2).collect()
    )
    want2 = sorted(
        tuple(r)
        for r in pq.pq_query_index(spark, root2, rq, k=5, nprobe=2).collect()
    )
    assert got2 == want2
    # (c) rebalance keeps the rotation contract in the new version
    pq.pq_rebalance_index(spark, root, emb.filter(F.col("vec_id") < 220))
    meta2 = json.load(open(os.path.join(root, "v1", "meta.json")))
    assert meta2["rotation"] == "fwht" and meta2["version"] == 1
    assert pq.pq_query_index(spark, root, queries, k=5, nprobe=2).count() == 15
