"""Product quantization for ANN (Jégou et al. 2011, "Product
quantization for nearest neighbor search" — public): split each
D-dim vector into ``m`` subvectors, learn a small k-means codebook
per subspace, store each vector as ``m`` small codes, and answer
queries by ASYMMETRIC DISTANCE COMPUTATION (ADC) — the query stays
exact, every corpus distance is a sum of per-subspace
query-to-centroid distances looked up by code.

This is the third memory rung of the engine's ANN family:
  float32 corpus (4 bytes/dim) → int8 scalar quantization
  (1 byte/dim, ``similarity.quantize_embeddings``) → PQ
  (m codes per VECTOR — e.g. 8 bytes for a 64-dim vector, 32×
  smaller than float32). At 100 TB the codes table is what an index
  stores and scans; the codebooks are m·k·(D/m) doubles of driver/
  broadcast state (the model, bounded by contract like the k-means
  centroids).

Training reuses the distributed Lloyd's machinery of
``operators/clustering.py`` per subspace (deterministic
first-k-by-id init, rounded-distance ranking), so the ENTIRE fit +
encode + ADC ranking unrolls into a DuckDB oracle exactly like
``cluster_kmeans_assign`` — an approximate index that is still
value-hash-checkable, because approximation here is quantization, not
nondeterminism.

Scale shapes:
- fit: m × (one Lloyd job per iteration) — each a zero-shuffle argmin
  feeding a map-side-combined (cluster, dim) mean; m small (8).
- encode: ONE projection with m literal-codebook argmins — no
  shuffle, no Python worker; rides inside the corpus scan.
- ADC: broadcast query × codes scan; per-row work is m array lookups
  + m ordered 8-term folds, all codegen; top-k per query by window
  over the rounded distance.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..streaming.batch_dirs import VersionedStore
from .clustering import Centroids, _dist_matrix, kmeans_fit, nearest_centroid

Codebooks = list[Centroids]  # one Centroids list per subspace


def _subvec(em: F.Column, j: int, d_sub: int) -> F.Column:
    """1-based slice of subspace j (0-based) from a vector column."""
    return F.slice(em, j * d_sub + 1, d_sub)


def _pq_partials(v: DataFrame, books: Codebooks, dist_round: int) -> DataFrame:
    """(sub, cluster, pos, s, n) partial sums for ALL subspaces in ONE
    Arrow pass — the ``_partial_sums_numpy`` Lloyd map-side kernel,
    vectorized across the m codebooks so a PQ iteration is one job
    over the corpus instead of m."""
    m = len(books)
    d_sub = len(books[0][0][1])
    cmats, clss = [], []
    for book in books:
        order = sorted(range(len(book)), key=lambda i: book[i][0])
        clss.append(np.array([book[i][0] for i in order], dtype=np.int64))
        cmats.append(np.stack([np.asarray(book[i][1], dtype=np.float64) for i in order]))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums = [np.zeros((len(b), d_sub), dtype=np.float64) for b in cmats]
        counts = [np.zeros(len(b), dtype=np.int64) for b in cmats]
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["em"].to_numpy()).astype(np.float64)
            for j in range(m):
                sub = mat[:, j * d_sub : (j + 1) * d_sub]
                idx = np.argmin(_dist_matrix(sub, cmats[j], dist_round), axis=1)
                np.add.at(sums[j], idx, sub)
                counts[j] += np.bincount(idx, minlength=len(cmats[j]))
        frames = []
        for j in range(m):
            live = np.nonzero(counts[j])[0]
            if len(live):
                frames.append(
                    pd.DataFrame(
                        {
                            "sub": np.full(len(live) * d_sub, j, dtype=np.int32),
                            "cluster": np.repeat(clss[j][live], d_sub),
                            "pos": np.tile(np.arange(d_sub, dtype=np.int32), len(live)),
                            "s": sums[j][live].ravel(),
                            "n": np.repeat(counts[j][live], d_sub),
                        }
                    )
                )
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return v.mapInPandas(
        partials, schema="sub int, cluster bigint, pos int, s double, n long"
    )


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int = 6,
    mean_round: int = 9,
    strategy: str = "fused",
) -> Codebooks:
    """Learn ``m`` per-subspace codebooks of ``k_sub`` centroids each
    with the deterministic distributed Lloyd's. The vector dimension
    must divide evenly by ``m`` (asserted from one collected row —
    bounded).

    ``strategy="fused"`` (default): ONE init collect (the first
    ``k_sub`` full vectors, sliced locally — slicing commutes with
    order-by-id limit) and ONE Arrow job per iteration computing
    every subspace's argmin + (cluster, dim) partial sums together —
    m× fewer jobs/corpus passes than fitting each subspace
    separately, same codebooks (equality tested).
    ``strategy="per_subspace"``: m independent ``kmeans_fit`` calls —
    the reference form the oracle unrolls."""
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("pq_fit: empty corpus")
    dim = int(first["d"])
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    d_sub = dim // m
    em = F.col(vec_col).cast("array<double>")
    if strategy == "per_subspace":
        books: Codebooks = []
        for j in range(m):
            sub = df.select(F.col(id_col), _subvec(em, j, d_sub).alias(vec_col))
            books.append(
                kmeans_fit(
                    sub, k=k_sub, iters=iters, id_col=id_col, vec_col=vec_col,
                    dist_round=dist_round, mean_round=mean_round,
                )
            )
        return books
    if strategy != "fused":
        raise ValueError(f"unknown strategy {strategy!r}")
    rows = (
        df.select(F.col(id_col).alias("i"), em.alias("em"))
        .orderBy("i")
        .limit(k_sub)
        .collect()
    )
    books = [
        [
            (ci, [float(x) for x in r.em[j * d_sub : (j + 1) * d_sub]])
            for ci, r in enumerate(rows)
        ]
        for j in range(m)
    ]
    v = df.select(em.alias("em"))
    for _ in range(iters):
        means = (
            _pq_partials(v, books, dist_round)
            .groupBy("sub", "cluster", "pos")
            .agg(F.round(F.sum("s") / F.sum("n"), mean_round).alias("mm"))
            .collect()
        )
        nxt = [{cl: list(cv) for cl, cv in book} for book in books]
        for r in means:
            nxt[r.sub][r.cluster][r.pos] = r.mm
        books = [[(cl, nxt[j][cl]) for cl, _ in books[j]] for j in range(m)]
    return books


def _sorted_books(books: Codebooks) -> tuple[list[np.ndarray], list[np.ndarray]]:
    cmats, clss = [], []
    for book in books:
        order = sorted(range(len(book)), key=lambda i: book[i][0])
        clss.append(np.array([book[i][0] for i in order], dtype=np.int64))
        cmats.append(
            np.stack([np.asarray(book[i][1], dtype=np.float64) for i in order])
        )
    return cmats, clss


def pq_encode(
    df: DataFrame,
    books: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int = 6,
    strategy: str = "numpy",
) -> DataFrame:
    """(id, codes array<int>) — both kernels shuffle-free, same
    rounded-argmin answer (cross-kernel parity tested):

    - ``"numpy"`` (default): Arrow-batched per-subspace argmin — the
      throughput path (``np.argmin`` takes the FIRST minimum, which
      IS the centroid-id tiebreak because the centroid axis is
      cluster-ordered).
    - ``"sql"``: m literal-codebook ``nearest_centroid`` argmins in
      one projection — zero Python workers, fully declarative (its
      per-element lambdas are interpreted, ~10× the constant)."""
    m = len(books)
    d_sub = len(books[0][0][1])
    em = F.col(vec_col).cast("array<double>")
    if strategy == "sql":
        code_cols = [
            nearest_centroid(_subvec(em, j, d_sub), books[j], dist_round)
            .getField("cl")
            .cast("int")
            for j in range(m)
        ]
        return df.select(F.col(id_col), F.array(*code_cols).alias("codes"))
    if strategy != "numpy":
        raise ValueError(f"unknown strategy {strategy!r}")
    cmats, clss = _sorted_books(books)
    id_type = dict(df.dtypes)[id_col]
    v = df.select(F.col(id_col), em.alias("em"))

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf["em"].to_numpy()).astype(np.float64)
            cols = []
            for j in range(m):
                sub = mat[:, j * d_sub : (j + 1) * d_sub]
                idx = np.argmin(_dist_matrix(sub, cmats[j], dist_round), axis=1)
                cols.append(clss[j][idx].astype(np.int32))
            codes = np.stack(cols, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return v.mapInPandas(encode, schema=f"{id_col} {id_type}, codes array<int>")


def _book_literal(book: Centroids) -> F.Column:
    """array<array<double>> literal of a codebook, index = code + 1."""
    return F.array(
        *[
            F.array(*[F.lit(float(x)) for x in cv])
            for _, cv in sorted(book, key=lambda t: t[0])
        ]
    )


def pq_decode_expr(codes_col: F.Column, books: Codebooks) -> F.Column:
    """v̂ — the PQ reconstruction of a codes column under LITERAL
    codebooks: per subspace, the coded centroid, concatenated back to
    the full dimension. Pure per-row codegen (array lookups), no
    shuffle, no Python — the read-side decode of a PQ-compressed
    state tier."""
    return F.flatten(
        F.array(
            *[
                F.element_at(
                    _book_literal(books[j]),
                    F.element_at(codes_col, j + 1) + F.lit(1),
                )
                for j in range(len(books))
            ]
        )
    )


def with_pq_codes(
    df: DataFrame,
    books: Codebooks,
    vec_col: str,
    pc: str = "_pc",
    vhat: str = "_vhat",
    dist_round: int = 6,
    strategy: str = "sql",
) -> DataFrame:
    """Append PQ code columns AND the decoded vector to ``df`` — the
    PQ sibling of ``similarity.with_int8_codes`` (round 9, the
    curator's third vec-state rung: float64 → int8 (~6×) → PQ codes
    (m small ints per vector)).

    - ``pc``: the per-subspace rounded-argmin codes (the ``sql``
      strategy of :func:`pq_encode`, appended in place — no join);
      NULL for zero vectors, which have no meaningful nearest
      centroid;
    - ``vhat``: the decoded reconstruction — all-zero for zero
      vectors, so the zero-norm guards of every cosine path exclude
      them exactly as they exclude a zero v.

    Everything downstream of the compressed store (signatures, cosine
    verify, rollover re-signing) must derive from ``vhat``: PQ is the
    single approximation boundary, and a state row stays
    byte-reproducible from itself (decode of the stored codes IS the
    canonical vector).

    ``strategy="sql"``: m literal-codebook ``nearest_centroid``
    argmins + a literal decode — fully declarative (the hash-gate
    reference form), but the per-element lambdas are interpreted
    (the ``pq_encode`` ~10× constant). ``strategy="numpy"``: ONE
    Arrow pass computing codes AND the decoded v̂ (a float64 gather
    of the same codebook values, no arithmetic) with every other
    column carried through — the curator's per-batch path (measured
    2.4× screen-cost gap closed); same rounded-argmin answer
    (cross-kernel parity tested)."""
    m = len(books)
    d_sub = len(books[0][0][1])
    em = F.col(vec_col).cast("array<double>")
    if strategy == "numpy":
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        cmats, clss = _sorted_books(books)
        in_cols = df.columns
        # fresh StructType — StructType.add MUTATES in place, and the
        # classic DataFrame caches its schema object, so building the
        # output schema with .add() would corrupt the INPUT df's
        # columns for every later use (bit a replay reusing the same
        # batch frame)
        out_schema = StructType(
            list(df.schema.fields)
            + [
                StructField(pc, ArrayType(IntegerType())),
                StructField(vhat, ArrayType(DoubleType())),
            ]
        )

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                mat = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                nz = (mat * mat).sum(axis=1) > 0
                cols, parts = [], []
                for j in range(m):
                    sub = mat[:, j * d_sub : (j + 1) * d_sub]
                    idx = np.argmin(
                        _dist_matrix(sub, cmats[j], dist_round), axis=1
                    )
                    cols.append(clss[j][idx].astype(np.int32))
                    parts.append(cmats[j][idx])
                codes = np.stack(cols, axis=1)
                dec = np.concatenate(parts, axis=1)
                dec[~nz] = 0.0
                pdf = pdf.copy()
                pdf[pc] = [
                    c.tolist() if ok else None for c, ok in zip(codes, nz)
                ]
                pdf[vhat] = list(dec)
                yield pdf

        return df.select(*in_cols).mapInPandas(kernel, out_schema)
    if strategy != "sql":
        raise ValueError(f"unknown strategy {strategy!r}")
    code_cols = [
        nearest_centroid(_subvec(em, j, d_sub), books[j], dist_round)
        .getField("cl")
        .cast("int")
        for j in range(m)
    ]
    nrm = F.aggregate(
        F.transform(em, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    out = df.withColumn(pc, F.when(nrm > 0, F.array(*code_cols)))
    return out.withColumn(
        vhat,
        F.when(
            F.col(pc).isNotNull(), pq_decode_expr(F.col(pc), books)
        ).otherwise(F.array_repeat(F.lit(0.0), m * d_sub)),
    )


def decoded_vecs(codes: DataFrame, books: Codebooks, pc: str = "pc") -> DataFrame:
    """(vec_id, v, nv) view of a PQ-compressed vec state table — the
    read-side inverse of :func:`with_pq_codes` (NULL codes decode to
    the zero vector, matching its zero-vector convention). Pure
    per-row codegen; verify kernels downstream are unchanged."""
    m = len(books)
    d_sub = len(books[0][0][1])
    v = F.when(
        F.col(pc).isNotNull(), pq_decode_expr(F.col(pc), books)
    ).otherwise(F.array_repeat(F.lit(0.0), m * d_sub))
    out = codes.withColumn("v", v).drop(pc)
    nv = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return out.withColumn("nv", nv)


def books_to_jsonable(books: Codebooks) -> list:
    """JSON-portable form of PQ codebooks (m × k_sub × d_sub floats —
    model-sized by contract, like the k-means centroids)."""
    return [
        [[int(cl), [float(x) for x in cv]] for cl, cv in book]
        for book in books
    ]


def books_from_jsonable(data: list) -> Codebooks:
    return [[(int(cl), [float(x) for x in cv]) for cl, cv in book] for book in data]


def pq_adc_topk(
    codes: DataFrame,
    books: Codebooks,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    term_round: int = 6,
    strategy: str = "numpy",
) -> DataFrame:
    """ADC top-k: for every query, rank the CODES table (never the
    vectors) by Σ_j ||q_j − centroid(code_j)||², each subspace term
    rounded to ``term_round`` before the fixed-order sum. Returns
    (query_id, neighbor_id, adc_dist, rn ≤ k); a query never matches
    itself. Two kernels, same doubles (cross-kernel parity tested):

    - ``"numpy"`` (default): the textbook ADC — the query's m×k
      distance LUT is computed ONCE on the driver (sequential numpy
      sums over d_sub elements match the fold order bitwise, rounded
      SQL-style), broadcast, and each Arrow batch scores its codes by
      m table lookups + a sequential accumulate; per-partition local
      top-(k+8) bounds what leaves a partition (the
      ``brute_force_topk`` margin protocol for rounded ties).
    - ``"sql"``: literal-codebook lookups + zip_with folds — zero
      Python workers; interpreted lambdas, ~10× the constant.
    """
    m = len(books)
    d_sub = len(books[0][0][1])
    if strategy == "sql":
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        adc = adc_expr(books, F.col("qv"), F.col("codes"), term_round)
        scored = (
            codes.select(F.col(id_col).alias("neighbor_id"), "codes")
            .crossJoin(F.broadcast(q))
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("adc_dist", adc)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.asc("adc_dist"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w).cast("int"))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "adc_dist", "rn")
        )
    if strategy != "numpy":
        raise ValueError(f"unknown strategy {strategy!r}")
    from .clustering import _round_half_away

    cmats, clss = _sorted_books(books)
    qpdf = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).toPandas()
    q_ids = qpdf["qid"].to_numpy()
    q_mat = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
    # LUT[q][j][code] = round(Σ_d (q_d - c_d)², 6). For d_sub ≤ 128
    # numpy's row sum is sequential left-assoc — the same double the
    # zip_with fold and the oracle's explicit term sum produce.
    luts = np.stack(
        [
            np.stack(
                [
                    _round_half_away(
                        (
                            (q_mat[:, j * d_sub : (j + 1) * d_sub][:, None, :]
                             - cmats[j][None, :, :])
                            ** 2
                        ).sum(axis=2),
                        term_round,
                    )
                    for j in range(m)
                ],
                axis=1,
            )
        ],
        axis=0,
    )[0]  # (Q, m, k)
    # map code value -> position in the cluster-ordered axis
    code_pos = []
    for j in range(m):
        pos = np.full(int(clss[j].max()) + 1, -1, dtype=np.int64)
        pos[clss[j]] = np.arange(len(clss[j]))
        code_pos.append(pos)
    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, luts, code_pos))
    id_type = dict(codes.dtypes)[id_col]
    kk = k + 8

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, lut, cpos = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
            nid = pdf[id_col].to_numpy()
            for qi, qid in enumerate(ids):
                acc = lut[qi][0][cpos[0][cmat[:, 0]]].copy()
                for j in range(1, m):
                    acc += lut[qi][j][cpos[j][cmat[:, j]]]
                adc = _round_half_away(acc, term_round)
                mask = nid != qid
                a, n = adc[mask], nid[mask]
                take = min(kk, len(a))
                if take == 0:
                    continue
                # ADC distances are highly degenerate (many docs share a
                # code tuple), so the per-partition cut must be
                # tie-deterministic: restrict to rows at-or-below the
                # take-th smallest distance (O(n) argpartition), then
                # lexsort that candidate set by (adc_dist, neighbor_id) —
                # the global ORDER BY — so any dropped row is strictly
                # after `take` same-partition rows and can never reach
                # the global top-k. A bare argpartition picks an
                # ARBITRARY subset of boundary-tied rows (ADVICE r7).
                if take < len(a):
                    thresh = a[np.argpartition(a, take - 1)[take - 1]]
                    cand = np.flatnonzero(a <= thresh)
                else:
                    cand = np.arange(len(a))
                part = cand[np.lexsort((n[cand], a[cand]))[:take]]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": n[part], "adc_dist": a[part]}
                )

    local = codes.select(F.col(id_col), "codes").mapInPandas(
        score,
        schema=f"query_id {id_type}, neighbor_id {id_type}, adc_dist double",
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        local.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rn")
    )


def pq_rerank_topk(
    codes: DataFrame,
    books: Codebooks,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int = 6,
) -> DataFrame:
    """The production PQ pattern (Jégou et al. 2011 §IV): ADC over the
    codes picks a ``shortlist``, then ONLY the shortlisted full
    vectors are read for an exact re-rank — at 100 TB the float
    corpus is touched for shortlist·queries rows, never scanned. The
    exact stage is the ``_dist_col`` sequential fold (bitwise equal
    to the oracle's list_distance), so the whole two-stage pipeline
    stays hash-checkable. Returns (query_id, neighbor_id, dist,
    rn ≤ k)."""
    from .clustering import _dist_col

    cand = pq_adc_topk(
        codes, books, queries, k=shortlist, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    rer = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("dist", _dist_col(F.col("qv"), F.col("cv"), dist_round))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dist", "rn")
    )


def adc_expr(
    books: Codebooks,
    qv: F.Column,
    codes_col: F.Column,
    term_round: int = 6,
) -> F.Column:
    """The declarative ADC distance Σ_j round(||q_j − cent(code_j)||²)
    as one codegen expression over (query vector, codes) columns —
    shared by the sql-strategy ``pq_adc_topk`` and the IVF-PQ
    composition."""
    m = len(books)
    d_sub = len(books[0][0][1])
    terms = []
    for j in range(m):
        cent = F.element_at(_book_literal(books[j]), F.element_at(codes_col, j + 1) + 1)
        terms.append(
            F.round(
                F.aggregate(
                    F.zip_with(
                        _subvec(qv, j, d_sub), cent, lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                term_round,
            )
        )
    return F.round(sum(terms[1:], terms[0]), term_round)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 8,
    k_sub: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int = 6,
) -> DataFrame:
    """The FAISS-style composed index, hash-exact end to end: a
    deterministic coarse k-means quantizer partitions the corpus into
    cells (``clustering.kmeans_fit`` — first-k-by-id init, one Lloyd
    step, the oracle-replayable fit), each query probes its
    ``nprobe`` nearest cells, and ONLY the probed cells' PQ CODES are
    ADC-scored — cell pruning bounds the scan, PQ bounds the bytes
    per scanned row (at 100 TB: nprobe/n_cells of the corpus read,
    at m bytes/vector, via the same partition-pruned layout as
    ``ivf_build_index``). Every stage is rounded deterministic
    arithmetic, so the whole composition carries a value hash.

    Returns (query_id, neighbor_id, adc_dist, rn ≤ k)."""
    from concurrent.futures import ThreadPoolExecutor

    from .clustering import kmeans_assign, kmeans_fit, nearest_centroid

    # round 13 (guide §2.6 "overlap independent jobs"): the coarse
    # quantizer fit and the PQ codebook fit are independent bounded
    # collect-driven loops over the same corpus — run them from two
    # driver threads so one fit's collect latency back-fills the
    # other's idle executors. Results are unchanged (each fit is a
    # pure function of the corpus).
    with ThreadPoolExecutor(max_workers=2) as pool:
        cents_f = pool.submit(
            kmeans_fit, corpus, k=n_cells, iters=1, id_col=id_col,
            vec_col=vec_col, dist_round=dist_round,
        )
        books_f = pool.submit(
            pq_fit, corpus, m=m, k_sub=k_sub, iters=1, id_col=id_col,
            vec_col=vec_col,
        )
        cents, books = cents_f.result(), books_f.result()
    cells = kmeans_assign(corpus, cents, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("cluster").alias("cell")
    )
    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    # per-query probed cells: rank the literal centroid distances,
    # keep the nprobe smallest (queries are the tiny side)
    cent_lit = F.array(
        *[
            F.struct(F.lit(int(cl)).cast("bigint").alias("cell"), F.array(*[F.lit(float(x)) for x in cv]).alias("cv"))
            for cl, cv in sorted(cents, key=lambda t: t[0])
        ]
    )
    scored_cells = q.select(
        "query_id",
        "qv",
        F.explode(cent_lit).alias("c"),
    ).select(
        "query_id",
        "qv",
        F.col("c.cell").alias("cell"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("qv"), F.col("c.cv"), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            dist_round,
        ).alias("cd"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cd"), F.asc("cell"))
    probed = (
        scored_cells.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    cand = codes.join(cells, "neighbor_id").join(
        F.broadcast(probed), "cell"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.withColumn(
        "adc_dist", adc_expr(books, F.col("qv"), F.col("codes"), dist_round)
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rn")
    )


# =====================================================================
# Materialized IVF-PQ index lifecycle (round 8 — r7 verdict #3): the
# stored, maintainable form of ``ivf_pq_topk``, with the append /
# versioned-rebalance story the IVF-Flat index already has
# (``similarity.ivf_append_index`` / ``ivf_rebalance_index``) extended
# to the part IVF-Flat never had to worry about: the CODEBOOKS are
# part of the quantizer, so a quantizer swap must replace codes,
# centroids and codebooks in ONE atomic cutover (the mixed-reader
# hazard the curator's geometry rollover solves for LSH signatures).
#
# The same ``batch_dirs.VersionedStore`` as the IVF-Flat index (pointer,
# versions, retention and the append record are described there).
# Each version holds:
#   meta.json                  -- m, k_sub, n_cells, dim, dist_round,
#                                 version (the codebook version)
#   centroids/                 -- (cell, centroid) coarse quantizer
#   codebooks/                 -- (sub, cl, vals) PQ codebooks
#   codes/cell=*/              -- (vec_id, codes) — m bytes of info
#                                 per vector, partition-pruned probes
#   batches/<id>/cell=*/       -- appended batches: (vec_id, vec,
#                                 codes) — the delta tier KEEPS the raw
#                                 vector so a later rebalance can
#                                 re-encode it under new quantizers
#                                 without touching the canonical
#                                 corpus; bounded by append volume
#                                 since the last rebalance
# =====================================================================


def _pq_meta(vdir: str) -> dict:
    import json
    import os

    with open(os.path.join(vdir, "meta.json")) as f:
        return json.load(f)


def _pq_load(spark, vdir: str) -> tuple[Centroids, Codebooks, dict]:
    """(coarse centroids, codebooks, meta) of one index version —
    n_cells·D + m·k_sub·(D/m) doubles, driver-side by the same
    bounded-collect contract as the k-means centroids."""
    import os

    meta = _pq_meta(vdir)
    cents = [
        (int(r.cell), [float(x) for x in r.centroid])
        for r in spark.read.parquet(os.path.join(vdir, "centroids")).collect()
    ]
    brows = spark.read.parquet(os.path.join(vdir, "codebooks")).collect()
    books: Codebooks = [[] for _ in range(int(meta["m"]))]
    for r in brows:
        books[int(r.sub)].append((int(r.cl), [float(x) for x in r.vals]))
    return sorted(cents, key=lambda t: t[0]), [
        sorted(b, key=lambda t: t[0]) for b in books
    ], meta


def _pq_cells(
    corpus: DataFrame, cents: Centroids, books: Codebooks, dist_round: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(id, codes, cell) rows of ``corpus`` under the quantizer
    (coarse centroids, codebooks)."""
    from .clustering import kmeans_assign

    codes = pq_encode(
        corpus, books, id_col=id_col, vec_col=vec_col, dist_round=dist_round
    )
    cells = kmeans_assign(corpus, cents, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), F.col("cluster").alias("cell")
    )
    return codes.join(cells, id_col)


def _pq_delta(
    batch: DataFrame, cents: Centroids, books: Codebooks, dist_round: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """(id, vec, codes, cell) rows of an appended batch: its codes
    plus the raw vector a rebalance re-encodes."""
    return batch.select(F.col(id_col), F.col(vec_col).alias("vec")).join(
        _pq_cells(batch, cents, books, dist_round, id_col, vec_col), id_col
    )


def _pq_write_version(
    spark,
    vdir: str,
    corpus: DataFrame,
    cents: Centroids,
    books: Codebooks,
    meta: dict,
    id_col: str,
    vec_col: str,
) -> None:
    import json
    import os

    spark.createDataFrame(
        [(int(cl), [float(x) for x in cv]) for cl, cv in cents],
        "cell long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))
    spark.createDataFrame(
        [
            (j, int(cl), [float(x) for x in cv])
            for j, book in enumerate(books)
            for cl, cv in book
        ],
        "sub int, cl int, vals array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "codebooks"))
    _pq_cells(
        corpus, cents, books, int(meta["dist_round"]), id_col, vec_col
    ).write.mode("overwrite").partitionBy("cell").parquet(os.path.join(vdir, "codes"))
    with open(os.path.join(vdir, "meta.json"), "w") as f:
        json.dump(meta, f)


def _maybe_rotate(df: DataFrame, meta: dict, id_col: str, vec_col: str) -> DataFrame:
    """Apply the index's FROZEN pre-rotation (meta.json is the
    contract, like the quantizers): every vector entering the index —
    writes, appends, rebalance refits, and queries — passes through
    the same rotation, so the stored artifact lives entirely in
    rotated space and rotated-ADC distances equal raw distances
    (isometry)."""
    rot = meta.get("rotation")
    if not rot:
        return df
    if rot != "fwht":
        raise ValueError(f"unknown index rotation {rot!r}")
    return fwht_rotate(
        df, id_col=id_col, vec_col=vec_col,
        dim=int(meta["dim"]), salt=str(meta["rot_salt"]),
    )


def pq_write_index(
    spark,
    path: str,
    corpus: DataFrame,
    n_cells: int = 8,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_round: int = 6,
    fit_on: DataFrame | None = None,
    rotation: str | None = None,
    rot_salt: str = "opq-sign",
) -> int:
    """Build and commit version 0 of a materialized IVF-PQ index:
    deterministic coarse k-means + PQ codebooks fit on ``fit_on``
    (default: the corpus itself — at 100 TB pass a sample, which is
    how FAISS trains), the corpus encoded and written cell-partitioned,
    the ``current`` pointer flipped last. Built with the same fits as
    ``ivf_pq_topk``, so a stored-index probe is hash-equal to the
    in-memory query (pinned in test_pq.py and by the
    ``sim_ivf_pq_stored`` oracle).

    ``fit_on`` also states the append law precisely:
    ``pq_write_index(data=A∪B, fit_on=A)`` equals
    ``pq_write_index(A)`` then ``pq_append_index(B)`` — appends are
    FAISS ``add`` semantics under frozen quantizers (tested).

    ``rotation="fwht"`` (round 10, the stored OPQ rung): the signed
    Walsh-Hadamard pre-rotation (:func:`fwht_rotate`) FREEZES into
    meta.json alongside the quantizers — the whole index (centroids,
    codebooks, codes, batch vectors) lives in rotated space, and
    appends / queries / rebalance refits rotate at the boundary via
    the meta contract, so a reader can never mix spaces. Isometry
    makes the probe distances directly comparable to raw-space ones.
    """
    if rotation not in (None, "fwht"):
        raise ValueError(f"unknown rotation {rotation!r}")
    src = corpus if fit_on is None else fit_on
    first = src.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("pq_write_index: empty fit corpus")
    dim = int(first["d"])
    if rotation:
        rmeta = {"rotation": rotation, "rot_salt": rot_salt, "dim": dim}
        src = _maybe_rotate(src, rmeta, id_col, vec_col)
        corpus = _maybe_rotate(corpus, rmeta, id_col, vec_col)
    cents = kmeans_fit(
        src, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        dist_round=dist_round,
    )
    books = pq_fit(
        src, m=m, k_sub=k_sub, iters=iters, id_col=id_col, vec_col=vec_col,
        dist_round=dist_round,
    )
    meta = {
        "version": 0, "m": m, "k_sub": k_sub, "n_cells": n_cells,
        "dim": dim, "dist_round": dist_round,
    }
    if rotation:
        meta["rotation"] = rotation
        meta["rot_salt"] = rot_salt
    store = VersionedStore(spark, path)
    _pq_write_version(
        spark, store.stage(0), corpus, cents, books, meta, id_col, vec_col
    )
    store.flip(0)
    return 0


def pq_append_index(
    spark,
    path: str,
    batch: DataFrame,
    batch_id: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """Append a batch under the FROZEN quantizers (coarse centroids
    AND codebooks — FAISS ``add``): one encode + one assignment over
    the batch, one idempotent write, never a corpus rewrite. The
    batch dir keeps the raw vectors alongside the codes (see the
    layout note — that is what lets ``pq_rebalance_index`` carry a
    late append over a quantizer swap by re-encoding it). Same
    ``batch_id`` exactly-once protocol and SINGLE-WRITER contract as
    ``similarity.ivf_append_index``; returns False when ``batch_id``
    is already committed. Without ``batch_id`` a content-derived id
    replaces the old mode('append') ``_legacy`` dir (round 9 — r8
    advice: a crashed/retried anonymous append duplicated every
    vector, and the duplicates took multiple row_number ranks in
    ``pq_query_index``, displacing genuine neighbors)."""
    from .similarity import _ivf_live, _resolve_auto_batch_id

    store, v = _ivf_live(spark, path)
    committed = store.appends(v)
    if batch_id is None:
        batch_id, done = _resolve_auto_batch_id(batch, committed, id_col, vec_col)
        if done:
            return False
    if batch_id in committed:
        return False
    cents, books, meta = _pq_load(spark, store.path(v))
    batch = _maybe_rotate(batch, meta, id_col, vec_col)
    rows = _pq_delta(batch, cents, books, int(meta["dist_round"]), id_col, vec_col)
    store.append(v, batch_id, rows)
    return True


def pq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "sql",
) -> DataFrame:
    """Probe a materialized IVF-PQ index: the version pointer is
    resolved ONCE (a concurrent rebalance cutover can never mix
    quantizers — codes, centroids and codebooks travel together in
    the version dir), probe cells rank the stored-centroid literals,
    and only the probed cells' code partitions are scanned and
    ADC-scored. Identical arithmetic to ``ivf_pq_topk``, so a stored
    probe of an index built with the same fits is hash-equal to the
    in-memory query (and to its DuckDB oracle).

    ``kernel``: ``"sql"`` (default — zero Python, the declared
    query's hash-gate path) or ``"numpy"`` (the pq_adc_topk LUT
    kernel restricted to each query's probed cells — same doubles,
    kernel parity tested; measured 1.9× faster at sf0.1/50 queries,
    and the gap is per-candidate work, so it widens with scale)."""
    from .similarity import _ivf_live

    store, v = _ivf_live(spark, path)
    cents, books, meta = _pq_load(spark, store.path(v))
    dist_round = int(meta["dist_round"])
    queries = _maybe_rotate(queries, meta, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(int(cl)).cast("bigint").alias("cell"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
            )
            for cl, cv in cents
        ]
    )
    scored_cells = q.select(
        "query_id", "qv", F.explode(cent_lit).alias("c")
    ).select(
        "query_id",
        "qv",
        F.col("c.cell").alias("cell"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("qv"), F.col("c.cv"), lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            dist_round,
        ).alias("cd"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("cd"), F.asc("cell"))
    probed = (
        scored_cells.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    probed_rows = probed.select("query_id", "cell").collect()
    probe_cells = sorted({int(r.cell) for r in probed_rows})
    corpus = store.read(v, "codes").filter(F.col("cell").isin(probe_cells))
    if kernel == "numpy":
        # the textbook ADC probe (pq_adc_topk's throughput kernel,
        # restricted to each query's probed cells): per-query m×k LUT
        # computed once on the driver under the same rounding
        # protocol, broadcast, Arrow batches score codes by m lookups
        # + a rounded accumulate; tie-inclusive (dist, id)-lexsorted
        # local cut; same doubles as the sql kernel (parity tested).
        from .clustering import _round_half_away

        cmats, clss = _sorted_books(books)
        m = int(meta["m"])
        d_sub = len(books[0][0][1])
        qpdf = (
            queries.select(
                F.col(id_col).alias("qid"),
                F.col(vec_col).cast("array<double>").alias("qv"),
            )
            .toPandas()
        )
        q_ids = qpdf["qid"].to_numpy()
        q_mat = np.stack(qpdf["qv"].to_numpy()).astype(np.float64)
        luts = np.stack(
            [
                _round_half_away(
                    (
                        (q_mat[:, j * d_sub : (j + 1) * d_sub][:, None, :]
                         - cmats[j][None, :, :]) ** 2
                    ).sum(axis=2),
                    dist_round,
                )
                for j in range(m)
            ],
            axis=1,
        )  # (Q, m, k_sub)
        code_pos = []
        for j in range(m):
            pos = np.full(int(clss[j].max()) + 1, -1, dtype=np.int64)
            pos[clss[j]] = np.arange(len(clss[j]))
            code_pos.append(pos)
        probe_map = {}
        for r in probed_rows:
            probe_map.setdefault(r.query_id, set()).add(int(r.cell))
        bc = spark.sparkContext.broadcast((q_ids, luts, code_pos, probe_map))
        id_type = dict(corpus.dtypes)[id_col]
        kk = k + 8

        def score(batches):
            import pandas as pd

            ids, lut, cpos, pmap = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                cmat = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                nid = pdf[id_col].to_numpy()
                cell = pdf["cell"].to_numpy().astype(np.int64)
                for qi, qid in enumerate(ids):
                    cells = pmap.get(qid)
                    if not cells:
                        continue
                    mask = np.isin(cell, list(cells)) & (nid != qid)
                    if not mask.any():
                        continue
                    sub = cmat[mask]
                    acc = lut[qi][0][cpos[0][sub[:, 0]]].copy()
                    for j in range(1, len(cpos)):
                        acc += lut[qi][j][cpos[j][sub[:, j]]]
                    adc = _round_half_away(acc, dist_round)
                    n = nid[mask]
                    take = min(kk, len(adc))
                    if take < len(adc):
                        thresh = adc[np.argpartition(adc, take - 1)[take - 1]]
                        cand_i = np.flatnonzero(adc <= thresh)
                    else:
                        cand_i = np.arange(len(adc))
                    part = cand_i[np.lexsort((n[cand_i], adc[cand_i]))[:take]]
                    yield pd.DataFrame(
                        {"query_id": qid, "neighbor_id": n[part], "adc_dist": adc[part]}
                    )

        local = corpus.mapInPandas(
            score,
            schema=f"query_id {id_type}, neighbor_id {id_type}, adc_dist double",
        )
        w = Window.partitionBy("query_id").orderBy(
            F.asc("adc_dist"), F.asc("neighbor_id")
        )
        return (
            local.withColumn("rn", F.row_number().over(w).cast("int"))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "adc_dist", "rn")
        )
    if kernel != "sql":
        raise ValueError(f"unknown kernel {kernel!r}")
    cand = (
        corpus.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(probed), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = cand.withColumn(
        "adc_dist", adc_expr(books, F.col("qv"), F.col("codes"), dist_round)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rn")
    )


def pq_rebalance_index(
    spark,
    path: str,
    corpus: DataFrame,
    n_cells: int | None = None,
    m: int | None = None,
    k_sub: int | None = None,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Retrain-and-cutover for a drifted IVF-PQ index: refit BOTH
    quantizer stages on the canonical ``corpus`` (PQ codes are lossy,
    so the index is a DERIVED artifact — the rebuild reads the source
    of truth, which must include every row appended so far), write a
    complete new version dir (codes + centroids + codebooks + meta
    with the bumped codebook version), then flip the pointer
    atomically. An append committed DURING the rebuild is carried
    over by re-encoding its raw-vector delta rows under the NEW
    quantizers before the flip (the reason the batch dirs keep
    vectors). One superseded version is retained as reader grace;
    older ones are pruned. Single-writer, like the append path."""
    from .similarity import _ivf_live

    store, v = _ivf_live(spark, path)
    old_meta = _pq_meta(store.path(v))
    # the rotation is part of the index contract: the refit corpus
    # enters rotated space exactly like every other vector, and the
    # new meta (dict(old_meta, ...)) carries the rotation forward
    corpus = _maybe_rotate(corpus, old_meta, id_col, vec_col)
    seen = store.appends(v)
    n_cells = int(old_meta["n_cells"]) if n_cells is None else n_cells
    m = int(old_meta["m"]) if m is None else m
    k_sub = int(old_meta["k_sub"]) if k_sub is None else k_sub
    dist_round = int(old_meta["dist_round"])
    cents = kmeans_fit(
        corpus, k=n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
        dist_round=dist_round,
    )
    books = pq_fit(
        corpus, m=m, k_sub=k_sub, iters=iters, id_col=id_col, vec_col=vec_col,
        dist_round=dist_round,
    )
    meta = dict(old_meta, version=v + 1, n_cells=n_cells, m=m, k_sub=k_sub)
    _pq_write_version(
        spark, store.stage(v + 1), corpus, cents, books, meta, id_col, vec_col
    )

    # carry over appends committed while the refit/rewrite ran: their
    # dirs hold raw vectors, so they re-encode under the new books
    def delta(rows: DataFrame) -> DataFrame:
        late = rows.select(F.col(id_col), F.col("vec").alias(vec_col))
        return _pq_delta(late, cents, books, dist_round, id_col, vec_col)

    store.carry_over(v, v + 1, seen, delta)
    store.flip(v + 1)
    return v + 1


# ---------------------------------------------------------------------------
# OPQ rung: orthonormal pre-rotation (signed Walsh-Hadamard)
# ---------------------------------------------------------------------------


def opq_signs(dim: int = 64, salt: str = "opq-sign") -> list[int]:
    """Deterministic ±1 sign-flip diagonal for the OPQ pre-rotation,
    derived per index from md5 (engine-neutral: both the Spark plan
    and the SQL oracle receive the same literals)."""
    import hashlib

    return [
        1 if int(hashlib.md5(f"{salt}:{j}".encode()).hexdigest(), 16) % 2 == 0 else -1
        for j in range(dim)
    ]


def hadamard_weights(dim: int, signs: list[int]) -> list[list[int]]:
    """W[i][j] = signs[j] * (-1)^popcount(i & j) — the signed
    Walsh-Hadamard matrix (unnormalized; rows orthogonal, W·Wᵀ =
    dim·I)."""
    return [
        [signs[j] * (1 if bin(i & j).count("1") % 2 == 0 else -1) for j in range(dim)]
        for i in range(dim)
    ]


def fwht_rotate(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    salt: str = "opq-sign",
    strategy: str = "arrow",
) -> DataFrame:
    """The OPQ pre-rotation (Ge et al. 2013, "Optimized Product
    Quantization" — public — motivates rotating vectors before PQ so
    variance spreads across subspaces instead of concentrating in a
    few): here the STRUCTURED variant — a deterministic ±1 sign flip
    followed by the Walsh-Hadamard transform, scaled by 1/√dim. This
    is FAISS's "PQ with random rotation" alternative to learned OPQ
    (also the structured-spinner construction of Andoni et al. 2015);
    the learned parametric OPQ needs an eigendecomposition no SQL
    engine reproduces, while this rotation is EXACTLY orthonormal
    (H·Hᵀ = dim·I; 1/√64 = 0.125 is a power of two, so the scaling is
    bit-exact), isometric (ADC distances in rotated space equal
    original distances), and fully expressible in both engines.

    Contract: output coordinate i is the LEFT-ASSOCIATIVE ascending-j
    fold ((0.0 + v[0]·W[i][0]) + v[1]·W[i][1]) + …, multiplied by
    1/√dim once at the end — the exact term order the oracle SQL
    writes out. ±1.0 multiplies and the power-of-two scale are
    bitwise-exact, so both engines produce IDENTICAL doubles with NO
    rounding step. A malformed vector (NULL, wrong length, or a NULL
    element) yields an array of ``dim`` NULLs — the zip_with/aggregate
    null-poisoning semantics of the sql form, preserved by both
    strategies (kernel-agreement pinned in
    ``test_fwht_strategies_agree``).

    strategy="arrow" (default, round 12 §4.2): one mapInArrow kernel
    — the same fold as ``dim`` sequential vectorized adds in ascending
    j (each ``out += V[:,j]·W[:,j]`` is one IEEE-754 add per element,
    so every double is bit-identical to the interpreted fold), no
    literal matrix in the plan. mapInArrow, not mapInPandas: the
    pandas conversion turns a NULL list element into NaN, losing the
    null-poisoning contract; Arrow keeps element validity explicit.
    The sql form paid twice at ANY scale: ~dim² F.lit py4j round-trips
    of plan-BUILD time per call, and O(rows·dim²) interpreted HOF
    steps at execution (HOF lambdas are CodegenFallback; rows·dim² =
    8.2M interpreted steps for 2 000×64² at sf0.1).

    strategy="sql": ONE projection over a literal weight matrix, each
    output coordinate a higher-order ``aggregate`` fold of
    zip_with(v, row, *) — zero Python, the form the oracle mirrors.
    Two rejected forms, for the record: the O(D log D) butterfly
    needs chained projections whose collapse re-evaluates nested
    element_at combinatorially (Catalyst ProjectCollapse inlines
    sub-expressions), and a flat codegen matmul of D² add nodes blows
    the Janino 64 KB method limit (the compile ATTEMPT alone cost
    ~90 s/job before the interpreted fallback).

    Output: (id_col, vec_col array<double>), composable with
    pq_fit/pq_encode/pq_adc_topk unchanged."""
    if dim & (dim - 1):
        raise ValueError("fwht_rotate: dim must be a power of two")
    import math

    scale = 1.0 / math.sqrt(dim)
    w = hadamard_weights(dim, opq_signs(dim, salt))
    if strategy == "sql":
        w_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in row]) for row in w]
        )
        em = F.col(vec_col).cast("array<double>")
        rot = F.transform(
            w_lit,
            lambda row: F.aggregate(
                F.zip_with(em, row, lambda x, wj: x * wj),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale),
        )
        return df.select(F.col(id_col), rot.alias(vec_col))
    if strategy != "arrow":
        raise ValueError(f"unknown fwht strategy {strategy!r} (arrow|sql)")

    wn = np.asarray(w, dtype=np.float64)  # wn[i, j] = signs[j]·(-1)^pc(i&j)
    id_type = df.schema[id_col].dataType.simpleString()

    def rotate(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            ids, col = b.column(0), b.column(1)
            n = len(col)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.list_(pa.float64()))],
                    names=[id_col, vec_col],
                )
                continue
            flat = col.flatten().cast(pa.float64())  # float→double widen is exact
            lens = pc.list_value_length(col)
            clean = (
                col.null_count == 0
                and flat.null_count == 0
                and pc.min(lens).as_py() == dim
                and pc.max(lens).as_py() == dim
            )
            if clean:
                V = flat.to_numpy(zero_copy_only=False).reshape(n, dim)
                good = np.ones(n, dtype=bool)
            else:
                # edge rows present (NULL vector, wrong length, NULL
                # element) — mask them VECTORIZED (r12 advice: one bad
                # row among ~10k must not drop the batch into an
                # O(batch·dim) python walk). Raw values+offsets align
                # by construction; good rows gather straight from the
                # flattened buffer, bad rows stay zero and are masked
                # to NULL elements below — contract-exact.
                vals = col.values.cast(pa.float64())
                offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                if vals.null_count:
                    elem_bad = vals.is_null().to_numpy(zero_copy_only=False)
                else:
                    elem_bad = np.zeros(len(vals), dtype=bool)
                bad_cum = np.zeros(len(vals) + 1, dtype=np.int64)
                np.cumsum(elem_bad, out=bad_cum[1:])
                good = (offs[1:] - offs[:-1] == dim) & (
                    bad_cum[offs[1:]] - bad_cum[offs[:-1]] == 0
                )
                if col.null_count:
                    good &= ~col.is_null().to_numpy(zero_copy_only=False)
                V = np.zeros((n, dim), dtype=np.float64)
                if good.any():
                    v_np = vals.to_numpy(zero_copy_only=False)
                    idx = offs[:-1][good][:, None] + np.arange(dim, dtype=np.int64)[None, :]
                    V[good] = v_np[idx]
            out = np.zeros((n, dim), dtype=np.float64)
            # out[:, i] = fold over j of (acc + V[:, j]·wn[i, j]):
            # each += is ONE IEEE add per element in ascending j —
            # bit-identical to the sql strategy's aggregate fold
            for j in range(dim):
                out += V[:, j : j + 1] * wn[:, j][None, :]
            out *= scale  # one multiply after the fold, as in sql
            # a malformed row yields dim NULL ELEMENTS (not a NULL
            # array) — zip_with/aggregate null poisoning, exactly
            values = pa.array(
                out.ravel(), type=pa.float64(), mask=~np.repeat(good, dim)
            )
            arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * dim), values
            )
            yield pa.RecordBatch.from_arrays([ids, arr], names=[id_col, vec_col])

    return df.select(id_col, vec_col).mapInArrow(
        rotate, schema=f"{id_col} {id_type}, {vec_col} array<double>"
    )
