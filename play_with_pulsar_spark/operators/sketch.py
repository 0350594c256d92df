"""Mergeable sketches — bounded-memory corpus statistics.

At 100 TB, exact corpus statistics grow with the data: frequency
tables with the vocabulary, distinct counts with the value space,
membership sets with the reference corpus. The sketch family bounds
each at FIXED width:

- count-min (``cms_*``, Cormode & Muthukrishnan 2005): frequency,
  depth x width cells, additive merge, never undercounts;
- HyperLogLog (``hll_*``, Flajolet et al. 2007): distinct counts,
  m registers per group, idempotent max-merge;
- Bloom filter (``bloom_*``, Bloom 1970): membership, m_bits
  positions, idempotent OR-merge, no false negatives.

All three share the engine-portable md5 uniform for placement, so
ANSI-SQL oracles reproduce every sketch bit-for-bit — including its
collisions and false positives.

The count-min sketch bounds frequency state with two properties that
matter for a distributed pipeline:

- **Additive**: the sketch of a union of disjoint batches is the
  cell-wise sum of per-batch sketches (``cms_merge``), so it can be
  maintained incrementally exactly like the curator's per-batch
  ``(g, df)`` tier (``dedup.build_df_index``) — but with fixed-width
  state at any corpus size, where the exact tier grows with the
  vocabulary.
- **One-sided error**: every point estimate is >= the true count
  (never an undercount), so screens of the form "frequency > cap"
  (stop-shingles, boilerplate n-grams, over-represented domains) stay
  CONSERVATIVE under the sketch — nothing frequent is ever missed,
  only rare keys can be (bounded-probability) over-flagged.

Representation: a DataFrame ``(row int, bucket long, cnt long)`` with
at most ``depth * width`` rows — small enough to broadcast into every
estimate join regardless of corpus size. The bucket hash is the
engine-portable md5 uniform (same family as ``curation._md5_bucket``),
so an ANSI-SQL oracle reproduces the sketch bit-for-bit.

Plan shapes (the 100 TB contract):
- build: one scan of the item table; the depth-fold explode happens
  inside the scan stage and the groupBy partial-aggregates map-side,
  so the shuffle is bounded by ``depth * width`` rows PER TASK, not by
  the data.
- estimate: probe-side scalar projection + a broadcast left join
  against the (fixed-width) sketch — no corpus-scale shuffle.
- merge: a union of fixed-width frames + one tiny groupBy.

Reference linkage: the reference engine has no sketches (its state is
per-room game maps, `game-code/event.go`); this is part of the
LLM-curation surface the survey's north star demands.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.batch_dirs import write_json_atomic


def _cms_bucket(key: F.Column, width: int, i: int, salt: str) -> F.Column:
    """Row-``i`` bucket: integer prefix of md5(key ':cms<salt>:' i),
    mod width. Non-negative by construction (8 hex chars), so plain
    ``%`` matches the oracle's ``% width`` on UBIGINT."""
    h = F.md5(F.concat(key.cast("string"), F.lit(f":cms{salt}:{i}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width


def cms_build(
    items: DataFrame,
    key: str = "tok",
    depth: int = 4,
    width: int = 2048,
    weight: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Count-min sketch of ``items[key]`` (one increment per row, or
    ``weight`` units when given) as a ``(row, bucket, cnt)`` frame.

    Geometry contract: ``depth``/``width``/``salt`` are part of the
    sketch's identity — estimates and merges are only meaningful
    between sketches built with identical geometry (the same
    frozen-geometry discipline as the curator's LSH sidecar). The
    caller owns pinning them; ``cms_estimate`` recomputes probe
    buckets from the same parameters.
    """
    k = F.col(key)
    w = (F.col(weight) if weight is not None else F.lit(1)).cast("long")
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_bucket(k, width, i, salt).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    ).alias("rb")
    return (
        items.select(rb, w.alias("w"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of same-geometry sketches — EXACT for disjoint
    increment streams (counts add; the hash placement is a pure
    function of the key). This is the incremental-maintenance step:
    sketch each accepted batch, fold at compaction, and the combined
    sketch equals the one-shot sketch of the whole corpus (law pinned
    in test_sketch.py)."""
    if not sketches:
        raise ValueError("cms_merge: pass at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key: str = "tok",
    depth: int = 4,
    width: int = 2048,
    salt: str = "",
) -> DataFrame:
    """Point estimates for ``probes[key]``: ``est = min over rows of
    the key's cell`` (0 when a cell is absent — an empty cell proves
    count 0). Output: probes columns + ``est``.

    The sketch side is <= depth*width rows and is broadcast — the
    probe side never shuffles. Estimates are upper bounds on the true
    count (one-sided CMS guarantee)."""
    k = F.col(key)
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_bucket(k, width, i, salt).alias("bucket"),
                )
                for i in range(depth)
            ]
        )
    ).alias("rb")
    probed = probes.select("*", rb).select(
        *probes.columns, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )
    return (
        probed.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(*probes.columns)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_stop_keys(
    sketch: DataFrame,
    probes: DataFrame,
    cap: int,
    key: str = "tok",
    depth: int = 4,
    width: int = 2048,
    salt: str = "",
) -> DataFrame:
    """Keys whose CMS-estimated frequency exceeds ``cap`` — the
    fixed-width form of the stop-shingle screen (`dedup`'s
    ``df > max_shingle_freq``). Because estimates never undercount,
    the flagged set is a SUPERSET of the exact ``df > cap`` set
    (law pinned in test_sketch.py): a frequency screen driven by the
    sketch is conservative — every truly-viral key is flagged; the
    cost of the bounded memory is that some rare keys may be
    over-flagged by collisions, which for a screen means slightly
    fewer candidates, never a missed cap. Use when even the
    vocabulary-sized exact (g, df) tier is too large to maintain."""
    return (
        cms_estimate(sketch, probes, key=key, depth=depth, width=width, salt=salt)
        .filter(F.col("est") > cap)
        .drop("est")
    )


# ---------------------------------------------------------------------------
# HyperLogLog — fixed-width mergeable DISTINCT counts (Flajolet,
# Fusy, Gandouet & Meunier 2007). The cardinality complement to the
# count-min sketch above: CMS bounds *frequency* state, HLL bounds
# *distinct-count* state at m registers per group — per-domain
# vocabulary size, per-source unique-doc counts, dedup-rate monitors —
# where exact count(DISTINCT) shuffles every distinct value.
#
# Portability contract (same discipline as the CMS bucket hash): the
# register placement AND the estimator are engine-exact.
# - bucket  = 32-bit md5 prefix % m           (placement)
# - rho     = leading-zeros+1 of an independent 48-bit md5 value,
#             computed as 49 - bitlength via length(bin(h)) — string
#             ops, no floating point (rho in [1, 49])
# - S       = sum over all m registers of 2^(49 - M_j) as an EXACT
#             integer (pow(2, n) is exact in IEEE double for n <= 49;
#             round+cast pins it)
# - alpha_m * m^2 * 2^49 is ONE Python-computed double literal,
#   embedded identically in both engines, so the estimate is a single
#   exact-int division — bit-identical, hashable.
# - the small-range (linear-counting) correction m*ln(m/V) depends
#   only on V in [1, m-1], so it is embedded as a LITERAL CASE table
#   (Python-computed doubles) — no runtime ln in either engine.
# The 48-bit rho hash also removes the classic 32-bit large-range
# correction from the operating envelope (collision space 2^48).

_HLL_MAXRHO = 49  # 48-bit rho hash => bitlength in [0, 48], rho in [1, 49]


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_check_m(m: int) -> None:
    if m < 16 or m > 1024 or (m & (m - 1)) != 0:
        raise ValueError(
            f"hll: m must be a power of two in [16, 1024], got {m} "
            "(the literal correction table is sized m-1; past 1024 "
            "registers the relative error is already < 3.3%)"
        )


def _hll_bucket(key: F.Column, m: int, salt: str) -> F.Column:
    h = F.md5(F.concat(key.cast("string"), F.lit(f":hllb{salt}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m


def _hll_rho(key: F.Column, salt: str) -> F.Column:
    """Leading-zeros+1 of the 48-bit rho hash: 49 - bitlength, with
    bitlength from the binary-string length (h=0 => rho=49). Pure
    integer/string ops — the portable form of a CLZ instruction."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(f":hllr{salt}"))), 1, 12
        ),
        16,
        10,
    ).cast("long")
    return F.when(h == 0, F.lit(_HLL_MAXRHO)).otherwise(
        F.lit(_HLL_MAXRHO) - F.length(F.bin(h))
    ).cast("int")


def hll_build(
    items: DataFrame,
    key: str = "tok",
    m: int = 64,
    salt: str = "",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog registers for ``items[key]`` (optionally per
    ``group_cols`` group): ``(*group_cols, bucket, mreg)`` with at
    most ``m`` rows per group — the bounded distinct-count state.

    Geometry contract: ``m``/``salt`` are the sketch's identity
    (frozen-geometry discipline, like the CMS and the curator's LSH
    sidecar). Duplicate keys are free by construction — the register
    is a max, which is what makes the sketch a DISTINCT counter.
    Plan: one scan; the groupBy partial-aggregates map-side, so the
    shuffle carries <= m rows per group per task regardless of corpus
    size."""
    _hll_check_m(m)
    g = list(group_cols or [])
    k = F.col(key)
    return (
        items.select(
            *g,
            _hll_bucket(k, m, salt).alias("bucket"),
            _hll_rho(k, salt).alias("rho"),
        )
        .groupBy(*g, "bucket")
        .agg(F.max("rho").alias("mreg"))
    )


def hll_merge(*sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Register-wise max of same-geometry sketches. Max is
    associative, commutative, and idempotent, so the merge is EXACT
    under arbitrary re-batching AND replay — stronger than the CMS
    sum, which is exact only for disjoint increment streams. This is
    what makes HLL the right shard-and-merge cardinality monitor:
    sketch every shard, max-fold, and the result equals the one-shot
    sketch of the union (law pinned in test_sketch.py)."""
    if not sketches:
        raise ValueError("hll_merge: pass at least one sketch")
    g = list(group_cols or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*g, "bucket").agg(F.max("mreg").alias("mreg"))


def hll_estimate(
    sketch: DataFrame,
    m: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cardinality estimate per group from an HLL register frame:
    ``(*group_cols, est)``.

    est = alpha_m * m^2 / sum_j 2^(-M_j), with absent registers
    counted at M_j = 0, rescaled by 2^49 so the harmonic sum is an
    exact BIGINT; the small-range branch (est <= 2.5m AND empty
    registers exist) substitutes linear counting m*ln(m/V) from the
    literal table. Standard error ~ 1.04/sqrt(m). The whole estimate
    is a two-row-wide aggregate per group — broadcastable back into
    any plan at any corpus size."""
    _hll_check_m(m)
    g = list(group_cols or [])
    numer = _hll_alpha(m) * m * m * float(2**_HLL_MAXRHO)
    agg = sketch.groupBy(*g).agg(
        F.count(F.lit(1)).alias("nf"),
        F.coalesce(
            F.sum(
                F.round(
                    F.pow(F.lit(2.0), F.lit(_HLL_MAXRHO) - F.col("mreg"))
                ).cast("long")
            ),
            F.lit(0).cast("long"),
        ).alias("sf"),
    )
    v = F.lit(m) - F.col("nf")
    s = F.col("sf") + v * F.lit(2**_HLL_MAXRHO)
    raw = F.lit(numer) / s.cast("double")
    lc = F.lit(None).cast("double")
    for vv in range(1, m):
        lc = F.when(v == vv, F.lit(m * math.log(m / vv))).otherwise(lc)
    est = (
        F.when(F.col("nf") == 0, F.lit(0.0))  # empty sketch: 0 distinct
        .when((raw <= 2.5 * m) & (v > 0), lc)
        .otherwise(raw)
    )
    return agg.select(*g, est.alias("est"))


def hll_distinct(
    items: DataFrame,
    key: str = "tok",
    m: int = 64,
    salt: str = "",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """One-shot build+estimate: approximate count(DISTINCT key) per
    group with m registers of state. The composition the monitors
    call; incremental maintenance goes through hll_build per batch +
    hll_merge at compaction instead."""
    return hll_estimate(
        hll_build(items, key=key, m=m, salt=salt, group_cols=group_cols),
        m=m,
        group_cols=group_cols,
    )


def hll_set_algebra(sk_a: DataFrame, sk_b: DataFrame, m: int = 64) -> DataFrame:
    """Distinct-set algebra over two SAME-GEOMETRY HLL sketches:
    one row ``(est_a, est_b, est_union, est_intersect, est_jaccard)``.

    Union is exact at the sketch level — the register-wise max of two
    sketches IS the sketch of the union (the idempotent-merge law), so
    ``est_union`` carries plain HLL error. Intersection has no sketch-
    level form; it is derived by inclusion-exclusion |A∩B| ≈ |A| +
    |B| − |A∪B| (Flajolet et al. 2007 §5 — the standard estimator;
    error grows as the true overlap shrinks relative to the union,
    clamped at 0 where noise would go negative). Jaccard =
    intersect/union on the same estimates.

    The cross-domain vocabulary/membership-overlap monitor at 100 TB:
    each side's state is m registers however large the corpus, the
    per-side estimates are 1-row aggregates, and the combination is a
    broadcast of three 1-row frames — nothing here rescans data. All
    arithmetic is on the engine-exact HLL estimates, so the whole row
    is hash-checkable cross-engine."""
    est_a = hll_estimate(sk_a, m=m).select(F.col("est").alias("est_a"))
    est_b = hll_estimate(sk_b, m=m).select(F.col("est").alias("est_b"))
    est_u = hll_estimate(hll_merge(sk_a, sk_b), m=m).select(
        F.col("est").alias("est_union")
    )
    row = est_a.crossJoin(F.broadcast(est_b)).crossJoin(F.broadcast(est_u))
    inter = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0.0)
    )
    return row.select(
        "est_a",
        "est_b",
        "est_union",
        F.round(inter, 6).alias("est_intersect"),
        F.when(
            F.col("est_union") > 0, F.round(inter / F.col("est_union"), 6)
        ).alias("est_jaccard"),
    )


# ---------------------------------------------------------------------------
# Bloom filter — fixed-width set MEMBERSHIP (Bloom 1970; survey:
# Broder & Mitzenmacher 2004). The third leg of the sketch family:
# CMS bounds frequency state, HLL bounds distinct-count state, the
# Bloom filter bounds membership state — the scale path for
# benchmark-decontamination screens, where the exact form keeps the
# full benchmark shingle set on the join's build side. One-sided the
# way a screen wants it: NO false negatives (every true member
# flags), only bounded-rate false positives — so a contamination
# screen driven by the filter is conservative: nothing contaminated
# ever slips through; a few clean grams may be over-flagged.
#
# Representation: (pos long) — the DISTINCT set bit positions, at
# most m_bits rows ever, broadcastable at any benchmark size. The
# position hash is the same portable md5 uniform, so an ANSI-SQL
# oracle reproduces the filter INCLUDING its false positives.


def _bloom_pos(key: F.Column, m_bits: int, i: int, salt: str) -> F.Column:
    h = F.md5(F.concat(key.cast("string"), F.lit(f":bloom{salt}:{i}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m_bits


def bloom_build(
    items: DataFrame,
    key: str = "tok",
    m_bits: int = 131072,
    k: int = 3,
    salt: str = "",
) -> DataFrame:
    """Build the filter from ``items[key]``: the distinct ``pos``
    rows of all k hashes. Size m_bits for the expected member count n
    as m_bits ~ 1.44 * k * n / ln(2)... practically: fp-rate ~
    (1 - e^(-k*n/m))^k; m = 2^17 holds ~30k members at k=3 under 5%.
    Geometry (m_bits, k, salt) is the filter's identity — frozen, as
    with every sketch here."""
    pos = F.explode(
        F.array(*[_bloom_pos(F.col(key), m_bits, i, salt) for i in range(k)])
    ).alias("pos")
    return items.select(pos).distinct()


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Bitwise OR of same-geometry filters = union-distinct of their
    position sets — exact for any re-batching (idempotent like the
    HLL max), so per-batch filters fold at compaction into exactly
    the one-shot filter of the union."""
    if not filters:
        raise ValueError("bloom_merge: pass at least one filter")
    out = filters[0]
    for f in filters[1:]:
        out = out.unionByName(f)
    return out.distinct()


def bloom_contains(
    bloom: DataFrame,
    probes: DataFrame,
    key: str = "tok",
    m_bits: int = 131072,
    k: int = 3,
    salt: str = "",
) -> DataFrame:
    """Membership test: probes columns + ``maybe_member`` (true iff
    ALL k positions are set). The filter side is <= m_bits rows and
    is broadcast k times (chained broadcast-hash joins collapse into
    the probe side's one stage) — the probe side NEVER shuffles,
    which is the whole point at corpus scale."""
    out = probes
    for i in range(k):
        b = F.broadcast(
            bloom.select(F.col("pos").alias(f"_bpos{i}"))
        )
        out = out.withColumn(f"_bp{i}", _bloom_pos(F.col(key), m_bits, i, salt))
        out = out.join(b, F.col(f"_bp{i}") == F.col(f"_bpos{i}"), "left")
    flag = F.lit(True)
    for i in range(k):
        flag = flag & F.col(f"_bpos{i}").isNotNull()
    drop = [f"_bp{i}" for i in range(k)] + [f"_bpos{i}" for i in range(k)]
    return out.withColumn("maybe_member", flag).drop(*drop)


def write_bloom(
    items: DataFrame,
    path: str,
    key: str = "tok",
    m_bits: int = 131072,
    k: int = 3,
    salt: str = "",
) -> None:
    """Build the filter from ``items[key]`` and persist it as a
    self-describing artifact: ``positions/`` parquet + a ``bloom.json``
    geometry sidecar (atomic flip, LAST — readers key their cache on
    its mtime, so a concurrent reader sees the old artifact or the
    new, never torn). Geometry travels WITH the filter so probe-side
    consumers (``read_bloom`` + ``bloom_contains``) can never apply
    mismatched hashes — the same sidecar discipline as the curator's
    LSH geometry and ``classifier.save_model``. Refreshing a
    benchmark set = calling this again over the same path."""
    bloom_build(items, key=key, m_bits=m_bits, k=k, salt=salt).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "positions"))
    write_json_atomic(os.path.join(path, "bloom.json"), {"m_bits": m_bits, "k": k, "salt": salt})


def read_bloom(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a ``write_bloom`` artifact: (positions frame, geometry
    dict) — pass both to ``bloom_contains``."""
    with open(os.path.join(path, "bloom.json")) as f:
        geo = json.load(f)
    return spark.read.parquet(os.path.join(path, "positions")), geo


def cms_heavy_hitters(
    items: DataFrame,
    key: str = "tok",
    k: int = 20,
    depth: int = 4,
    width: int = 2048,
    salt: str = "",
) -> DataFrame:
    """Top-``k`` keys by CMS estimate: build the sketch, estimate
    every distinct key, rank (est desc, key asc). Output
    ``(key, est, rn)``.

    Because estimates never undercount, every true heavy hitter's
    estimate is >= its true count — a key can only be displaced from
    the top-k by collision-inflated rivals, whose probability the
    depth*width geometry bounds. The cut is ``orderBy().limit(k)``
    => TakeOrdered (never a global sort); the rank column is then a
    window over the k survivors only."""
    from pyspark.sql import Window

    sketch = cms_build(items, key=key, depth=depth, width=width, salt=salt)
    est = cms_estimate(
        sketch,
        items.select(key).distinct(),
        key=key,
        depth=depth,
        width=width,
        salt=salt,
    )
    top = est.orderBy(F.desc("est"), F.asc(key)).limit(k)
    w = Window.orderBy(F.desc("est"), F.asc(key))
    return top.withColumn("rn", F.row_number().over(w).cast("int")).select(
        key, "est", "rn"
    )


# ---------------------------------------------------------------------------
# HDR histogram — mergeable bounded-relative-error quantiles
# (Tene, HdrHistogram; the log-structured histogram family). Completes
# the sketch quartet: CMS = frequency, HLL = cardinality, Bloom =
# membership, HDR = QUANTILES — the bounded-memory answer to the
# exact-percentile-at-scale hazard `robust_outlier_filter` documents
# (exact F.percentile buffers O(distinct values) on one merge task;
# the HDR sketch is <= (53 - sub_bits) * 2^sub_bits rows, ~1.6k at
# sub_bits=5, at ANY corpus size — and unlike percentile_approx it is
# MERGEABLE state maintainable per batch like the CMS/HLL tiers).
#
# Bucketing is PURE INTEGER arithmetic — exponent = length of the
# base-2 digit string, never a float log — so a DuckDB oracle rebuilds
# every bucket bit-for-bit and quantile estimates hash-match exactly:
#   e      = length(bin(v)) - 1                 (floor(log2 v); e(0)=0)
#   shift  = max(e - sub_bits, 0)
#   idx    = shift * 2^sub_bits + (v DIV 2^shift)
# Values < 2^sub_bits land in idx = v (EXACT unit resolution); each
# coarser level spans one octave in 2^sub_bits buckets, so the bucket
# lower bound lb(idx) under-states a member by a factor < 1 + 2^-s
# (relative error 3.1% at s=5, 1.6% at s=6).
#
# Domain contract: 0 <= v <= 2^52 integers (the double-exact range the
# DIV-by-pow2 arithmetic and the oracle both honor); negatives raise.


def _hdr_idx(v: F.Column, sub_bits: int) -> F.Column:
    e = F.length(F.conv(v.cast("string"), 10, 2)) - 1
    shift = F.greatest(e - F.lit(sub_bits), F.lit(0))
    p = F.pow(F.lit(2.0), shift).cast("long")  # exact: power of two
    guarded = F.when(
        (v >= 0) & (v <= F.lit(1 << 52)), v
    ).otherwise(
        F.raise_error(
            F.lit("hdr sketch: value outside the [0, 2^52] integer domain")
        )
    )
    # v / 2^shift is exact in doubles on the declared domain (scaling
    # by a power of two); floor makes it the integer right-shift
    return (
        shift * F.lit(1 << sub_bits) + F.floor(guarded / p).cast("long")
    ).alias("idx")


def hdr_build(
    items: DataFrame,
    value: str,
    group_cols: list[str] | None = None,
    sub_bits: int = 5,
    weight: str | None = None,
) -> DataFrame:
    """HDR histogram of ``items[value]`` per group:
    ``(group..., idx long, cnt long)``. One scan, map-side-combined
    groupBy bounded at sketch width per task — the CMS build shape.
    ``weight`` counts each row that many times (token-weighted
    length distributions etc.)."""
    g = list(group_cols or [])
    w = (F.col(weight) if weight is not None else F.lit(1)).cast("long")
    return (
        items.select(*g, _hdr_idx(F.col(value), sub_bits), w.alias("w"))
        .groupBy(*g, "idx")
        .agg(F.sum("w").alias("cnt"))
    )


def hdr_merge(
    *sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Cell-wise additive merge — the sketch of a union of batches.
    Same incremental-maintenance contract as ``cms_merge``."""
    g = list(group_cols or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*g, "idx").agg(F.sum("cnt").alias("cnt"))


def _hdr_lb(idx: F.Column, sub_bits: int) -> F.Column:
    """Bucket lower bound (the quantile representative): exact region
    returns idx itself; level buckets return sub * 2^shift."""
    shift = F.greatest(
        (idx.cast("long") / F.lit(1 << sub_bits)).cast("long") - 1, F.lit(0)
    )
    sub = idx - shift * F.lit(1 << sub_bits)
    return sub * F.pow(F.lit(2.0), shift).cast("long")


def hdr_quantiles(
    sketch: DataFrame,
    qs: list[float],
    group_cols: list[str] | None = None,
    sub_bits: int = 5,
) -> DataFrame:
    """Quantile estimates from the sketch: for each ``q`` in ``qs``,
    the LOWER BOUND of the bucket holding rank ``ceil(q * total)`` —
    ``(group..., q double, est long)``. Estimates never overshoot the
    true discrete lower quantile and undershoot it by < 2^-sub_bits
    relative (law-tested). The cumulative window runs over the
    SKETCH, whose width is fixed (~1.6k rows/group at sub_bits=5), so
    this stays cheap at any corpus size — the corpus-scale work ended
    at ``hdr_build``'s map-side-combined aggregation."""
    from pyspark.sql import Window

    g = list(group_cols or [])
    win = Window.partitionBy(*[F.col(c) for c in g]).orderBy("idx")
    cum = sketch.withColumn("cum", F.sum("cnt").over(win))
    totals = sketch.groupBy(*g).agg(F.sum("cnt").alias("total"))
    cum = cum.join(F.broadcast(totals), g) if g else cum.crossJoin(
        F.broadcast(totals)
    )
    qdf = cum.select(
        *g,
        "idx",
        "cum",
        "total",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    hit = qdf.filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
    first = hit.groupBy(*g, "q").agg(F.min("idx").alias("idx"))
    return first.select(
        *g, "q", _hdr_lb(F.col("idx"), sub_bits).cast("long").alias("est")
    )


def hdr_distance(sk_a: DataFrame, sk_b: DataFrame) -> DataFrame:
    """Total-variation distance between two SAME-GEOMETRY HDR
    histograms: one row ``(n_a, n_b, tv)`` with
    tv = 0.5 * Σ_buckets |p_i − q_i| over the normalized bucket
    masses, in [0, 1] (0 = identical distributions at bucket
    resolution, 1 = disjoint supports). The distribution-shift alarm
    on any sketched metric — the doc-length complement of
    ``embedding_drift_stats``: compare this crawl's (or this
    domain's) maintained length tier against the reference corpus's
    and trigger re-curation when the shape moves, from fixed-width
    state and arithmetic only (hash-checkable: bucket counts are
    integer-exact, the masses divide the engine-identical totals).
    Plan: two sketch-width aggregates + a full outer bucket join of
    two ≤-sketch-width frames — nothing rescans data. TV at bucket
    resolution LOWER-bounds the true TV (coarsening can only merge
    opposing mass), so alarms are conservative."""
    na = sk_a.agg(F.sum("cnt").alias("n_a"))
    nb = sk_b.agg(F.sum("cnt").alias("n_b"))
    a = sk_a.select("idx", F.col("cnt").alias("ca"))
    b = sk_b.select("idx", F.col("cnt").alias("cb"))
    j = (
        a.join(b, "idx", "full")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.coalesce(F.col("ca"), F.lit(0)) / F.col("n_a").cast("double")
                - F.coalesce(F.col("cb"), F.lit(0)) / F.col("n_b").cast("double")
            ).alias("ad"),
        )
    )
    from ..oracle import dsum

    return j.groupBy("n_a", "n_b").agg(
        F.round(F.lit(0.5) * dsum(F.round(F.col("ad"), 9)), 6).alias("tv")
    )


# ---------------------------------------------------------------------------
# Exact top-k via bounded candidate generation + recount
# ---------------------------------------------------------------------------


def topk_exact_candidates(
    items: DataFrame,
    key: str = "g",
    k: int = 20,
    capacity: int = 512,
) -> DataFrame:
    """EXACT top-``k`` keys by frequency WITHOUT shuffling the key
    TYPE table — the SpaceSaving pattern (Metwally et al. 2005,
    "Efficient computation of frequent and top-k elements in data
    streams", public) adapted to Spark's execution model:

    1. **Candidates** (one scan, no shuffle): an Arrow kernel per
       partition builds exact per-partition counts — the SAME hash
       map Spark's own partial aggregate would build, so no new
       memory class — and emits only its top-``capacity`` keys plus
       a miss bound: any key absent from partition p's candidates
       has count ≤ the capacity-th largest count in p (0 when the
       partition had ≤ capacity distinct keys). Per-row work stays
       in C (pandas ``value_counts`` per Arrow batch; Python touches
       only batch-DISTINCT keys).
    2. **Recount** (one scan + a bounded shuffle): exact global
       counts for the ≤ P×capacity candidate keys via a broadcast
       semi-join — the shuffle moves at most P×candidates partial
       rows, never the full TYPE table.
    3. **Proof**: a key missing from ALL candidate sets has true
       count ≤ B = Σ_p bound_p; the result is provably the exact
       top-k iff the k-th exact count > B. The operator RAISES when
       the inequality fails (remedy: raise ``capacity``) — it never
       returns a silently-approximate answer.

    Null keys are EXCLUDED by contract — filtered before the
    candidate kernel, so they appear in neither the candidate sets
    nor the per-partition miss bounds (pandas ``value_counts`` would
    silently drop them from the counts but not the proof; the
    explicit filter makes the exactness guarantee cover exactly the
    non-null domain).

    Driver-side state is bounded by construction: ONE scalar (B) and
    the k result rows; candidates stay distributed. Contrast
    ``cms_heavy_hitters`` (fixed-width but approximate and must still
    aggregate every distinct key) — this operator is exact, and its
    data cost is two scans + a candidate-sized exchange. At 100 TB
    with a power-law key distribution the capacity-th per-partition
    count is deep in the tail, so B stays far below any real heavy
    hitter.

    Output: ``(key, cnt, rn)``, rn 1..k by (cnt desc, key asc)."""
    import pandas as pd

    items = items.filter(F.col(key).isNotNull())
    out_schema = f"{key} string, pcnt long, pid int, pbound long"

    def kern(it):
        from collections import Counter

        from pyspark import TaskContext

        c: Counter = Counter()
        for pdf in it:
            c.update(pdf[key].value_counts().to_dict())
        pid = TaskContext.get().partitionId()
        ordered = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        bound = ordered[capacity][1] if len(ordered) > capacity else 0
        top = ordered[:capacity]
        yield pd.DataFrame(
            {
                key: [t[0] for t in top],
                "pcnt": [t[1] for t in top],
                "pid": pid,
                "pbound": bound,
            }
        )

    # persist the candidate table (round 13, guide §2.4): it has TWO
    # consumers — the recount's broadcast key set and the miss-bound
    # aggregate — and without the cache the second one re-ran the
    # whole candidate kernel (a full pass over the key table), making
    # the operator 3 scans where the SpaceSaving design needs 2. The
    # cache is bounded at partitions×capacity rows by construction.
    cands = items.select(key).mapInPandas(kern, out_schema).persist()
    cand_keys = cands.select(key).distinct()
    exact = (
        items.join(F.broadcast(cand_keys), key)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top_rows = exact.orderBy(F.desc("cnt"), F.asc(key)).limit(k).collect()
    miss_bound = (
        cands.select("pid", "pbound").distinct().agg(F.sum("pbound")).collect()[0][0]
        or 0
    )
    cands.unpersist()
    if len(top_rows) < k or top_rows[-1]["cnt"] <= miss_bound:
        raise ValueError(
            f"top-{k} not provable: k-th count "
            f"{top_rows[-1]['cnt'] if top_rows else None} <= miss bound "
            f"{miss_bound}; raise capacity (= {capacity})"
        )
    spark = items.sparkSession
    return spark.createDataFrame(
        [(r[key], r["cnt"], i + 1) for i, r in enumerate(top_rows)],
        f"{key} string, cnt long, rn int",
    )
