"""Incremental winnowed substring dedup: equivalence law, retention
order, replay, compaction, and the winnowing guarantee."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from play_with_pulsar_spark.operators.textops import excise_winnowed_spans
from play_with_pulsar_spark.streaming.substr_dedup import IncrementalSubstrDeduper


def _rows(df):
    return {
        r.doc_id: (r.n_tokens, r.clean_text, r.n_tokens_kept, r.n_tokens_dropped)
        for r in df.collect()
    }


RUN = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"  # 12 toks


def _corpus(spark):
    """Docs with a shared 12-token run (= n+w−1 at n=5, w=8 — the
    exact threshold at which the per-window winnowing rule GUARANTEES
    a shared anchor), a within-doc repeat, and unique fillers."""
    return spark.createDataFrame(
        [
            (1, RUN + " one two three four five"),
            (2, "x1 x2 x3 x4 x5 " + RUN),                  # cross-doc copy
            (3, RUN + " tail1 tail2 " + RUN),              # within-doc repeat
            (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),  # unique
            (5, "v1 v2 v3 v4 v5 " + RUN + " v6 v7"),       # another copy
        ],
        "doc_id long, text string",
    )


def test_incremental_equals_batch_on_union_monotone(spark):
    """When batch order agrees with id order, the incremental fold
    equals the batch operator over the union — token for token."""
    docs = _corpus(spark)
    want = _rows(excise_winnowed_spans(docs, n=5, w=8))
    base = tempfile.mkdtemp(prefix="pwp_substr_eq_")
    try:
        d = IncrementalSubstrDeduper(spark, base, n=5, w=8)
        d.process_batch(docs.filter(F.col("doc_id") <= 2), 0)
        d.process_batch(docs.filter(F.col("doc_id").isin(3, 4)), 1)
        d.process_batch(docs.filter(F.col("doc_id") == 5), 2)
        got = _rows(d.deduped())
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert got == want
    # the shared 12-token run anchors BY CONSTRUCTION (≥ n+w−1
    # tokens): every later copy lost its span
    assert all(got[i][3] > 0 for i in (2, 3, 5))
    assert got[4][3] == 0  # unique doc untouched


def test_first_writer_wins_across_batches(spark):
    """Acceptance TIME beats id order: a batch-0 doc with a LARGER id
    claims the anchors; the batch-1 doc with the smaller id is the
    one excised (the line_dedup retention convention)."""
    docs = spark.createDataFrame(
        [(10, "pad1 pad2 " + RUN), (3, RUN + " pad3 pad4")],
        "doc_id long, text string",
    )
    base = tempfile.mkdtemp(prefix="pwp_substr_fww_")
    try:
        d = IncrementalSubstrDeduper(spark, base, n=5, w=8)
        d.process_batch(docs.filter(F.col("doc_id") == 10), 0)
        d.process_batch(docs.filter(F.col("doc_id") == 3), 1)
        got = _rows(d.deduped())
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert got[10][3] == 0          # earlier batch keeps, despite id 10 > 3
    assert got[3][3] > 0            # later batch's smaller id is excised


def test_replay_idempotent_and_excludes_own_partition(spark):
    """Reprocessing a committed batch is a no-op skip; a replay after
    a lost _SUCCESS rewrites the same output (the index read excludes
    the in-flight batch, so the doc never screens against itself)."""
    docs = _corpus(spark)
    base = tempfile.mkdtemp(prefix="pwp_substr_replay_")
    try:
        d = IncrementalSubstrDeduper(spark, base, n=5, w=8)
        d.process_batch(docs.filter(F.col("doc_id") <= 3), 0)
        before = _rows(d.deduped())
        d.process_batch(docs.filter(F.col("doc_id") <= 3), 0)  # skip
        assert _rows(d.deduped()) == before
        os.remove(os.path.join(d._batch_dir(d.out_dir, 0), "_SUCCESS"))
        d.process_batch(docs.filter(F.col("doc_id") <= 3), 0)  # rewrite
        assert _rows(d.deduped()) == before
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_preserves_screen_and_output(spark):
    """Compaction folds the anchor index without changing either the
    committed rewrites or the screening of later batches."""
    docs = _corpus(spark)
    want = _rows(excise_winnowed_spans(docs, n=5, w=8))
    base = tempfile.mkdtemp(prefix="pwp_substr_compact_")
    try:
        d = IncrementalSubstrDeduper(spark, base, n=5, w=8)
        d.process_batch(docs.filter(F.col("doc_id") <= 2), 0)
        d.process_batch(docs.filter(F.col("doc_id").isin(3, 4)), 1)
        assert d.compact()
        man = d._manifest()
        assert man == {"covered_upto": 1, "version": 0}
        assert not os.path.exists(d._batch_dir(d.anchors_dir, 0))
        d.process_batch(docs.filter(F.col("doc_id") == 5), 2)
        assert _rows(d.deduped()) == want
        assert d.compact()  # folds compacted tier + batch 2
        assert d._manifest()["covered_upto"] == 2
        assert _rows(d.deduped()) == want
        assert not d.compact()  # nothing left to fold
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_shared_run_anchors_on_fixture(spark):
    """The restored winnowing guarantee on this fixture: the shared
    12-token run is exactly n+w−1 tokens, the threshold at which the
    per-window rule shares an anchor BY CONSTRUCTION, so every copy
    is excised — no hash-value luck involved."""
    long_dup = _corpus(spark)
    out = _rows(excise_winnowed_spans(long_dup, n=5, w=8))
    assert out[2][3] > 0 and out[5][3] > 0


def _py_winnow_anchors(texts, n=5, w=8):
    """Independent pure-python reference of the winnowed-anchor
    selection (tokenize → gram strings → Horner base-257 mod 2^31-1 →
    per-window RIGHTMOST minima, Schleimer 2003; window starts
    s ∈ [0, max(G−w, 0)], so a doc with fewer than w grams winnows
    its single truncated window)."""
    out = {}
    for did, text in texts:
        grams, hs = _py_grams_hashes(text, n)
        sel = set()
        for s in range(0, max(len(hs) - w, 0) + 1):
            win = hs[s : s + w]
            m = min(win)
            sel.add(s + max(i for i, hv in enumerate(win) if hv == m))
        out[did] = sorted((p, hs[p], grams[p]) for p in sel)
    return out


def _py_grams_hashes(text, n=5):
    import re

    B, M = 257, (1 << 31) - 1
    toks = re.split(r"\s+", (text or "").strip().lower())
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    hs = []
    for g in grams:
        h = 0
        for ch in g:
            h = (h * B + ord(ch)) % M
        hs.append(h)
    return grams, hs


def test_winnowed_selection_matches_python_reference(spark):
    """The Catalyst fold selection (hash values, positions, gram
    strings) equals an independent python implementation on a corpus
    with repeats, unicode, punctuation and whitespace runs."""
    from play_with_pulsar_spark.operators.textops import (
        _winnowed_anchor_occurrences,
    )

    texts = [
        (1, "a quick brown fox jumps over the lazy dog again and again"),
        (2, "x " * 40),                        # degenerate repeats
        (3, "  padded   with   runs of spaces one two three four five "),
        (4, "naïve café déjà vu été naïve café déjà vu été extra token"),
        (5, "p1, p2; p3! p4? p5: p6 p7 (p8) [p9] {p10} p11 p12"),
    ]
    want = _py_winnow_anchors(texts)
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in _winnowed_anchor_occurrences(docs, "text", "doc_id", 5, 8).collect():
        got.setdefault(r.doc_id, []).append((r.pos, r.gh, r.g))
    for did in want:
        assert sorted(got.get(did, [])) == sorted(want[did]), did


def test_winnowed_kernels_agree(spark):
    """Round 12 (optimization): the Arrow/numpy kernel (the default)
    and the per-row Catalyst fold produce the SAME (doc_id, pos, gh,
    g, k) row set — including the unicode, whitespace-run, degenerate
    -repeat and short-doc (< w grams) fixtures, NULL/empty text, and
    the increasing-hash adversarial run. Both also match the
    independent python reference."""
    from play_with_pulsar_spark.operators.textops import (
        _winnowed_anchor_occurrences,
    )

    texts = [
        (1, "a quick brown fox jumps over the lazy dog again and again"),
        (2, "x " * 40),
        (3, "  padded   with   runs of spaces one two three four five "),
        (4, "naïve café déjà vu été naïve café déjà vu été extra token"),
        (5, "p1, p2; p3! p4? p5: p6 p7 (p8) [p9] {p10} p11 p12"),
        (6, "four tokens only here"),            # < n tokens: no rows
        (7, "six tokens just over the line ok"), # n<=G<w: truncated window
        (8, None),
        (9, ""),
        (10, ADV_A),
        (11, ADV_B),
        (12, "tab\tand\nnewline \t mixed   whitespace run one two"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    rows = lambda df: sorted(
        (r.doc_id, r.pos, r.gh, r.g, r.k) for r in df.collect()
    )
    arrow = rows(_winnowed_anchor_occurrences(docs, "text", "doc_id", 5, 8))
    sql = rows(
        _winnowed_anchor_occurrences(docs, "text", "doc_id", 5, 8, strategy="sql")
    )
    assert arrow == sql
    want = _py_winnow_anchors([t for t in texts if t[1] and len(t[1].split()) >= 5])
    got = {}
    for did, pos, gh, g, _ in arrow:
        got.setdefault(did, []).append((pos, gh, g))
    for did, sel in want.items():
        assert sorted(got.get(did, [])) == sorted(sel), did


# A 12-token run whose 8 gram hashes are STRICTLY INCREASING under
# the portable Horner hash — the adversarial shape that defeated the
# retired round-8 trailing-minima rule (commit 797843d: its
# context-independent positions select nothing in such a run, so the
# two copies shared no anchor). Found by search over the real hash;
# the values are pinned by the assertion below.
ADV_RUN = "r553 r52 r241 r681 r287 r900 r635 r171 r751 r380 r820 r850"
ADV_A = "a540 a580 a570 a905 a156 a479 " + ADV_RUN
ADV_B = "b951 b246 b155 b117 b601 " + ADV_RUN + " c1 c2"


def test_increasing_hash_adversarial_run_anchors(spark):
    """The case that broke trailing minima now anchors BY
    CONSTRUCTION: a shared 12-token run with strictly increasing
    interior gram hashes (verified here against the pure-python
    hash) shares an anchor between both contexts under the
    per-window rule — trailing minima provably shared none — and the
    excision drops the later copy's span."""
    from play_with_pulsar_spark.operators.textops import (
        _winnowed_anchor_occurrences,
    )

    _, rh = _py_grams_hashes(ADV_RUN)
    assert all(rh[i] < rh[i + 1] for i in range(len(rh) - 1))
    # trailing-w-window minima (the retired rule) shared NO run gram
    # between the two contexts on this fixture
    def trail_run_grams(text):
        grams, hs = _py_grams_hashes(text)
        sel = {
            grams[i]
            for i in range(len(hs))
            if hs[i] <= min(hs[max(0, i - 8 + 1) : i + 1])
        }
        return sel & set(_py_grams_hashes(ADV_RUN)[0])

    assert not (trail_run_grams(ADV_A) & trail_run_grams(ADV_B))
    docs = spark.createDataFrame(
        [(1, ADV_A), (2, ADV_B)], "doc_id long, text string"
    )
    got = {}
    for r in _winnowed_anchor_occurrences(docs, "text", "doc_id", 5, 8).collect():
        got.setdefault(r.doc_id, set()).add(r.g)
    run_grams = set(_py_grams_hashes(ADV_RUN)[0])
    assert got[1] & got[2] & run_grams          # shared run anchor
    out = _rows(excise_winnowed_spans(docs, n=5, w=8))
    assert out[2][3] >= 5                        # later copy excised


def test_window_guarantee_property():
    """Pure-python property pin of the restored guarantee: for random
    runs of exactly n+w−1 tokens planted into two random contexts,
    the per-window selections of both documents always share a
    run-gram anchor — including runs with monotone hash sequences,
    which trailing minima missed."""
    import random

    rng = random.Random(1202)
    n, w = 5, 8
    for _ in range(150):
        run = " ".join(f"r{rng.randrange(1000)}" for _ in range(n + w - 1))
        a = " ".join(f"a{rng.randrange(1000)}" for _ in range(rng.randrange(0, 9)))
        b = " ".join(f"b{rng.randrange(1000)}" for _ in range(rng.randrange(0, 9)))
        da = (a + " " + run).strip()
        db = (b + " " + run + " c1").strip()
        sel = _py_winnow_anchors([(1, da), (2, db)], n=n, w=w)
        run_grams = set(_py_grams_hashes(run, n)[0])
        ga = {g for _, _, g in sel[1]} & run_grams
        gb = {g for _, _, g in sel[2]} & run_grams
        assert ga & gb, (da, db)


def test_winnowed_excision_is_subset_of_exact_keepfirst(spark):
    """Containment law: an occurrence winnowing excises is never the
    gram's GLOBAL first occurrence (the selected first is >= the
    global first), so the winnowed drop count per doc is bounded by
    the every-gram exact form's at the same n."""
    from play_with_pulsar_spark.operators.textops import (
        excise_keepfirst_spans,
        excise_winnowed_spans,
    )
    from play_with_pulsar_spark.queries import _substr_plant

    plant = _substr_plant(spark, "/root/testdata/sf0.001")
    wn = {
        r.doc_id: r.n_tokens_dropped
        for r in excise_winnowed_spans(plant, n=5, w=8).collect()
    }
    ex = {
        r.doc_id: r.n_tokens_dropped
        for r in excise_keepfirst_spans(plant, n=5).collect()
    }
    assert set(wn) == set(ex)
    assert all(wn[d] <= ex[d] for d in wn)
    # and the law is not vacuous: both sides drop something, and the
    # exact form drops strictly more somewhere (short dups slip the
    # 1/w sample)
    assert sum(wn.values()) > 0
    assert sum(ex.values()) > sum(wn.values())


def test_deduped_excludes_uncommitted_partitions(spark):
    """Crash-window read contract (round-12 advice fix): an
    ``ingest_batch=`` output dir without its ``_SUCCESS`` marker —
    the state a mid-write crash leaves — is invisible to
    ``deduped()`` until the batch replays."""
    docs = _corpus(spark)
    base = tempfile.mkdtemp(prefix="pwp_substr_crash_")
    try:
        d = IncrementalSubstrDeduper(spark, base, n=5, w=8)
        d.process_batch(docs.filter(F.col("doc_id") <= 2), 0)
        before = _rows(d.deduped())
        assert set(before) == {1, 2}
        # simulate a crashed batch-1 write: rows on disk, no marker
        docs.filter(F.col("doc_id") == 4).select(
            "doc_id",
            F.lit(12).cast("bigint").alias("n_tokens"),
            F.col("text").alias("clean_text"),
            F.lit(12).cast("bigint").alias("n_tokens_kept"),
            F.lit(0).cast("bigint").alias("n_tokens_dropped"),
        ).write.mode("overwrite").parquet(d._batch_dir(d.out_dir, 1))
        os.remove(os.path.join(d._batch_dir(d.out_dir, 1), "_SUCCESS"))
        assert _rows(d.deduped()) == before
        # the replay commits it and the rows appear
        d.process_batch(docs.filter(F.col("doc_id") == 4), 1)
        assert set(_rows(d.deduped())) == {1, 2, 4}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_substr_deduper_via_real_stream(spark, tmp_path):
    """The deduper as an actual Structured Streaming sink
    (foreachBatch via attach): one micro-batch per file; whichever
    copy of the duplicated run arrives first keeps it, the other is
    excised — and the unique docs pass untouched."""
    src = str(tmp_path / "src")
    # doc texts from _corpus: the shared 12-token run (= n+w−1)
    # anchors in both contexts by construction
    spark.createDataFrame(
        [(1, RUN + " one two three four five")], "doc_id long, text string"
    ).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(2, "x1 x2 x3 x4 x5 " + RUN),
         (3, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12")],
        "doc_id long, text string",
    ).write.parquet(src + "/f2")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    d = IncrementalSubstrDeduper(spark, str(tmp_path / "state"), n=5, w=8)
    q = d.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = _rows(d.deduped())
    assert set(got) == {1, 2, 3}
    dropped = {i for i in (1, 2) if got[i][3] > 0}
    assert len(dropped) == 1          # exactly one copy lost the run
    assert got[3][3] == 0             # unique doc untouched


def test_replay_of_a_compacted_batch_changes_nothing(spark, tmp_path):
    """A batch that compact() already folded counts as committed: its
    replay is skipped. Screening it again would probe its anchors
    against the compacted tier, which holds them and which the
    replay's exclude_batch filter cannot reach, and excise the batch's
    own first copies."""
    docs = _corpus(spark)
    d = IncrementalSubstrDeduper(spark, str(tmp_path / "state"), n=5, w=8)
    d.process_batch(docs.filter(F.col("doc_id") <= 2), 0)
    d.process_batch(docs.filter(F.col("doc_id").isin(3, 4)), 1)
    before = _rows(d.deduped())
    assert d.compact()  # folds batches 0 and 1
    d.process_batch(docs.filter(F.col("doc_id").isin(3, 4)), 1)  # replay
    after = _rows(d.deduped())
    assert after[4][3] == 0  # the unique doc keeps every token
    assert after == before
