"""IncrementalLineDeduper: greedy first-writer-wins line dedup across
micro-batches, its equivalence law with the batch operator, replay
idempotence, and compaction transparency."""

import os

import pytest
from pyspark.sql import functions as F

from play_with_pulsar_spark.operators import textops
from play_with_pulsar_spark.streaming.line_dedup import IncrementalLineDeduper


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run(spark, tmp_path, batches, **kw):
    d = IncrementalLineDeduper(spark, str(tmp_path / "state"), **kw)
    for k, b in enumerate(batches):
        d.process_batch(b, k)
    return d


def test_acceptance_time_beats_id_order(spark, tmp_path):
    """A line kept in batch 0 is removed from batch 1 even when the
    batch-1 doc has a SMALLER id — the greedy streaming rule, which a
    single global batch run would decide the other way."""
    dup = "s0 s1 s2"
    b0 = _docs(spark, [(10, f"{dup} a0 a1")])
    b1 = _docs(spark, [(1, f"{dup} b0 b1")])
    d = _run(spark, tmp_path, [b0, b1], segment_tokens=3)
    out = {r.doc_id: r for r in d.deduped().collect()}
    assert out[10].text_dedup == f"{dup} a0 a1"
    assert out[1].text_dedup == "b0 b1" and out[1].n_removed == 1
    # contrast: the batch operator on the union keeps doc 1's copy
    batch = textops.line_dedup(b0.unionByName(b1), segment_tokens=3)
    g = {r.doc_id: r.text_dedup for r in batch.collect()}
    assert g[1].startswith(dup) and not g[10].startswith(dup)


def test_equivalence_law_with_batch_operator(spark, tmp_path):
    """When batch order agrees with doc_id order (range-split batches),
    the incremental fold equals the batch operator's global
    first-occurrence rule exactly — the law that makes the streaming
    loop hash-checkable."""
    shared, boiler = "x0 x1 x2 x3", "y0 y1 y2 y3"
    rows = [
        (0, f"{shared} a0 a1 a2 a3"),
        (1, f"{boiler} b0 b1 b2 b3"),
        (4, f"{shared} {boiler}"),
        (5, f"c0 c1 c2 c3 {shared}"),
        (8, f"{boiler} {boiler}"),
        (9, "d0 d1 d2 d3"),
    ]
    docs = _docs(spark, rows)
    batches = [
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 4))
        for lo in (0, 4, 8)
    ]
    d = _run(spark, tmp_path, batches, segment_tokens=4)
    inc = sorted(map(tuple, d.deduped().collect()))
    ref = sorted(map(tuple, textops.line_dedup(docs, segment_tokens=4).collect()))
    assert inc == ref


def test_replay_is_idempotent(spark, tmp_path):
    """Reprocessing a committed batch changes nothing: same rewritten
    docs, no duplicate index rows (the _SUCCESS skip), and a replay
    after deleting the output marker rescreens against exactly the
    pre-batch index (exclude_batch) so decisions are identical."""
    dup = "r0 r1 r2"
    b0 = _docs(spark, [(0, f"{dup} a0 a1")])
    b1 = _docs(spark, [(1, f"{dup} b0 b1"), (2, "u0 u1 u2")])
    d = _run(spark, tmp_path, [b0, b1], segment_tokens=3)
    before = sorted(map(tuple, d.deduped().collect()))
    n_idx = d._index().count()
    d.process_batch(b1, 1)  # committed → skipped
    assert sorted(map(tuple, d.deduped().collect())) == before
    assert d._index().count() == n_idx
    # partial-commit replay: output marker gone, index partition live
    os.remove(os.path.join(d._batch_dir(d.out_dir, 1), "_SUCCESS"))
    d.process_batch(b1, 1)
    assert sorted(map(tuple, d.deduped().collect())) == before
    assert d._index().count() == n_idx
    idx = d._index()
    assert idx.count() == idx.distinct().count()


def test_compaction_is_decision_transparent(spark, tmp_path):
    """compact() between batches changes neither later decisions nor
    the index contents; folded batch dirs are deleted and a second
    compaction drops the predecessor version."""
    dup = "k0 k1 k2"
    batches_rows = [
        [(0, f"{dup} a0 a1")],
        [(1, f"{dup} b0 b1"), (2, "m0 m1 m2")],
        [(3, f"m0 m1 m2 {dup} z0 z1 z2")],
    ]
    plain = _run(
        spark,
        tmp_path / "plain",
        [_docs(spark, r) for r in batches_rows],
        segment_tokens=3,
    )
    d = IncrementalLineDeduper(spark, str(tmp_path / "comp"), segment_tokens=3)
    d.process_batch(_docs(spark, batches_rows[0]), 0)
    d.process_batch(_docs(spark, batches_rows[1]), 1)
    assert d.compact() is True
    assert not os.path.exists(d._batch_dir(d.lines_dir, 0))
    d.process_batch(_docs(spark, batches_rows[2]), 2)
    assert sorted(map(tuple, d.deduped().collect())) == sorted(
        map(tuple, plain.deduped().collect())
    )
    assert sorted(r.lh for r in d._index().collect()) == sorted(
        r.lh for r in plain._index().collect()
    )
    assert d.compact() is True  # folds batch 2, drops data_v0
    assert not os.path.exists(os.path.join(d.compacted_dir, "data_v0"))
    assert os.path.exists(os.path.join(d.compacted_dir, "data_v1"))
    assert sorted(r.lh for r in d._index().collect()) == sorted(
        r.lh for r in plain._index().collect()
    )


def test_compact_in_crash_window_preserves_replay(spark, tmp_path):
    """ADVICE r7 (high): compact() between a batch's crash and its
    replay must NOT fold the uncommitted batch's hashes into the
    compacted tier — the replay's exclude_batch filter cannot reach
    inside the tier, so the batch would anti-join against its own
    lines and silently lose every unique line. The fold input is the
    contiguous _SUCCESS-committed prefix only."""
    b0 = _docs(spark, [(0, "c0 c1 c2 a0 a1")])
    b1 = _docs(spark, [(1, "c0 c1 c2 b0 b1"), (2, "u0 u1 u2")])
    clean = _run(spark, tmp_path / "clean", [b0, b1], segment_tokens=3)

    d = IncrementalLineDeduper(spark, str(tmp_path / "crash"), segment_tokens=3)
    d.process_batch(b0, 0)
    d.process_batch(b1, 1)
    # simulate the crash window: batch 1 wrote its dirs but neither
    # commit marker landed
    os.remove(os.path.join(d._batch_dir(d.lines_dir, 1), "_SUCCESS"))
    os.remove(os.path.join(d._batch_dir(d.out_dir, 1), "_SUCCESS"))
    assert d.compact() is True  # folds batch 0 ONLY
    assert d._covered_upto() == 0
    # the uncommitted dir is left for the replay, not folded
    assert os.path.exists(d._batch_dir(d.lines_dir, 1))
    d.process_batch(b1, 1)  # replay
    assert sorted(map(tuple, d.deduped().collect())) == sorted(
        map(tuple, clean.deduped().collect())
    )
    assert sorted(r.lh for r in d._index().collect()) == sorted(
        r.lh for r in clean._index().collect()
    )


def test_compact_watermark_stops_at_gap(spark, tmp_path):
    """covered_upto never advances past an uncommitted batch id, even
    when LATER batches are committed — otherwise the gap batch's
    replayed dir would be pruned from every future index read. The
    later committed dir stays live and folds on the next compact."""
    b0 = _docs(spark, [(0, "g0 g1 g2 a0 a1")])
    b1 = _docs(spark, [(1, "g0 g1 g2 b0 b1")])
    b2 = _docs(spark, [(2, "h0 h1 h2")])
    clean = _run(spark, tmp_path / "clean", [b0, b1, b2], segment_tokens=3)

    d = IncrementalLineDeduper(spark, str(tmp_path / "gap"), segment_tokens=3)
    for k, b in enumerate([b0, b1, b2]):
        d.process_batch(b, k)
    os.remove(os.path.join(d._batch_dir(d.lines_dir, 1), "_SUCCESS"))
    os.remove(os.path.join(d._batch_dir(d.out_dir, 1), "_SUCCESS"))
    assert d.compact() is True
    assert d._covered_upto() == 0
    assert os.path.exists(d._batch_dir(d.lines_dir, 2))  # not folded
    d.process_batch(b1, 1)  # replay heals the gap
    assert d.compact() is True  # now folds 1 and 2
    assert d._covered_upto() == 2
    assert sorted(map(tuple, d.deduped().collect())) == sorted(
        map(tuple, clean.deduped().collect())
    )
    assert sorted(r.lh for r in d._index().collect()) == sorted(
        r.lh for r in clean._index().collect()
    )


def test_position_encoding_overflow_raises(spark, tmp_path):
    """A document with more lines than the position encoding admits
    fails loudly (distributed raise_error), not with silent wrong
    ordering."""
    from play_with_pulsar_spark.operators.textops import _LINE_POS_LIM

    d = IncrementalLineDeduper(
        spark, str(tmp_path / "state"), delimiter="\n"
    )
    # fake the overflow cheaply: one doc whose split yields > LIM lines
    # is impractical to materialize; instead check the guard column on
    # a crafted occurrence frame via the internal helper with a tiny
    # patched limit — the codegen expression is the same object.
    import play_with_pulsar_spark.streaming.line_dedup as mod

    orig = mod._LINE_POS_LIM
    mod._LINE_POS_LIM = 2
    try:
        batch = _docs(spark, [(0, "l0\nl1\nl2")])
        with pytest.raises(Exception, match="position encoding"):
            d.process_batch(batch, 0)
    finally:
        mod._LINE_POS_LIM = orig


def test_line_deduper_via_real_stream(spark, tmp_path):
    """attach() with no trigger kwargs must run (availableNow default
    — a bare .trigger() raises in pyspark, so the old pass-through
    made attach(stream, ckpt) unusable) and the streamed fold must
    keep one copy of the shared line."""
    from play_with_pulsar_spark.streaming.line_dedup import IncrementalLineDeduper

    line = " ".join(f"w{i}" for i in range(10))
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, line)], "doc_id long, text string").write.parquet(src + "/f1")
    spark.createDataFrame([(2, line)], "doc_id long, text string").write.parquet(src + "/f2")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    d = IncrementalLineDeduper(spark, str(tmp_path / "state"), segment_tokens=10)
    q = d.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {r.doc_id: r.n_removed for r in d.deduped().collect()}
    assert set(got) == {1, 2}
    assert sorted(got.values()) == [0, 1]  # one copy kept, one removed


def test_replay_of_a_compacted_batch_changes_nothing(spark, tmp_path):
    """A batch that compact() already folded counts as committed: its
    replay is skipped. Screening it again would anti-join its lines
    against the compacted tier, which holds them and which the
    replay's exclude_batch filter cannot reach, and rewrite its output
    with every kept line removed."""
    b0 = _docs(spark, [(0, "c0 c1 c2 a0 a1 a2")])
    b1 = _docs(spark, [(1, "c0 c1 c2 b0 b1 b2"), (2, "u0 u1 u2")])
    d = _run(spark, tmp_path, [b0, b1], segment_tokens=3)
    before = sorted(map(tuple, d.deduped().collect()))
    assert d.compact() is True
    assert d._covered_upto() == 1
    d.process_batch(b1, 1)  # replay after the fold
    after = {r.doc_id: r.text_dedup for r in d.deduped().collect()}
    assert after[1] == "b0 b1 b2" and after[2] == "u0 u1 u2"
    assert sorted(map(tuple, d.deduped().collect())) == before


def test_deduped_excludes_uncommitted_partitions(spark, tmp_path):
    """An ``ingest_batch=`` output dir without its ``_SUCCESS`` marker
    (the state a mid-write crash leaves) is invisible to ``deduped()``
    until the batch replays."""
    b0 = _docs(spark, [(0, "c0 c1 c2 a0 a1")])
    b1 = _docs(spark, [(1, "u0 u1 u2")])
    d = _run(spark, tmp_path, [b0], segment_tokens=3)
    before = sorted(map(tuple, d.deduped().collect()))
    # simulate a crashed batch-1 write: rows on disk, no marker
    spark.createDataFrame(
        [(1, "u0 u1 u2", 1, 1, 0)], d.out_schema
    ).write.mode("overwrite").parquet(d._batch_dir(d.out_dir, 1))
    os.remove(os.path.join(d._batch_dir(d.out_dir, 1), "_SUCCESS"))
    assert sorted(map(tuple, d.deduped().collect())) == before
    d.process_batch(b1, 1)  # the replay commits it and the row appears
    assert {r.doc_id for r in d.deduped().collect()} == {0, 1}
