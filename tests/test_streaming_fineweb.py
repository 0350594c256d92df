"""The maintained FineWeb funnel tier (round 11 — the r10 verdict's
sequel to the screen-funnel ledger): per-batch verdict partitions +
read-time canonical min must equal the batch recipe on the same
ingress prefix, in any arrival order, through replays and
compactions."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from play_with_pulsar_spark.operators.textops import fineweb_signal_stack
from play_with_pulsar_spark.queries import _fineweb_pages, _t
from play_with_pulsar_spark.streaming.curator import StreamingCorpusCurator

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    return (
        _fineweb_pages(_t(spark, SF, "documents"))
        .select("doc_id", F.col("page").alias("text"))
        .localCheckpoint(eager=True)
    )


def _batch_answer(pages):
    """The batch recipe's funnel computed directly from the shared
    signal stack — the reference every streamed variant must equal."""
    full = fineweb_signal_stack(pages, page_col="text")
    cm = full.groupBy("h").agg(
        F.min(F.when(F.col("pass"), F.col("doc_id"))).alias("cmin")
    )
    is_canon = F.col("pass") & (F.col("doc_id") == F.col("cmin"))
    return {
        r.doc_id: (r.c4_kept, r.quality_kept, r.rep_kept, bool(r.ic))
        for r in full.join(cm, "h")
        .select("doc_id", "c4_kept", "quality_kept", "rep_kept",
                is_canon.alias("ic"))
        .collect()
    }


def _funnel_rows(cur):
    return {
        r.doc_id: (r.c4_kept, r.quality_kept, r.rep_kept, r.is_canonical)
        for r in cur.fineweb_funnel().collect()
    }


def test_fineweb_tier_equals_batch_recipe_any_order(spark, pages):
    """Streamed == batch on the same prefix, for two DIFFERENT
    arrival orders (the canonical min is order-independent), with
    every stage non-vacuous."""
    want = _batch_answer(pages)
    # id-interleaved and reversed-batch arrivals
    for order in ([0, 1, 2], [2, 0, 1]):
        base = tempfile.mkdtemp(prefix="pwp_fwtier_")
        try:
            cur = StreamingCorpusCurator(
                spark, base, screen="simhash", fineweb_recipe=True
            )
            for i, k in enumerate(order):
                cur.process_batch(
                    pages.filter(F.col("doc_id") % 3 == k), i
                )
            got = _funnel_rows(cur)
        finally:
            shutil.rmtree(base, ignore_errors=True)
        assert got == want
    # non-vacuous per stage on this fixture
    vals = list(want.values())
    assert any(not v[0] for v in vals)          # c4 rejects
    assert any(v[0] and not v[1] for v in vals)  # quality rejects a c4-pass
    assert any(v[0] and v[1] and not v[2] for v in vals)  # repetition
    passing = [
        (d, v) for d, v in want.items() if v[0] and v[1] and v[2]
    ]
    assert any(not v[3] for _, v in passing)     # a passing dup lost canonical


def test_fineweb_tier_replay_idempotent_and_crash_window(spark, pages):
    """A replayed batch rewrites its partition to the same verdicts;
    a crash that lost ONLY the fineweb partition (every other tier
    committed) must force a rewrite on replay, not a skip."""
    base = tempfile.mkdtemp(prefix="pwp_fwreplay_")
    try:
        cur = StreamingCorpusCurator(
            spark, base, screen="simhash", fineweb_recipe=True
        )
        b0 = pages.filter(F.col("doc_id") % 3 == 0)
        b1 = pages.filter(F.col("doc_id") % 3 == 1)
        cur.process_batch(b0, 0)
        cur.process_batch(b1, 1)
        before = _funnel_rows(cur)
        cur.process_batch(b1, 1)  # full replay: committed skip
        assert _funnel_rows(cur) == before
        # crash window: fineweb partition lost, everything else intact
        os.remove(
            os.path.join(cur._batch_dir(cur.fineweb_dir, 1), "_SUCCESS")
        )
        cur.process_batch(b1, 1)  # must rewrite, not skip
        assert _funnel_rows(cur) == before
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fineweb_tier_survives_compaction(spark, pages):
    """The concatenation fold + manifest flip preserves the funnel
    exactly (compact mid-stream, then read across compacted + live)."""
    base = tempfile.mkdtemp(prefix="pwp_fwcompact_")
    try:
        cur = StreamingCorpusCurator(
            spark, base, screen="simhash", fineweb_recipe=True
        )
        for k in range(2):
            cur.process_batch(pages.filter(F.col("doc_id") % 3 == k), k)
        pre = _funnel_rows(cur)
        assert cur.compact()
        assert _funnel_rows(cur) == pre
        cur.process_batch(pages.filter(F.col("doc_id") % 3 == 2), 2)
        assert _funnel_rows(cur) == _batch_answer(pages)
        # second compaction folds compacted + live
        assert cur.compact()
        assert _funnel_rows(cur) == _batch_answer(pages)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fineweb_funnel_keeps_null_page_ingress(spark):
    """The 'every ingress doc' funnel contract covers NULL pages
    (round-12 advice fix): md5(NULL) is NULL and would vanish at the
    funnel's inner hash join; the signal stack coalesces cleaned to
    '' so the doc stays in the funnel as an ordinary reject — and two
    NULL-page docs share the md5('') group like any other identical
    pair."""
    docs = spark.createDataFrame(
        [(1, None), (2, "short."), (3, None)], "doc_id long, text string"
    )
    base = tempfile.mkdtemp(prefix="pwp_fwnull_")
    try:
        cur = StreamingCorpusCurator(
            spark, base, screen="simhash", fineweb_recipe=True
        )
        cur.process_batch(docs, 0)
        got = _funnel_rows(cur)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert set(got) == {1, 2, 3}
    # the NULL pages share one verdict row shape and are rejected by
    # the quality stage (0 tokens), never silently dropped
    assert got[1] == got[3]
    assert not got[1][1] and not got[1][3]      # quality_kept, is_canonical
    # and the batch operator groups both under the same non-NULL md5
    sig = {r.doc_id: r.h for r in fineweb_signal_stack(
        docs, page_col="text").collect()}
    assert sig[1] == sig[3] and sig[1] is not None


def test_fineweb_full_tier_equals_batch_and_freezes_mode(spark):
    """mode='full' (round 12): the streamed complete-rung funnel
    equals the batch full stack on the same ingress for two arrival
    orders, across compaction; the mode freezes into the policy
    record (re-attach with the core mode raises); and the stored
    tier carries no text column."""
    from play_with_pulsar_spark.operators.textops import fineweb_full_stack
    from play_with_pulsar_spark.queries import (
        _URL_BLOCKED_DOMAINS,
        _fineweb_full_plant,
    )

    planted = (
        _fineweb_full_plant(spark, SF)
        .withColumnRenamed("page", "text")
        .localCheckpoint(eager=True)
    )
    full = fineweb_full_stack(
        planted, page_col="text", blocked_domains=_URL_BLOCKED_DOMAINS
    )
    cm = full.groupBy("h").agg(
        F.min(F.when(F.col("pass"), F.col("doc_id"))).alias("cmin")
    )
    is_canon = F.col("pass") & (F.col("doc_id") == F.col("cmin"))
    want = {
        r.doc_id: (r.url_kept, r.lang_pred, r.lang_kept, r.c4_kept,
                   r.quality_kept, r.rep_kept, r.n_pii, bool(r.ic))
        for r in full.join(cm, "h")
        .select("doc_id", "url_kept", "lang_pred", "lang_kept", "c4_kept",
                "quality_kept", "rep_kept", "n_pii", is_canon.alias("ic"))
        .collect()
    }
    for order in ([0, 1, 2], [2, 0, 1]):
        base = tempfile.mkdtemp(prefix="pwp_fwfull_")
        try:
            cur = StreamingCorpusCurator(
                spark, base, screen="simhash", fineweb_recipe="full",
                url_blocked_domains=_URL_BLOCKED_DOMAINS, compact_after=1,
            )
            for i, k in enumerate(order):
                cur.process_batch(
                    planted.filter(F.col("doc_id") % 3 == k), i
                )
            got = {
                r.doc_id: (r.url_kept, r.lang_pred, r.lang_kept, r.c4_kept,
                           r.quality_kept, r.rep_kept, r.n_pii,
                           r.is_canonical)
                for r in cur.fineweb_funnel().collect()
            }
            assert got == want
            # verdict ledger, not a corpus copy: no text columns stored
            assert "redacted" not in cur.fineweb_funnel().columns
            # mode freeze: core-mode re-attach on full-mode state fails
            with pytest.raises(ValueError, match="fineweb_mode"):
                StreamingCorpusCurator(
                    spark, base, screen="simhash", fineweb_recipe=True,
                    url_blocked_domains=_URL_BLOCKED_DOMAINS,
                )
        finally:
            shutil.rmtree(base, ignore_errors=True)
    # the full rung set is non-vacuous on this plant
    vals = list(want.values())
    assert any(not v[0] for v in vals)          # url rejects
    assert any(v[0] and not v[2] for v in vals)  # lang rejects a url-pass
    assert any(v[6] > 0 for v in vals)           # pii counted
    assert any(v[7] for v in vals)               # canonicals exist


def test_fineweb_datacard_streamed_equals_batch(spark):
    """The curator's ``fineweb_datacard()`` (the streamed rollup over
    the maintained full tier) equals the batch
    ``audit_fineweb_full_datacard`` row-for-row on the same ingress —
    and is refused on the core tier, whose rows lack the
    URL/language/PII rungs."""
    from play_with_pulsar_spark.queries import (
        _URL_BLOCKED_DOMAINS,
        REGISTRY,
        _fineweb_full_plant,
    )

    want = [
        (r.ord, r.stage, r.n_docs, r.rate)
        for r in REGISTRY["audit_fineweb_full_datacard"]
        .fn(spark, SF)
        .orderBy("ord")
        .collect()
    ]
    assert [w[1] for w in want] == [
        "ingress", "url", "language", "c4", "quality", "repetition",
        "dedup", "pii_redacted",
    ]
    # cumulative: counts never increase through the funnel prefix
    assert all(want[i][2] >= want[i + 1][2] for i in range(5))
    planted = (
        _fineweb_full_plant(spark, SF)
        .withColumnRenamed("page", "text")
        .localCheckpoint(eager=True)
    )
    base = tempfile.mkdtemp(prefix="pwp_fwcard_")
    try:
        cur = StreamingCorpusCurator(
            spark, base, screen="simhash", fineweb_recipe="full",
            url_blocked_domains=_URL_BLOCKED_DOMAINS,
        )
        for k in range(3):
            cur.process_batch(planted.filter(F.col("doc_id") % 3 == k), k)
        got = [
            (r.ord, r.stage, r.n_docs, r.rate)
            for r in cur.fineweb_datacard().orderBy("ord").collect()
        ]
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert got == want
    core = tempfile.mkdtemp(prefix="pwp_fwcard_core_")
    try:
        with pytest.raises(ValueError, match="fineweb_recipe='full'"):
            StreamingCorpusCurator(
                spark, core, screen="simhash", fineweb_recipe=True
            ).fineweb_datacard()
    finally:
        shutil.rmtree(core, ignore_errors=True)


def test_fineweb_tier_refuses_midstream_enable(spark, pages):
    """Verdict rows for already-committed batches are underivable —
    enabling the flag on existing state must raise, both pre- and
    post-compaction."""
    base = tempfile.mkdtemp(prefix="pwp_fwmid_")
    try:
        plain = StreamingCorpusCurator(spark, base, screen="simhash")
        plain.process_batch(pages.filter(F.col("doc_id") % 3 == 0), 0)
        with pytest.raises(ValueError, match="mid-stream"):
            StreamingCorpusCurator(
                spark, base, screen="simhash", fineweb_recipe=True
            )
        assert plain.compact()
        with pytest.raises(ValueError, match="predates the tier"):
            StreamingCorpusCurator(
                spark, base, screen="simhash", fineweb_recipe=True
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fineweb_tier_rejects_embedding_screen(spark):
    base = tempfile.mkdtemp(prefix="pwp_fwemb_")
    try:
        with pytest.raises(ValueError, match="text tier"):
            StreamingCorpusCurator(
                spark, base, screen="embedding", emb_dim=4,
                fineweb_recipe=True,
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize(
    "option",
    [
        {"url_col": "url"},
        {"quality_model_path": "/nonexistent/model"},
        {"perplexity_lm_path": "/nonexistent/lm"},
        {"contamination_bloom_path": "/nonexistent/bloom"},
        {"repetition_rules": True},
        {"track_funnel": True},
    ],
    ids=lambda o: next(iter(o)),
)
def test_text_prescreens_reject_embedding_screen(spark, option):
    """The pre-screens and the funnel read text_col; an embedding
    curator refuses them instead of accepting and never applying
    them."""
    base = tempfile.mkdtemp(prefix="pwp_fwemb_")
    try:
        with pytest.raises(ValueError, match="text screens"):
            StreamingCorpusCurator(
                spark, base, screen="embedding", emb_dim=4, **option
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fineweb_tier_via_real_stream(spark, tmp_path, pages):
    """The tier through an actual Structured Streaming attach: one
    micro-batch per file, and the maintained funnel equals the batch
    recipe over the union WHATEVER order the files triggered in (the
    canonical min is order-independent)."""
    src = str(tmp_path / "src")
    for k in range(3):
        pages.filter(F.col("doc_id") % 3 == k).write.parquet(f"{src}/f{k}")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    cur = StreamingCorpusCurator(
        spark, str(tmp_path / "c"), screen="simhash", fineweb_recipe=True
    )
    q = cur.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert _funnel_rows(cur) == _batch_answer(pages)
