"""Every declared query with an oracle must hash-match DuckDB at
sf0.01 — the local replica of the driver's correctness gate."""

from __future__ import annotations

import pytest

from play_with_pulsar_spark import parity
from play_with_pulsar_spark.queries import REGISTRY

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = parity.duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(name, spark, sf_dir, con):
    spec = REGISTRY[name]
    res = parity.compare(name, spark, sf_dir, spec.fn, spec.oracle, con=con)
    assert res.ok, res.detail


def test_all_queries_run_with_scalar_schemas(spark, sf_dir):
    """One pass over the whole registry (every query function is
    EXPENSIVE to build — some run multi-batch curator loops — so the
    smoke check and the schema audit share a single execution):

    - every registered query (oracle or not) runs and returns rows
      with a stable schema;
    - no output column is array/map/struct-typed — complex columns
      hash differently between Arrow and non-Arrow toPandas paths
      (ndarray vs list repr), so a query that passes the local
      engine-session parity could still fail the driver's
      plain-session compare (serialize or scale-to-int instead — see
      x_array_functions).

    Riding persisted intermediates are released after materializing:
    this loop shares one session with the whole suite, and
    un-released handles would accumulate across all declared queries
    (and trip the storage-hygiene assertions of later tests)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from play_with_pulsar_spark.operators.dedup import release_intermediates

    offenders = {}
    for name, spec in REGISTRY.items():
        df = spec.fn(spark, sf_dir)
        assert df.columns, name
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
        df.limit(1).collect()
        release_intermediates(df)
    assert not offenders, offenders


def test_retention_policy_nonvacuous(spark, sf_dir):
    """The value-aware retention pipeline must actually DIVERGE from
    first-writer-wins on the fixture — if the two accepted sets were
    equal, the retention oracle would hash-pass without ever
    exercising an eviction or a score-based rejection."""
    a = {
        r.doc_id
        for r in REGISTRY["pipeline_streaming_retention"].fn(spark, sf_dir).collect()
    }
    b = {
        r.doc_id
        for r in REGISTRY["pipeline_streaming_curation"].fn(spark, sf_dir).collect()
    }
    assert a != b and len(a ^ b) >= 2  # at least one eviction swap


def test_full_stack_screens_nonvacuous(spark, sf_dir):
    """Every screen in pipeline_streaming_full_stack actually bites on
    the fixture — otherwise the composed oracle would hash-pass while
    pinning nothing beyond plain dedup:

    - quality: >=1 corpus doc below the 0.5 score threshold;
    - perplexity: >=1 corpus doc above xent 3.44;
    - decontamination: >=1 corpus doc with >=10% of its trigrams in
      the benchmark set (exact containment lower-bounds the Bloom
      hit rate — no false negatives);
    - composition: the all-screens accepted set differs from plain
      greedy curation's (the screens, not just the fold, decide)."""
    from pyspark.sql import functions as F

    from play_with_pulsar_spark.operators import classifier, textops
    from play_with_pulsar_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 83 != 0)
    scored = classifier.quality_classifier_scores(
        docs, label=F.length("text") >= 400, iters=6, lr=2.0
    )
    q_rej = scored.filter(
        (~F.col("keep")) & (F.col("doc_id") % 83 != 0)
    ).count()
    assert q_rej > 0
    uc, ctx, bc, meta = textops.fit_bigram_lm(docs)
    sx = textops.score_with_bigram_lm(docs, uc, ctx, bc, meta)
    p_rej = sx.filter(
        (F.col("xent") > 3.44) & (F.col("doc_id") % 83 != 0)
    ).count()
    assert p_rej > 0
    grams = textops.exploded_ngrams(docs, n=3)
    bench_g = grams.filter(F.col("doc_id") % 83 == 0).select("g").distinct()
    cg = grams.filter(F.col("doc_id") % 83 != 0)
    hit = cg.join(bench_g, "g", "semi").groupBy("doc_id").count()
    tot = cg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ng"))
    c_rej = (
        tot.join(hit, "doc_id", "left")
        .filter(F.coalesce(F.col("count"), F.lit(0)) / F.col("ng") >= 0.1)
        .count()
    )
    assert c_rej > 0
    full = {
        r.doc_id
        for r in REGISTRY["pipeline_streaming_full_stack"].fn(spark, sf_dir).collect()
    }
    plain = {
        r.doc_id
        for r in REGISTRY["pipeline_streaming_curation"].fn(spark, sf_dir).collect()
    }
    assert full != plain and len(plain - full) > 0


def test_full_stack_url_ordering_nonvacuous(spark, sf_dir):
    """Round 10 (r9 verdict #3): the URL pre-screen's ordering
    interactions must actually bite — pipeline_full_stack_url's
    accepted set has to diverge from pipeline_streaming_full_stack's
    BEYOND the URL-rejected docs themselves: a URL-rejected doc never
    seeds the HDR length band or the gram index, so some URL-CLEAN
    doc's stage decision flips (band cutoff or dedup candidacy moved
    by the missing seeds). Also pins the never-indexed contract at
    the composed level: no URL-rejected doc is ever accepted."""
    from pyspark.sql import functions as F

    from play_with_pulsar_spark.operators import urlops
    from play_with_pulsar_spark.queries import (
        _URL_BLOCKED_DOMAINS,
        _url_plant_col,
    )
    from play_with_pulsar_spark.sources.tables import load_table

    full = {
        r.doc_id
        for r in REGISTRY["pipeline_streaming_full_stack"].fn(spark, sf_dir).collect()
    }
    furl = {
        r.doc_id
        for r in REGISTRY["pipeline_full_stack_url"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _url_plant_col().alias("url")
    )
    url_rej = {
        r.doc_id
        for r in urlops.url_screen(
            docs, blocked_domains=_URL_BLOCKED_DOMAINS
        ).filter(~F.col("keep")).collect()
    }
    assert furl.isdisjoint(url_rej)  # never-indexed, composed
    assert full & url_rej  # the screen actually removed accepted docs
    # ordering interaction: at least one URL-CLEAN doc flips
    flipped_clean = (full ^ furl) - url_rej
    assert flipped_clean, (
        "URL screen only subtracted its own rejects — no downstream "
        "cutoff moved; the ordering composition is vacuous"
    )


def test_scratch_dir_is_removed_on_exit_and_on_error(spark):
    """The scratch harness of the registry's incremental queries: the
    dir exists inside the block and is gone after it, also when the
    block raises, and the exception reaches the caller unchanged."""
    import os

    from play_with_pulsar_spark.queries import _scratch

    with _scratch(spark, "probe") as d:
        assert os.path.isdir(d)
        assert os.path.basename(d).startswith("pwp_probe_")
        open(os.path.join(d, "f"), "w").close()
    assert not os.path.exists(d)

    boom = RuntimeError("boom")
    with pytest.raises(RuntimeError) as info:
        with _scratch(spark, "probe") as d:
            os.makedirs(os.path.join(d, "sub"))
            raise boom
    assert info.value is boom
    assert not os.path.exists(d)
