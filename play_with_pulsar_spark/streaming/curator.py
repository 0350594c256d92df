"""Continuous corpus curation: streaming ingest + incremental dedup.

The end-to-end shape a training-data pipeline actually runs: crawl
shards arrive as a stream; every micro-batch is screened for
near-duplicates against everything ACCEPTED so far WITHOUT re-reading
the corpus (the materialized shingle index from
``operators.dedup.build_ngram_index`` carries all history); survivors
are appended to the corpus and their shingles to the index, so the
next batch screens against them too.

Greedy first-writer-wins semantics (the standard streaming-dedup
contract, matching ``exact_dedup``'s min-id convention within a
batch):

- a new doc that near-dups any ACCEPTED doc is rejected, whatever
  the relative ids (acceptance time wins, not id order);
- among near-dup pairs arriving in the SAME batch, the smaller
  doc_id survives;
- rejected docs are NOT indexed, so a later doc that resembles only
  a rejected doc (and not its accepted ancestor) is accepted — the
  greedy rule every sequential deduper (e.g. a Bloom/LSH gate in a
  crawler) exhibits.

Every screen runs one per-batch pipeline, ``process_batch``: commit
check, pre-screens, the screen's decision, then the tier writes in a
fixed order (its docstring lists the steps). What differs by screen
is the decision and its row of the tier table (``SCREEN_TIERS``, one
``Tier`` per state tier): the commit-gated index tiers (``grams/`` for
jaccard, ``grams/`` + ``banded/`` for minhash, ``shsig/`` for simhash,
``anchors/`` for substr, ``vec/`` + ``sig/`` for embedding) and the
best-effort monitor tiers (``df/``, ``hll/``, ``hdr/``; ``doremi/``
and ``fineweb/`` ride along when configured).

State layout — ``accepted/`` and the screen's tiers, each one
``ingest_batch=<id>`` partition directory per micro-batch. A monitor
tier is a per-batch aggregate (the jaccard screen's kept-gram (g, df)
rows, whose SUM replaces the per-batch O(corpus) stop-shingle recount
of ``incremental_jaccard_pairs(index_df=…)``; vocabulary HLL
registers; doc-length HDR buckets) and is NOT part of the commit
contract: one rule, ``_covers``, decides for reads and compaction
alike that a tier missing a batch its source tier has (pre-feature
state, a crash between the two writes) is derived from the source
instead — identical answers, just slower — and the next compaction
heals it.

Compaction: a long-running stream would otherwise accumulate one
directory per micro-batch forever, and the per-batch file-listing
cost of every state read grows with stream age — the one part of the
per-batch design that does NOT scale with time. ``compact()``
(threshold-triggered via ``compact_after``) is the changelog
compaction of the reference's TableView applied to each tier: one
loop over the screen's tier table folds the previous compacted rows
and the covered committed batch dirs by the tier's fold (concatenate,
distinct, sum or register max) into a new version ``compacted/v<k>/``
— bucketed EXTERNAL catalog tables in the layout batch probes consume
(``dedup.write_ngram_index`` / ``dedup.write_minhash_index`` /
``dedup.write_embedding_index``) or plain parquet dirs — and commits
by atomically flipping one manifest (``COMPACTED.json``, write-temp +
fsync + ``os.replace``). ``rollover_geometry`` and
``migrate_vec_format`` cut over through the same version writer,
``_write_version``. Folded directories are deleted one compaction
later and one predecessor version is kept, both as reader grace.
Steady state: the batch dirs above the watermark, one folded
generation and two compacted versions, regardless of stream age. Crash anywhere mid-compaction
leaves the previous manifest live and every batch directory intact; a
re-run folds the same rows again (the write is idempotent per version
directory) — screening decisions are identical before, during, and
after, which the compaction tests pin.

Exactly-once appends: ``foreachBatch`` is AT-LEAST-once (a retry
after a partial commit re-delivers the same ``batch_id``), so each
table writes its batch into a batch-id-named partition directory with
``mode=overwrite`` — a replay overwrites the same directory instead
of appending duplicate rows, and a batch whose ``_SUCCESS`` marker
already exists (or that compaction already folded — the manifest
remembers ``covered_upto``) is skipped outright. Duplicated appends
would not just double rows: replayed doc_ids violate
``incremental_jaccard_pairs``'s disjoint-id precondition (doubled
shingle rows skew sizes and Jaccard), so idempotence here is a
correctness requirement, not bookkeeping. The commit protocol itself
(batch dirs, markers, watermark, manifest, replay-safe reads) is
``streaming/batch_dirs.py``, shared with the incremental dedupers.

Batch ids are assumed monotone per checkpoint (structured streaming's
epoch ids; sequential micro-batches). Restarting against a FRESH
checkpoint resets the ids and breaks replay detection — that was
already true of the per-batch ``_SUCCESS`` skip and is inherited by
the ``covered_upto`` watermark.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.dedup import (
    _banded,
    build_df_index,
    build_embedding_index,
    build_ngram_index,
    incremental_embedding_pairs,
    incremental_jaccard_pairs,
    incremental_minhash_pairs,
    minhash_signatures,
    release_intermediates,
)
from .batch_dirs import PARTITION, BatchDirs, write_json_atomic
from .substr_dedup import claim_anchors

# Frozen geometry of the vocabulary-HLL monitor tier (text screens):
# a module constant, NOT a constructor arg, so two attachments to the
# same state directory can never merge mismatched registers. 256
# registers => ~6.5% relative error — plenty for a maintenance
# trigger, and the whole tier is <= 256 rows per batch.
VOCAB_HLL_M = 256

# Frozen geometry of the doc-length HDR monitor tier (round 7, text
# screens) — same module-constant discipline: mismatched sub_bits
# would additively merge incompatible bucket spaces with no error
# anywhere. 2^-6 = 1.6% relative error on the length quantiles.
LEN_HDR_SUB_BITS = 6


@dataclass(frozen=True)
class Tier:
    """One compacted state tier. ``name`` is its live dir under the
    state dir, its manifest key and the stem of its instance schema
    (``<name>_schema``). ``fold`` merges the compacted rows with the
    covered live rows: ``concat``, ``distinct``, ``sum`` (every value
    column summed per first column; compaction drops rows whose last
    column sums to 0) or ``max`` (register max). With ``table`` the
    version is a bucketed catalog table ``<prefix>_v<k>_<table>`` at
    ``v<k>/<path>``, bucketed by ``keys``; without it, a plain parquet
    dir ``v<k>/<path>`` (``keys`` then only bucket the export).
    ``doc_key`` marks a doc-keyed tier: covered tombstones leave it
    physically at compaction, live ones filter its reads. ``covers``
    marks a best-effort monitor tier and names its source tier: the
    tier is read only while its committed batches equal the source's,
    else it is derived from the source (``_maintained``/``_derive``)."""

    name: str
    fold: str = "concat"
    table: str | None = None
    path: str | None = None
    keys: tuple[str, ...] = ()
    doc_key: str | None = None
    covers: str | None = None

    @property
    def vpath(self) -> str:
        return self.path or self.table or self.name


_GRAMS_BY_G = Tier("grams", table="grams_by_g", keys=("g",), doc_key="doc_id")
_GRAMS = Tier("grams", table="grams", path="idx_grams", keys=("doc_id",), doc_key="doc_id")
_BANDED = Tier(
    "banded", table="banded", path="idx_banded", keys=("band", "bucket"), doc_key="doc_id"
)
_SHSIG = Tier("shsig", keys=("doc_id",), doc_key="doc_id")
_ANCHORS = Tier("anchors", fold="distinct", table="anchors", keys=("gh", "g"))
_VEC = Tier("vec", table="vec", path="idx_vec", keys=("vec_id",), doc_key="vec_id")
_SIG = Tier("sig", table="sig", path="idx_sig", keys=("tbl", "bucket"), doc_key="vec_id")
_DF = Tier("df", fold="sum", table="df_by_g", keys=("g",), covers="grams")
_HLL = Tier("hll", fold="max", covers="grams")
_HDR = Tier("hdr", fold="sum", covers="accepted")
_DOREMI = Tier("doremi", fold="sum", covers="accepted")
_FINEWEB = Tier("fineweb")

# per screen: the commit-gated index tiers (a batch folds only once
# every one holds it; the first one's batch-dir count drives
# maybe_compact) and the best-effort monitor tiers. The optional DoReMi
# and FineWeb tiers follow them when configured (_compacted_tiers).
SCREEN_TIERS: dict[str, tuple[tuple[Tier, ...], tuple[Tier, ...]]] = {
    "jaccard": ((_GRAMS_BY_G,), (_DF, _HLL, _HDR)),
    "minhash": ((_GRAMS, _BANDED), (_HLL, _HDR)),
    "simhash": ((_SHSIG,), (_HDR,)),
    "substr": ((_ANCHORS,), (_HDR,)),
    "embedding": ((_VEC, _SIG), ()),
}


class StreamingCorpusCurator(BatchDirs):
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        threshold: float = 0.8,
        max_shingle_freq: int | None = 50,
        screen: str = "jaccard",
        num_hashes: int = 64,
        num_bands: int = 16,
        seed: int = 42,
        id_type: str = "long",
        compact_after: int | None = None,
        n_buckets: int = 32,
        catalog_prefix: str | None = None,
        vec_col: str = "embedding",
        emb_dim: int | None = None,
        num_planes: int | None = None,
        num_tables: int | None = None,
        max_bucket_size: int | None = None,
        expected_corpus: int | None = None,
        quality_model_path: str | None = None,
        quality_threshold: float = 0.5,
        url_col: str | None = None,
        url_blocked_domains: tuple[str, ...] = (),
        url_blocked_tlds: tuple[str, ...] = ("xyz", "click", "top"),
        url_max_path_depth: int = 8,
        repetition_rules: bool = False,
        track_funnel: bool = False,
        fineweb_recipe: bool = False,
        contamination_bloom_path: str | None = None,
        contamination_max_fraction: float = 0.1,
        perplexity_lm_path: str | None = None,
        perplexity_max_xent: float = 5.0,
        length_band: tuple[float, float] | None = None,
        length_band_min_docs: int = 50,
        retention: str | None = None,
        score_col: str | None = None,
        doremi_lm_path: str | None = None,
        doremi_domain_col: str | None = None,
        vec_format: str | None = None,
        pq_m: int | None = None,
        pq_ksub: int | None = None,
        max_hamming: int | None = None,
        sh_blocks: int | None = None,
        sh_hash_fn: str | None = None,
        substr_n: int | None = None,
        winnow_w: int | None = None,
    ) -> None:
        """``screen``: ``"jaccard"`` (exact capped-Jaccard incremental
        screen — the default, exhaustive) or ``"minhash"`` (LSH-blocked
        screen: candidates only from band-bucket collisions against a
        third state table ``banded/``, exact Jaccard verify of
        candidates only — the cheaper screen when the accepted corpus
        is large; recall follows the banding curve) or ``"embedding"``
        (semantic screen for batches carrying a ``vec_col``
        array<float/double> column: hyperplane-bucket candidates
        against the accumulated (vec, sig) state, exact cosine verify
        at ``threshold`` — pass ``emb_dim``; ``text_col``/``n``/
        ``max_shingle_freq`` are unused by this screen;
        ``max_bucket_size`` caps viral (tbl, bucket) groups per
        screen, at the cost of an O(accumulated sigs) per-batch count
        — see ``incremental_embedding_pairs``).

        ``max_shingle_freq`` applies ONLY to the jaccard screen. The
        minhash screen ignores it entirely: signatures and the exact
        Jaccard verify both run on UNCAPPED grams, so the two screens
        differ not just in LSH recall but in the Jaccard scores
        themselves (a stop-shingle shared by many docs counts toward
        minhash-screen similarity but not capped-jaccard similarity).
        Decisions from the two screens are therefore not comparable
        doc-by-doc when a cap is set.

        ``id_type``: Spark type name of the document id column — the
        state tables are read back with an ENFORCED schema (see
        ``_read_state``), so a non-long id (string crawl ids, …) must
        be declared here or every post-first-batch read fails with a
        parquet conversion error.

        ``compact_after``: fold committed batch directories into the
        compacted tier whenever more than this many have accumulated
        (checked after each batch); ``None`` = only on explicit
        ``compact()`` calls. Compaction cost is O(accepted corpus) —
        size the threshold so it amortizes (e.g. hourly, not
        per-batch).

        ``catalog_prefix``: session-catalog name prefix for the
        compacted bucketed tables (a valid SQL identifier). Defaults
        to a stable hash of ``base_dir`` so restarts re-attach to the
        same names.

        ``expected_corpus`` (embedding screen): size the hyperplane
        geometry with ``similarity.lsh_auto_geometry`` for the corpus
        the stream is expected to accumulate — fixed planes go
        superlinear as the state grows (bucket occupancy ~ N/2^planes;
        measured 42× at 10× in the round-6 probe). The chosen
        geometry is FROZEN on first use into ``base_dir/geometry.json``
        (atomic flip) and re-attachment always loads the sidecar:
        signatures in state were computed under it, so a restart with
        a different ``expected_corpus`` must NOT re-derive — past and
        future sigs would stop colliding.

        The sidecar is written WHATEVER the geometry's source —
        auto-derived, explicit ``num_planes``/``num_tables``, or the
        8/8 default — and a re-attachment whose explicit constructor
        args CONFLICT with the frozen sidecar raises instead of
        silently changing geometry mid-state (round-6 advice: an
        explicit-args restart used to bypass the freeze entirely).

        ``quality_model_path`` (round 7): path to a
        ``classifier.save_model`` sidecar. When set, every batch is
        PRE-SCREENED by the learned quality filter before the dedup
        screen — the filter-then-dedup ordering of
        ``pipeline_quality_dedup``, run incrementally: scoring is a
        literal-weight projection (zero shuffles), docs with score <
        ``quality_threshold`` are rejected and — like near-dup
        rejects — never indexed, and the (smaller) survivor set is
        what the expensive dedup screen and the state appends see.
        The sidecar is re-read whenever its mtime/size changes (the
        crawl loop's periodic refit just ``save_model``s over it —
        atomic flip, so the curator sees old weights or new, never
        torn). Replay caveat: a batch replayed AFTER a model swap is
        re-scored under the NEW weights — version the sidecar per
        batch if bit-identical replay across model updates matters
        (same class of caveat as a fresh checkpoint resetting batch
        ids). Applies to the text screens, whose batches carry
        ``text_col``; the embedding screen refuses it, like every
        pre-screen, ``track_funnel`` and the DoReMi tier.

        ``contamination_bloom_path`` (round 7): path to a
        ``sketch.write_bloom`` artifact built from the benchmark/eval
        shingle set. When set, every batch is decontaminated BEFORE
        the dedup screen: docs whose fraction of distinct ``n``-gram
        shingles MAYBE-hitting the filter is ≥
        ``contamination_max_fraction`` are rejected and never indexed.
        The Bloom direction is the safe one for this screen — no
        false negatives, so contaminated docs never slip into the
        corpus; the bounded-rate false positives can only over-reject.
        Geometry travels in the artifact's ``bloom.json`` sidecar
        (mismatched hashes are impossible), and the artifact is
        re-read when the sidecar's mtime/size changes — refreshing
        the benchmark set is one ``write_bloom`` over the same path
        (sidecar flipped atomically LAST, so the curator sees old or
        new, never torn). Same replay caveat as the quality model:
        a batch replayed after a filter refresh screens under the new
        filter. Text screens only, like ``quality_model_path``.

        ``perplexity_lm_path`` (round 7, continued): path to a
        ``textops.write_bigram_lm`` artifact — the CCNet screen
        (Wenzek et al. 2020): the LM is fitted ONCE on a clean
        reference slice, and every batch doc scoring a cross-entropy
        above ``perplexity_max_xent`` under it (gibberish,
        far-out-of-domain) is rejected before the dedup screen.
        Backoff smoothing covers OOV events; <2-token docs pass
        vacuously. Artifact cached on the ``lm.json`` sidecar's
        (mtime, size) — refitting the LM is one ``write_bigram_lm``
        over the same path (sidecar written LAST). Screen order:
        length → quality → perplexity → contamination → dedup. Same
        replay caveat as the other model screens. Text screens only.

        ``length_band`` (round 7, continued): ``(q_lo, q_hi)``
        quantile pair — the ADAPTIVE length screen: each batch's docs
        must land within the [q_lo, q_hi] token-count band of the
        accepted corpus SO FAR, read from the maintained HDR tier
        (``length_quantiles``), so the cutoffs track the corpus
        instead of being hand-frozen. Inert until the accepted corpus
        reaches ``length_band_min_docs`` (quantiles of a handful of
        docs are noise). The screen consults the PRE-batch tier
        (``exclude_batch``), so a partial-commit replay makes the
        identical decision; a replay of a batch already folded into a
        compaction screens under the tier as of now (the model-
        refresh caveat, narrowed to post-compaction replays). Text
        screens only.

        ``vec_format`` (embedding screen): the state-compression
        ladder for the vec tier — ``"float64"`` (pre-round-8 dirs),
        ``"int8"`` (default for fresh dirs: 1 byte/dim codes + scale,
        ~6×), ``"pq"`` (round 9: ``pq_m`` codes per VECTOR under
        codebooks fit once on the first micro-batch and frozen into
        ``pq_books.json`` — measured 542.7 → 81.8 → 23.5 bytes/doc at
        64 dims). Whatever the format, signatures / cosine verify /
        replay / rollover re-signing derive from the RECONSTRUCTED
        vector (one approximation boundary; state byte-reproducible
        from itself); the exact decision effect of each rung is
        hash-gated by its own pipeline oracle
        (``pipeline_embedding_curation[_int8|_pq]``), and
        ``migrate_vec_format`` moves a dir one way down the ladder.

        ``retention`` (round 8 — r7 verdict #1): ``"first"`` keeps the
        greedy first-writer-wins rule above; ``"best"`` makes the rule
        VALUE-AWARE, the streaming analog of the batch
        ``dedup_survivors_best`` policy (Rae et al. 2021 — keep the
        highest-quality cluster member): a new doc that near-dups an
        ACCEPTED doc with a strictly higher ``score_col`` REPLACES it
        — the old doc is evicted from the corpus and un-indexed — and
        loses (is rejected) otherwise, ties going to the incumbent.
        Within a batch the higher score survives a pair, ties to the
        smaller id. Decisions are still made against the PRE-batch
        state, pair-wise (evictions apply at commit) — so the policy
        is order-free within a batch, replayable, and expressible as
        one unrolled SQL fold (``pipeline_streaming_retention``
        hash-checks it end-to-end).

        The eviction story (the part first-writer-wins never needed):
        state tiers are append-only batch partitions, so eviction is a
        TOMBSTONE tier (``tombstones/ingest_batch=<id>``, committed
        with the batch, idempotent overwrite like every tier). Reads
        of accepted/grams/banded anti-join the committed tombstones;
        the additive df and hdr tiers get NEGATIVE delta rows for the
        evicted docs' grams/lengths in the same batch write, so their
        sums track the surviving corpus exactly; compaction applies
        covered tombstones physically (folded tables never contain
        evicted rows) and sweeps the applied tombstone dirs. The HLL
        vocabulary monitor is max-merged and deliberately keeps
        ever-accepted semantics (registers cannot be un-maxed) — it
        is a growth monitor, not decision state. All screens,
        including the embedding screen (round 8: vec/sig tiers filter
        by the same tombstones, keyed on vec ids);
        requires ``score_col`` (a numeric column every batch carries,
        stored with the accepted rows so later batches can compare
        against incumbents without re-scoring). Reference anchor: the
        compacted-topic keep-one-per-key retention (pulsar.go:160-167)
        with the kept value chosen by score instead of arrival.

        ``retention``/``score_col``/``sh_hash_fn``/``max_hamming``/
        ``sh_blocks`` FREEZE like geometry and ``vec_format`` (round 9
        — r8 advice, medium): the resolved values are persisted into
        ``geometry.json`` at construction (and into the compaction
        manifest, which wins at attach), the ``None`` defaults INHERIT
        the frozen record on re-attach, and an explicit conflicting
        arg raises. Before the freeze, re-attaching a
        ``retention='best'`` state dir with the old default
        ``retention='first'`` silently skipped the tombstone anti-join
        on every read (evicted docs resurfaced) and the next
        ``compact()`` folded evicted rows back in PERMANENTLY; a
        ``sh_hash_fn`` change mid-state would stop stored simhash
        signatures from colliding with new ones.

        ``screen="substr"`` (round 12 — the r11 verdict's composition
        ask): winnowed-anchor EXCISION as a curator screen, so
        substring dedup composes with the quality / perplexity /
        Bloom / URL / repetition / length pre-screens and the funnel
        and FineWeb tiers. Semantics differ from the doc-grain
        screens in exactly one way: a duplicated doc is not REJECTED
        — its duplicated SPANS are excised (Lee 2021 §4.1 keep-first
        at winnowed-anchor grain, ``IncrementalSubstrDeduper``'s
        fold) and the REWRITTEN doc is accepted, original text
        preserved byte-exact when nothing was excised. State is the
        claimed-anchor tier (``anchors/``, (gh, g) rows at ~2/(w+1)
        per token of accepted text) under the house conventions:
        idempotent ``ingest_batch=`` commits, compaction folds it
        with a distinct-union into the versioned tier, and pre-screen
        REJECTS are never indexed — a quality-rejected doc's anchors
        cannot excise a later clean doc's text (the never-indexed
        contract, tested). ``substr_n`` (gram tokens, default 5) and
        ``winnow_w`` (window grams, default 8) are state-shaping and
        FREEZE like the simhash params: stored anchors were selected
        under them, so a re-attach with conflicting explicit values
        raises. ``retention='best'`` is doc-grain (reject/evict) and
        does not compose with span excision — refused."""
        if screen not in ("jaccard", "minhash", "embedding", "simhash", "substr"):
            raise ValueError(f"unknown screen {screen!r}")
        if screen == "embedding" and emb_dim is None:
            raise ValueError("screen='embedding' requires emb_dim")
        if screen == "embedding":
            # the pre-screens, the funnel and the DoReMi tier read
            # text_col (or url_col), which an embedding batch need
            # not carry; refuse them rather than skip them silently
            for name, on in (
                ("url_col", url_col is not None),
                ("repetition_rules", repetition_rules),
                ("length_band", length_band is not None),
                ("quality_model_path", quality_model_path is not None),
                ("perplexity_lm_path", perplexity_lm_path is not None),
                ("contamination_bloom_path", contamination_bloom_path is not None),
                ("track_funnel", track_funnel),
                ("doremi_lm_path", doremi_lm_path is not None),
            ):
                if on:
                    raise ValueError(
                        f"{name} applies to the text screens, not screen='embedding'"
                    )
        if retention is not None and retention not in ("first", "best"):
            raise ValueError(f"unknown retention {retention!r}")
        if vec_format is not None:
            if vec_format not in ("int8", "float64", "pq"):
                raise ValueError(f"unknown vec_format {vec_format!r}")
            if screen != "embedding":
                raise ValueError("vec_format applies to screen='embedding'")
        self.vec_format: str | None = None  # resolved in the embedding branch
        self._pq_books = None  # pq codebooks, loaded/fit lazily
        self.spark = spark
        self.base_dir = base_dir
        self.accepted_dir = os.path.join(base_dir, "accepted")
        self.grams_dir = os.path.join(base_dir, "grams")
        self.banded_dir = os.path.join(base_dir, "banded")
        self.vec_dir = os.path.join(base_dir, "vec")
        self.sig_dir = os.path.join(base_dir, "sig")
        self.df_dir = os.path.join(base_dir, "df")
        self.hll_dir = os.path.join(base_dir, "hll")
        self.hdr_dir = os.path.join(base_dir, "hdr")
        self.doremi_dir = os.path.join(base_dir, "doremi")
        self.funnel_dir = os.path.join(base_dir, "funnel")
        self.fineweb_dir = os.path.join(base_dir, "fineweb")
        self.tomb_dir = os.path.join(base_dir, "tombstones")
        self.shsig_dir = os.path.join(base_dir, "shsig")
        self.anchors_dir = os.path.join(base_dir, "anchors")
        self.compacted_dir = os.path.join(base_dir, "compacted")
        self.screen = screen
        # the per-screen tier table (SCREEN_TIERS). A reader that finds
        # a monitor tier incomplete derives it from its source tier,
        # and compaction heals it; process_batch rewrites a missing
        # tier of either kind.
        self.index_tiers, self.monitor_tiers = SCREEN_TIERS[screen]
        self.id_type = id_type
        # resolved (and possibly frozen) in the fineweb_recipe block
        # below; initialized here because _policy_record runs from the
        # embedding-geometry freeze before that block
        self.fineweb_mode: str | None = None
        # --- frozen policy record (round 9 — r8 advice): retention,
        # score_col and the simhash signature params resolve
        # manifest-first, then sidecar, then the constructor args
        # (which then freeze via _write_geometry_sidecar below) ---
        _man = self._manifest()
        _sidecar: dict = {}
        _geo_path = os.path.join(base_dir, "geometry.json")
        if os.path.exists(_geo_path):
            try:
                with open(_geo_path) as f:
                    _sidecar = json.load(f)
            except json.JSONDecodeError:
                _sidecar = {}

        def _frozen(key):
            if _man is not None and key in _man:
                return _man[key]
            return _sidecar.get(key)

        def _resolve(key, explicit, default):
            froz = _frozen(key)
            if froz is not None:
                if explicit is not None and explicit != froz:
                    raise ValueError(
                        f"curator at {base_dir} has frozen {key}={froz!r} "
                        f"but was re-attached with explicit {key}="
                        f"{explicit!r}; stored state was written under the "
                        f"frozen value — delete the state to change it"
                    )
                return froz
            return default if explicit is None else explicit

        self.retention: str = _resolve("retention", retention, "first")
        self.score_col: str | None = _resolve("score_col", score_col, None)
        if self.retention == "best" and self.score_col is None:
            raise ValueError("retention='best' requires score_col")
        # DoReMi tier (round 10): the domain keying is state-shaping —
        # a re-attach under a different domain column would fold
        # incompatible rows into the same additive tier — so it
        # freezes like score_col; the LM path is an attach-time
        # sidecar arg like perplexity_lm_path (the artifact itself is
        # immutable by the write_bigram_lm commit protocol)
        self.doremi_domain_col: str | None = _resolve(
            "doremi_domain_col",
            doremi_domain_col,
            "source" if doremi_lm_path else None,
        )
        # legacy guard: a pre-round-9 dir carries no retention record,
        # but committed tombstone batches are themselves proof of
        # retention='best' history — attaching it as 'first' would
        # resurface every evicted doc and the next compact() would
        # fold them back permanently
        if (
            _frozen("retention") is None
            and self.retention == "first"
            and os.path.isdir(self.tomb_dir)
            and self._committed_batch_dirs(self.tomb_dir)
        ):
            raise ValueError(
                f"curator at {base_dir} has committed tombstone batches "
                "(retention='best' history) but no frozen retention "
                "record; re-attach with retention='best' and the original "
                "score_col to freeze them"
            )
        if screen == "simhash":
            self.sh_hash_fn: str = _resolve("sh_hash_fn", sh_hash_fn, "xxhash64")
            self.max_hamming: int = int(
                _resolve("max_hamming", max_hamming, 3)
            )
            self.sh_blocks: int = int(
                _resolve(
                    "sh_blocks",
                    sh_blocks,
                    4 if self.max_hamming <= 3 else 8,
                )
            )
        else:
            self.sh_hash_fn = sh_hash_fn or "xxhash64"
            self.max_hamming = 3 if max_hamming is None else max_hamming
            self.sh_blocks = sh_blocks if sh_blocks is not None else (
                4 if self.max_hamming <= 3 else 8
            )
        if screen == "substr":
            # state-shaping like the simhash params: stored anchors
            # were winnowing-selected under (substr_n, winnow_w)
            self.substr_n: int = int(_resolve("substr_n", substr_n, 5))
            self.winnow_w: int = int(_resolve("winnow_w", winnow_w, 8))
            if id_type not in ("long", "bigint", "int", "integer"):
                raise ValueError(
                    "screen='substr' requires a numeric id_type: the "
                    "within-batch first-occurrence order is the packed "
                    "(doc_id << 20 | pos) key"
                )
            if self.retention == "best":
                raise ValueError(
                    "retention='best' is a doc-grain reject/evict policy; "
                    "the substr screen rewrites spans and accepts every "
                    "pre-screen survivor — it has no doc-level retention "
                    "decision to make"
                )
        else:
            self.substr_n = 5 if substr_n is None else int(substr_n)
            self.winnow_w = 8 if winnow_w is None else int(winnow_w)
        self.text_col, self.id_col, self.n = text_col, id_col, n
        self.threshold, self.max_shingle_freq = threshold, max_shingle_freq
        self.num_hashes, self.num_bands, self.seed = num_hashes, num_bands, seed
        self.vec_col, self.emb_dim = vec_col, emb_dim
        self.num_planes, self.num_tables = num_planes, num_tables
        self.max_bucket_size = max_bucket_size
        if screen == "embedding":
            geo_path = os.path.join(base_dir, "geometry.json")
            # frozen geometry wins: state sigs were computed under it.
            # Resolution order (round 7): the compaction MANIFEST's
            # geometry record beats the sidecar — rollover_geometry
            # flips the manifest atomically and heals the sidecar
            # after, so a crash between the two must resolve to the
            # manifest (whose sig tables ARE the new geometry); then
            # the sidecar; then derive-and-freeze.
            frozen = None
            frozen_fmt = None
            sidecar = None
            if os.path.exists(geo_path):
                with open(geo_path) as f:
                    sidecar = json.load(f)
            man = self._manifest()
            if man is not None and man.get("geometry") is not None:
                g = man["geometry"]
                frozen = (int(g["num_planes"]), int(g["num_tables"]))
                # vec_format resolves manifest-first like geometry: a
                # crashed migrate_vec_format healed by attach. A
                # manifest without the key is pre-round-8 state =
                # float64 by construction.
                frozen_fmt = man.get("vec_format", "float64")
            elif sidecar is not None:
                frozen = (int(sidecar["num_planes"]), int(sidecar["num_tables"]))
                frozen_fmt = sidecar.get("vec_format", "float64")
            if frozen_fmt is not None:
                if vec_format is not None and vec_format != frozen_fmt:
                    raise ValueError(
                        f"curator at {base_dir} has frozen vec_format="
                        f"{frozen_fmt!r} but was re-attached with explicit "
                        f"vec_format={vec_format!r}; stored vec state can "
                        "only change format through migrate_vec_format()"
                    )
                self.vec_format = frozen_fmt
            else:
                self.vec_format = vec_format or "int8"
            # PQ geometry (round 9): m/k_sub freeze like the LSH
            # geometry — stored codes were encoded under them, and the
            # codebooks artifact (pq_books.json) is their model half
            def _pq_frozen(key):
                if man is not None and key in man:
                    return man[key]
                if sidecar is not None:
                    return sidecar.get(key)
                return None

            for attr, explicit, dflt in (
                ("pq_m", pq_m, 8),
                ("pq_ksub", pq_ksub, 16),
            ):
                froz = _pq_frozen(attr)
                if froz is not None:
                    if explicit is not None and int(explicit) != int(froz):
                        raise ValueError(
                            f"curator at {base_dir} has frozen {attr}="
                            f"{froz} but was re-attached with explicit "
                            f"{attr}={explicit}; stored PQ codes were "
                            "encoded under the frozen value"
                        )
                    setattr(self, attr, int(froz))
                else:
                    setattr(self, attr, int(dflt if explicit is None else explicit))
            if frozen is not None:
                # explicit constructor args that CONFLICT with the
                # frozen geometry are the docstring's failure mode —
                # past and future signatures would stop colliding — so
                # they fail loudly instead of silently re-deriving.
                explicit = (num_planes, num_tables)
                if any(
                    e is not None and e != f for e, f in zip(explicit, frozen)
                ):
                    raise ValueError(
                        f"curator at {base_dir} has frozen LSH geometry "
                        f"planes={frozen[0]}/tables={frozen[1]} "
                        f"(geometry.json) but was re-attached with "
                        f"explicit planes={num_planes}/tables={num_tables}; "
                        "state signatures were computed under the frozen "
                        "geometry — rollover_geometry() re-signs the state, "
                        "or delete the state to start over"
                    )
                self.num_planes, self.num_tables = frozen
                self._write_geometry_sidecar()  # heal a stale sidecar
            else:
                if num_planes is None and num_tables is None and expected_corpus is not None:
                    from ..operators.similarity import lsh_auto_geometry

                    self.num_planes, self.num_tables = lsh_auto_geometry(
                        expected_corpus, threshold=threshold
                    )
                else:
                    self.num_planes = 8 if num_planes is None else num_planes
                    self.num_tables = 8 if num_tables is None else num_tables
                # freeze WHATEVER the source (auto, explicit, default):
                # a restart must re-attach to these exact values
                self._write_geometry_sidecar()
        self.grams_schema = f"doc_id {id_type}, g long"
        self.banded_schema = f"doc_id {id_type}, band int, bucket long"
        # int8 (default for fresh round-8 state dirs): 1 byte/dim codes
        # + one double scale — ~4x smaller vec state, the curator's
        # dominant storage term at 100 TB. pq (round 9): m small codes
        # per VECTOR (~32x vs float64 at 64 dims / m=8) + a bounded
        # codebooks artifact. float64 = pre-round-8 dirs.
        self.vec_schema = self._vec_schema_for(self.vec_format, id_type)
        self.sig_schema = f"vec_id {id_type}, tbl int, bucket long"
        self.df_schema = "g long, df long"
        self.hll_schema = "bucket long, mreg int"
        self.hdr_schema = "idx long, cnt long"
        # exact-decimal excess sums: batch partials fold additively
        # across batches (and subtract exactly on eviction) into the
        # SAME decimal total one global dsum would produce — the
        # derived lam is bit-equal to a from-scratch refit
        self.doremi_schema = "dom string, ex decimal(28,6), n long"
        self.funnel_schema = "batch_id int, stage string, n long"
        # per-doc FineWeb-recipe verdicts: immutable facts about each
        # ingress doc — rows fold by CONCATENATION (no aggregation),
        # canonical selection derives at read time from the
        # order-independent per-hash min. The fineweb_recipe block
        # below (which resolves the frozen mode) overrides this with
        # the mode='full' schema when the round-12 full tier is on.
        self.fineweb_schema = (
            f"doc_id {id_type}, c4_kept boolean, quality_kept boolean,"
            " rep_kept boolean, h string, pass boolean"
        )
        self.tomb_schema = f"doc_id {id_type}"
        self.shsig_schema = f"doc_id {id_type}, simhash long"
        # claimed winnowed anchors (substr screen): grams claimed by
        # STRING — the 31-bit portable hash only drives selection and
        # join keying, a collision can never excise unique text
        self.anchors_schema = "gh long, g string"
        # sh_hash_fn / max_hamming / sh_blocks resolved (and, for the
        # simhash screen, frozen) in the policy block above; 4 blocks
        # (the quarter scheme) carry radius <= 3, higher radii switch
        # to 8x8-bit blocks with 2-block combination keys (Manku
        # multi-rotation — see dedup.simhash_rotation_keys)
        self.compact_after = compact_after
        self.n_buckets = n_buckets
        self.quality_model_path = quality_model_path
        self.quality_threshold = quality_threshold
        self.url_col = url_col
        self.url_blocked_domains = tuple(url_blocked_domains)
        self.url_blocked_tlds = tuple(url_blocked_tlds)
        self.url_max_path_depth = url_max_path_depth
        self.repetition_rules = repetition_rules
        self.track_funnel = track_funnel
        if fineweb_recipe not in (False, True, "core", "full"):
            raise ValueError(
                f"unknown fineweb_recipe {fineweb_recipe!r} "
                "(False | True | 'core' | 'full')"
            )
        self.fineweb_recipe = bool(fineweb_recipe)
        if fineweb_recipe:
            if screen == "embedding":
                raise ValueError(
                    "fineweb_recipe is a text tier (jaccard/minhash/"
                    "simhash screens) — the recipe verdicts need text_col"
                )
            # the MODE is state-shaping (the two modes store different
            # verdict schemas), so it freezes like the simhash params:
            # stored rows were computed under it, a re-attach with the
            # other mode would mix schemas in one tier
            mode = "full" if fineweb_recipe == "full" else "core"
            froz_mode = _frozen("fineweb_mode")
            if froz_mode is not None and froz_mode != mode:
                raise ValueError(
                    f"curator at {base_dir} has frozen fineweb_mode="
                    f"{froz_mode!r} but was re-attached with "
                    f"fineweb_recipe={fineweb_recipe!r}; the stored "
                    "verdict rows carry the frozen mode's schema — "
                    "start a fresh state dir to change it"
                )
            self.fineweb_mode = froz_mode or mode
            if self.fineweb_mode == "full":
                # the published pipeline's complete rung set (URL,
                # language, PII count riding the same verdict rows)
                self.fineweb_schema = (
                    f"doc_id {id_type}, url_kept boolean,"
                    " lang_pred string, lang_kept boolean,"
                    " c4_kept boolean, quality_kept boolean,"
                    " rep_kept boolean, h string, n_pii bigint,"
                    " pass boolean"
                )
            # the tier must cover the ingress from the FIRST batch: a
            # batch processed (or compacted) before the flag was on has
            # no verdict rows and its ingress docs are gone — the
            # maintained funnel could never equal the batch recipe on
            # that prefix again. Fail loudly instead of silently
            # serving a partial funnel.
            if _man is not None and _man.get("fineweb") is None and (
                _man.get("covered_upto", -1) >= 0
            ):
                raise ValueError(
                    "fineweb_recipe enabled on a state dir whose "
                    "compacted corpus predates the tier; start a fresh "
                    "state dir (the covered batches' verdict rows are "
                    "underivable)"
                )
            have = {
                self._batch_id_of(d)
                for d in self._committed_batch_dirs(self.fineweb_dir)
            }
            missing = sorted(
                self._batch_id_of(d)
                for d in self._committed_batch_dirs(self.accepted_dir)
                if self._batch_id_of(d) not in have
            )
            if missing:
                raise ValueError(
                    f"fineweb_recipe enabled mid-stream: committed "
                    f"batches {missing} lack verdict partitions and "
                    "their ingress docs are gone; start a fresh state "
                    "dir"
                )
        self.perplexity_lm_path = perplexity_lm_path
        self.perplexity_max_xent = perplexity_max_xent
        self.doremi_lm_path = doremi_lm_path
        self._doremi_lm: tuple | None = None  # ((mtime, size), uc, ..., meta)
        self._perplexity_lm: tuple | None = None
        self._quality_model: tuple | None = None  # ((mtime, size), w, stats)
        self.contamination_bloom_path = contamination_bloom_path
        self.contamination_max_fraction = contamination_max_fraction
        self._contamination_bloom: tuple | None = None  # ((mtime, size), df, geo)
        if length_band is not None:
            qlo, qhi = length_band
            if not (0.0 <= qlo < qhi <= 1.0):
                raise ValueError(f"length_band must be 0 <= q_lo < q_hi <= 1, got {length_band}")
        self.length_band = length_band
        self.length_band_min_docs = length_band_min_docs
        self.catalog_prefix = catalog_prefix or (
            "pwp_curator_" + hashlib.md5(base_dir.encode()).hexdigest()[:8]
        )
        # freeze the resolved policy (all screens — the embedding
        # branch above already wrote it together with the geometry;
        # idempotent when the sidecar is current)
        self._write_geometry_sidecar()

    # ------------------------------------------------------------------
    # compacted-tier manifest

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.base_dir, "COMPACTED.json")

    @staticmethod
    def _vec_schema_for(fmt: str | None, id_type: str) -> str:
        if fmt == "int8":
            return f"vec_id {id_type}, qc array<tinyint>, qs double"
        if fmt == "pq":
            return f"vec_id {id_type}, pc array<int>"
        return f"vec_id {id_type}, v array<double>, nv double"

    def _vec_format_record(self) -> dict:
        """The vec-format keys every manifest/sidecar carries for an
        embedding screen — PQ adds its geometry (m, k_sub) because
        stored codes were encoded under it."""
        rec = {"vec_format": self.vec_format or "float64"}
        if self.vec_format == "pq":
            rec["pq_m"] = self.pq_m
            rec["pq_ksub"] = self.pq_ksub
        return rec

    # ------------------------------------------------------------------
    # PQ codebooks artifact (vec_format='pq', round 9)

    @property
    def _pq_books_path(self) -> str:
        return os.path.join(self.base_dir, "pq_books.json")

    def _require_pq_books(self):
        """Codebooks for decoding STORED pq state — when state exists
        the artifact must too (it is the model half of every stored
        code); a missing file with live codes is corruption, not a
        fit-me signal."""
        if self._pq_books is not None:
            return self._pq_books
        from ..operators.pq import books_from_jsonable

        try:
            with open(self._pq_books_path) as f:
                self._pq_books = books_from_jsonable(json.load(f))
        except FileNotFoundError:
            raise RuntimeError(
                f"curator at {self.base_dir} has vec_format='pq' state "
                "but no pq_books.json — stored codes are undecodable "
                "without their codebooks; restore the artifact"
            ) from None
        return self._pq_books

    def _ensure_pq_books(self, batch: DataFrame) -> None:
        """Load the frozen codebooks, or — on the very first batch of
        a fresh pq state dir — FIT them on that batch (iters=1, the
        FAISS train-on-a-sample story: the first micro-batch is the
        sample) and freeze them atomically. Deterministic fit ⇒ a
        replay of batch 0 after a crash that lost the artifact refits
        the identical books; once any vec batch is committed the
        artifact is required (see ``_require_pq_books``)."""
        if self._pq_books is not None:
            return
        if os.path.exists(self._pq_books_path):
            self._require_pq_books()
            return
        has_state = bool(self._committed_batch_dirs(self.vec_dir)) or (
            (self._manifest() or {}).get("vec") is not None
        )
        if has_state:
            self._require_pq_books()  # raises: state without books
            return
        from ..operators.pq import books_to_jsonable, pq_fit

        books = pq_fit(
            batch,
            m=self.pq_m,
            k_sub=self.pq_ksub,
            iters=1,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        write_json_atomic(self._pq_books_path, books_to_jsonable(books))
        self._pq_books = books

    def _policy_record(self) -> dict:
        """The frozen-policy keys (round 9 — r8 advice): written into
        the sidecar at construction and into every compaction/rollover
        manifest, resolved manifest-first at attach like geometry."""
        rec: dict = {"retention": self.retention}
        if self.score_col is not None:
            rec["score_col"] = self.score_col
        if self.doremi_domain_col is not None:
            rec["doremi_domain_col"] = self.doremi_domain_col
        if self.screen == "simhash":
            rec["sh_hash_fn"] = self.sh_hash_fn
            rec["max_hamming"] = self.max_hamming
            rec["sh_blocks"] = self.sh_blocks
        if self.screen == "substr":
            rec["substr_n"] = self.substr_n
            rec["winnow_w"] = self.winnow_w
        if self.fineweb_mode is not None:
            rec["fineweb_mode"] = self.fineweb_mode
        return rec

    def _write_geometry_sidecar(self) -> None:
        """Freeze the CURRENT (num_planes, num_tables) — and, round 9,
        the policy record (retention/score_col/simhash params) — into
        ``geometry.json`` (atomic replace; skipped when already
        identical). Called on first derive, on attach (healing a
        sidecar a crashed rollover left stale — the manifest's record
        wins at attach), and after a rollover flip."""
        geo_path = os.path.join(self.base_dir, "geometry.json")
        want = dict(self._policy_record())
        if self.screen == "embedding":
            want.update(
                {
                    "num_planes": self.num_planes,
                    "num_tables": self.num_tables,
                    **self._vec_format_record(),
                }
            )
        try:
            with open(geo_path) as f:
                if json.load(f) == want:
                    return
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        write_json_atomic(geo_path, want)

    # ------------------------------------------------------------------
    # state reads

    def _schema(self, name: str) -> str:
        return getattr(self, f"{name}_schema")

    def _compacted_tiers(self) -> list[Tier]:
        """The tiers a compaction folds, in write order: the screen's
        index and monitor tiers, then DoReMi and FineWeb when on."""
        tiers = [*self.index_tiers, *self.monitor_tiers]
        if self.doremi_lm_path is not None:
            tiers.append(_DOREMI)
        if self.fineweb_recipe:
            tiers.append(_FINEWEB)
        return tiers

    def _compacted_state(self, kind: str, man: dict | None = None) -> DataFrame | None:
        """Compacted rows of tier ``kind`` (or of ``accepted``) in the
        version ``man`` names (default: the live manifest), or None
        when there is none. A bucketed tier resolves through the
        session catalog (shuffle-free probe joins), then by
        re-registering the external table on a fresh session, then by
        a plain parquet read of its path (correct, loses the bucket
        metadata). A plain tier is a parquet read."""
        man = self._manifest() if man is None else man
        if man is None:
            return None
        if kind == "accepted":
            return self.spark.read.parquet(man["accepted_path"])
        ent = man.get(kind)
        if ent is None:
            return None
        schema = self._schema(kind)
        if "table" not in ent:
            return self.spark.read.schema(schema).parquet(ent["path"])
        cols = StructType.fromDDL(schema).fieldNames()  # decimal(p,s)-safe
        try:
            return self.spark.table(ent["table"]).select(*cols)
        except Exception:
            pass
        try:
            from ..operators.bucketing import register_bucketed

            register_bucketed(
                self.spark,
                ent["table"],
                schema,
                ent["keys"],
                man["n_buckets"],
                ent["path"],
            )
            return self.spark.table(ent["table"]).select(*cols)
        except Exception:
            return (
                self.spark.read.schema(schema).parquet(ent["path"]).select(*cols)
            )

    def _with_compacted(self, live: DataFrame, kind: str) -> DataFrame:
        comp = self._compacted_state(kind)
        return live if comp is None else comp.unionByName(live)

    def _tombstones(self, exclude_batch: int | None = None) -> DataFrame:
        """Committed evicted-doc ids above the compaction watermark
        (``retention='best'``): compaction applies covered tombstones
        PHYSICALLY — the folded tables never contain evicted rows —
        so only the live dirs ever filter a read. Committed-only (an
        uncommitted batch's evictions must not hide docs from a
        concurrent reader) and excluding the in-flight batch (a
        replay decides against exactly the pre-batch state)."""
        return self._read_committed(
            self.tomb_dir, self.tomb_schema, self._covered_upto(), exclude=exclude_batch
        )

    def _minus_tombstones(
        self, df: DataFrame, key: str, exclude_batch: int | None = None
    ) -> DataFrame:
        """Anti-join the live tombstone set onto a state read — a
        no-op under ``retention='first'`` (no tier, no plan nodes)."""
        if self.retention != "best":
            return df
        t = self._tombstones(exclude_batch)
        if key != "doc_id":
            t = t.withColumnRenamed("doc_id", key)
        return df.join(t, key, "anti")

    def _tier_rows(
        self,
        tier: Tier,
        exclude_batch: int | None = None,
        committed: bool = False,
    ) -> DataFrame:
        """The whole of ``tier``: compacted rows ∪ live rows above the
        watermark, minus the live tombstones when the tier is
        doc-keyed. The live side is the replay-safe ``_read_state``
        (batch ``exclude_batch`` left out) for the screens, or, with
        ``committed``, only marker-committed dirs (the export: a
        partial batch's rows must never ship)."""
        base = os.path.join(self.base_dir, tier.name)
        schema = self._schema(tier.name)
        if committed:
            live = self._read_committed(base, schema, lo=self._covered_upto())
        else:
            live = self._read_state(base, schema, exclude_batch)
        rows = self._with_compacted(live, tier.name)
        if tier.doc_key is None:
            return rows
        return self._minus_tombstones(rows, tier.doc_key, exclude_batch)

    def _index(self, exclude_batch: int | None = None) -> DataFrame:
        return self._tier_rows(_GRAMS, exclude_batch)

    def _index_banded(self, exclude_batch: int | None = None) -> DataFrame:
        return self._tier_rows(_BANDED, exclude_batch)

    def _committed_ids(
        self, base: str, lo: int, hi: int | None = None, exclude: int | None = None
    ) -> set[int]:
        return {self._batch_id_of(d) for d in self._committed_batch_dirs(base, lo, hi, exclude)}

    def _covers(
        self,
        tier: Tier,
        ids: set[int],
        lo: int,
        hi: int | None = None,
        exclude: int | None = None,
    ) -> bool:
        """The covers-or-derive rule, for reads and compaction alike:
        a monitor tier is used only when the compacted version carries
        it and its committed batches in ``(lo, hi]`` are exactly
        ``ids``, its source tier's. Otherwise the caller derives it
        from the source, because a missing batch would silently skew
        it (undercount the vocabulary, shift every quantile), and the
        next compaction heals it. Tiers go missing in pre-feature
        state or in a crash between the source write and the tier's."""
        man = self._manifest()
        if man is not None and man.get(tier.name) is None:
            return False
        base = os.path.join(self.base_dir, tier.name)
        return self._committed_ids(base, lo, hi, exclude) == ids

    def _fold(self, rows: DataFrame, tier: Tier, nonzero: bool = False) -> DataFrame:
        """Merge a tier's rows by its ``fold``. ``nonzero`` (compaction)
        drops sum rows that cancelled to 0: grams, length buckets and
        domains whose docs were all evicted."""
        if tier.fold == "concat":
            return rows
        if tier.fold == "distinct":
            return rows.distinct()
        key, *vals = StructType.fromDDL(self._schema(tier.name)).fields
        agg = F.max if tier.fold == "max" else F.sum
        out = rows.groupBy(key.name).agg(
            *(agg(f.name).cast(f.dataType).alias(f.name) for f in vals)
        )
        if nonzero and tier.fold == "sum":
            out = out.filter(F.col(vals[-1].name) != 0)
        return out

    def _derive(self, tier: Tier, src: DataFrame) -> DataFrame:
        """A monitor tier's rows computed from its source rows (gram
        rows for df and hll, accepted docs for hdr and DoReMi): the
        derive half of the covers-or-derive rule."""
        from ..operators.sketch import hdr_build, hll_build

        if tier.name == "df":
            return build_df_index(src)
        if tier.name == "hll":
            return hll_build(src.select("g"), key="g", m=VOCAB_HLL_M)
        if tier.name == "hdr":
            v = src.select(self._tc().alias("v"))
            return hdr_build(v, "v", sub_bits=LEN_HDR_SUB_BITS)
        return self._doremi_batch_rows(self._doremi_excess(src))

    def _maintained(
        self, tier: Tier, exclude_batch: int | None = None
    ) -> DataFrame | None:
        """The folded monitor tier when it covers its source tier
        (``_covers``), else None. ``exclude_batch`` gives the
        PRE-batch view a screen must consult, so a partial-commit
        replay makes the identical decision."""
        upto = self._covered_upto()
        src = os.path.join(self.base_dir, tier.covers)
        ids = self._committed_ids(src, upto, exclude=exclude_batch)
        if not self._covers(tier, ids, upto, exclude=exclude_batch):
            return None
        base = os.path.join(self.base_dir, tier.name)
        live = self._read_state(base, self._schema(tier.name), exclude_batch)
        return self._fold(self._with_compacted(live, tier.name), tier)

    def _monitor(self, tier: Tier, exclude_batch: int | None = None) -> DataFrame:
        """The maintained tier, or ONE derive from its source rows when
        it cannot prove it covers them."""
        rows = self._maintained(tier, exclude_batch)
        if rows is not None:
            return rows
        if tier.covers == "grams":
            src = self._index(exclude_batch)
        else:
            src = self._accepted_excluding(exclude_batch)
        if src is None:
            return self.spark.createDataFrame([], self._schema(tier.name))
        return self._derive(tier, src)

    def _index_df(self, exclude_batch: int | None = None) -> DataFrame | None:
        """Maintained (g, df) aggregate over the accepted corpus
        (round 7): the sum of per-batch kept-gram dfs — exact because
        accepted doc-id sets are disjoint across batches. None (⇒ the
        screen falls back to the recount path) whenever the df tier
        cannot prove it covers exactly the gram tier; the next
        compaction heals it, so a migrated curator converges back to
        the maintained path instead of staying slow forever."""
        return self._maintained(_DF, exclude_batch)

    def vocab_estimate(self) -> float:
        """Approximate distinct-shingle count of the accepted corpus —
        the cheap maintenance trigger (when to resize the df tier,
        refresh stop-lists, or re-bucket the gram index), read from
        the maintained per-batch HLL registers (round 7): a max-merge
        over <= VOCAB_HLL_M rows per committed batch + the compacted
        registers, never a corpus scan. Relative error ~1.04/sqrt(m)
        (~6.5% at 256). When the tier cannot prove it covers exactly
        the gram tier, it falls back to ONE derive from the full gram
        table — missing registers would silently UNDERcount, the one
        direction a growth monitor must never err. Text screens
        only."""
        if self.screen in ("embedding", "simhash"):
            raise ValueError(
                "vocab_estimate applies to the shingle screens "
                "(jaccard/minhash)"
            )
        from ..operators.sketch import hll_estimate

        rows = hll_estimate(self._monitor(_HLL), m=VOCAB_HLL_M).collect()
        return float(rows[0].est) if rows else 0.0

    def _accepted_rows(
        self, lo: int, hi: int | None = None, exclude: int | None = None
    ) -> DataFrame | None:
        """Compacted accepted rows ∪ the committed live accepted dirs
        in ``(lo, hi]`` other than ``exclude``; None = no data. The
        accepted tier has no fixed schema: it keeps the batches'
        columns, with the ``ingest_batch`` layout column dropped."""
        comp = self._compacted_state("accepted")
        dirs = self._committed_batch_dirs(self.accepted_dir, lo, hi, exclude)
        if not dirs:
            return comp
        live = (
            self.spark.read.option("basePath", self.accepted_dir)
            .parquet(*dirs)
            .drop(PARTITION)
        )
        return live if comp is None else comp.unionByName(live)

    def _accepted_excluding(self, batch_id: int | None) -> DataFrame | None:
        """``accepted()`` minus one live batch partition — the derive-
        fallback source for pre-batch state reads. If compaction
        already folded ``batch_id`` into the compacted tier (replay of
        an old batch after compaction), the exclusion is best-effort:
        the compacted rows stay in (the model-refresh caveat — a late
        replay screens under the tier as of now). None = no data."""
        rows = self._accepted_rows(self._covered_upto(), exclude=batch_id)
        if rows is None:
            return None
        return self._minus_tombstones(rows, self.id_col, exclude_batch=batch_id)

    def _length_sketch(self, exclude_batch: int | None = None) -> DataFrame:
        """Folded (idx, cnt) HDR buckets of the accepted corpus's
        token counts (``_monitor``: missing buckets would silently
        shift every quantile)."""
        return self._monitor(_HDR, exclude_batch)

    def length_quantiles(self, qs: list[float] | None = None) -> dict[float, int]:
        """Token-count quantiles of the ACCEPTED corpus from the
        maintained per-batch HDR tier (round 7) — the distribution
        monitor behind robust curation cutoffs (``hdr_outlier_filter``
        reads median/MAD from exactly this sketch shape, and the
        ``length_band`` screen reads its cutoffs from this tier): an
        additive fold over ≤ sketch-width rows per committed batch +
        the compacted buckets, never a corpus scan on the maintained
        path. Relative error ≤ 2^-LEN_HDR_SUB_BITS (1.6%). When the
        tier cannot prove it covers exactly the accepted tier
        (pre-feature state, crash between the accepted and hdr
        writes), it falls back to ONE derive from the accepted corpus
        — and the next compaction heals the tier. Text screens only."""
        if self.screen == "embedding":
            raise ValueError("length_quantiles applies to the text screens")
        from ..operators.sketch import hdr_quantiles

        qs = qs or [0.5, 0.9, 0.99]
        sk = self._length_sketch()
        rows = hdr_quantiles(sk, qs, sub_bits=LEN_HDR_SUB_BITS).collect()
        return {float(r.q): int(r.est) for r in rows}

    def _decoded(self, vecs: DataFrame) -> DataFrame:
        """(vec_id, v, nv) view of stored vec rows whatever the storage
        format: int8 state is dequantized, pq state decoded (pure
        per-row codegen), so the verify kernel, the re-signing and the
        export never change."""
        if self.vec_format == "int8":
            from ..operators.similarity import dequantized_vecs

            return dequantized_vecs(vecs)
        if self.vec_format == "pq":
            from ..operators.pq import decoded_vecs

            return decoded_vecs(vecs, self._require_pq_books())
        return vecs

    def _index_vec(self, exclude_batch: int | None = None) -> DataFrame:
        return self._decoded(self._tier_rows(_VEC, exclude_batch))

    def _index_sig(self, exclude_batch: int | None = None) -> DataFrame:
        return self._tier_rows(_SIG, exclude_batch)

    def _index_shsig(self, exclude_batch: int | None = None) -> DataFrame:
        """(doc_id, simhash) accepted-signature state of the simhash
        screen — 8 bytes/doc, the cheapest dedup index in the engine;
        rotation keys are DERIVED at probe time (a pure codegen
        projection over this table), so nothing else is stored."""
        return self._tier_rows(_SHSIG, exclude_batch)

    def _index_anchors(self, exclude_batch: int | None = None) -> DataFrame:
        """(gh, g) claimed-anchor state of the substr screen. No
        tombstone filter: the screen has no doc-grain retention, and a
        claimed gram stays claimed (the keep-first contract) for the
        stream's lifetime."""
        return self._tier_rows(_ANCHORS, exclude_batch)

    def accepted(self) -> DataFrame:
        """Accepted corpus: compacted tier + COMMITTED live batch
        partitions only (``_SUCCESS`` present — a reader concurrent
        with a live micro-batch, or after a crash before replay, never
        observes a partial batch's rows). The ``ingest_batch`` layout
        column is an implementation detail and is dropped."""
        out = self._accepted_excluding(None)
        if out is None:
            # preserves the pre-compaction error contract (reading an
            # empty curator raises PATH_NOT_FOUND, not silent-empty) —
            # but NEVER exposes a partial batch's rows: if uncommitted
            # dirs exist, only their schema is borrowed (zero rows)
            raw = self.spark.read.parquet(self.accepted_dir)
            if self._batch_dirs(self.accepted_dir):
                raw = raw.where(F.lit(False))
            return raw.drop(PARTITION)
        return out

    def _tc(self):
        """Doc length in tokens with NULL text read as '' (round-12
        edge fix): a crawl batch can carry NULL content, and both the
        additive HDR length tier (whose domain guard raises on NULL)
        and the length-band screen must see a countable length — the
        empty-page length — not a NULL that crashes the batch or
        silently drops the doc from the length stats."""
        from ..operators.textops import token_count

        return token_count(
            F.coalesce(F.col(self.text_col), F.lit(""))
        ).cast("long")

    def _apply_length_screen(self, docs: DataFrame, batch_id: int) -> DataFrame:
        """Adaptive length-band pre-screen (``length_band``): keep
        only docs whose token count lands within the [q_lo, q_hi]
        band of the accepted corpus so far, with the cutoffs read
        from the maintained HDR tier — two collects over a ≤ sketch-
        width frame, then one codegen filter over the batch. Consults
        the PRE-batch tier (exclude_batch) so replays decide
        identically; inert during warmup (< length_band_min_docs
        accepted docs)."""
        if self.length_band is None:
            return docs
        from ..operators.sketch import hdr_quantiles

        sk = self._length_sketch(exclude_batch=batch_id).persist()
        try:
            n = sk.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n")).collect()[0].n
            if n < self.length_band_min_docs:
                return docs
            qlo, qhi = self.length_band
            rows = hdr_quantiles(sk, [qlo, qhi], sub_bits=LEN_HDR_SUB_BITS).collect()
        finally:
            sk.unpersist()
        est = {float(r.q): int(r.est) for r in rows}
        lo, hi = est[float(qlo)], est[float(qhi)]
        tc = self._tc()
        return docs.filter((tc >= F.lit(lo)) & (tc <= F.lit(hi)))

    def _apply_url_screen(self, docs: DataFrame) -> DataFrame:
        """URL blocklist pre-screen (``url_col``, round 9): the
        crawl-METADATA filter every web pipeline runs before reading
        a byte of content (CCNet/RefinedWeb discard by domain
        reputation, TLD class, IP-literal hosts, crawler-trap path
        shapes). FIRST in the screen order — it is a pure codegen
        projection over one string column, the cheapest screen there
        is, and everything downstream (including tokenization) only
        sees docs whose provenance survived. Rejected docs are never
        indexed, so they never block a later near-dup — the same
        never-indexed contract as every pre-screen. Text screens
        only."""
        if self.url_col is None:
            return docs
        from ..operators.urlops import url_screen

        scr = url_screen(
            docs,
            url_col=self.url_col,
            blocked_domains=self.url_blocked_domains,
            blocked_tlds=self.url_blocked_tlds,
            max_path_depth=self.url_max_path_depth,
        )
        return scr.filter(F.col("keep")).select(*docs.columns)

    def _apply_pre_screens(
        self, batch: DataFrame, batch_id: int
    ) -> tuple[DataFrame, list[tuple[str, int]]]:
        """The text pre-screen chain in the production order (URL →
        repetition → length → quality → perplexity → Bloom
        decontamination), with optional per-stage funnel accounting
        (``track_funnel``): the ingress size and each ACTIVE stage's
        survivor count are recorded — an inactive screen returns its
        input unchanged (identity-checked), so disabled screens cost
        nothing. Counting is opt-in observability: each count is one
        action over the lazy chain prefix, so a funnel-tracking batch
        pays roughly one extra chain evaluation per active screen —
        the 'where did my corpus go' ledger every curation run wants,
        priced only when asked for."""
        stages = [
            ("url", self._apply_url_screen),
            ("repetition", self._apply_repetition_screen),
            ("length", lambda d: self._apply_length_screen(d, batch_id)),
            ("quality", self._apply_quality_screen),
            ("perplexity", self._apply_perplexity_screen),
            ("contamination", self._apply_contamination_screen),
        ]
        counts: list[tuple[str, int]] = []
        cur = batch
        if self.track_funnel:
            counts.append(("ingress", batch.count()))
        for name, fn in stages:
            nxt = fn(cur)
            if self.track_funnel and nxt is not cur:
                counts.append((name, nxt.count()))
            cur = nxt
        return cur, counts

    def _write_funnel_tier(
        self, counts: list[tuple[str, int]], keep: DataFrame, batch_id: int
    ) -> None:
        """Per-batch screen-funnel partition: the pre-screen ledger
        plus the batch's final accepted count (post-dedup). Same
        overwrite-into-batch-dir replay discipline as every tier."""
        rows = counts + [("accepted", keep.count())]
        ledger = self.spark.createDataFrame(
            [(batch_id, s, int(n)) for s, n in rows], self.funnel_schema
        )
        self._write_batch(ledger.coalesce(1), self.funnel_dir, batch_id)

    def funnel(self) -> DataFrame:
        """The accumulated per-batch screen funnel
        (batch_id, stage, n) — read from committed partitions
        directly (this tier is an audit LEDGER, deliberately outside
        the compaction fold: history is its value)."""
        dirs = self._committed_batch_dirs(self.funnel_dir)
        if not dirs:
            return self.spark.createDataFrame([], self.funnel_schema)
        return self.spark.read.schema(self.funnel_schema).parquet(*dirs)

    def _write_fineweb_tier(self, batch: DataFrame, batch_id: int) -> None:
        """Per-batch FineWeb-recipe verdict partition (round 11 — the
        r10 verdict's maintained-funnel ask): the per-doc signal
        stack (C4 / Gopher quality / Gopher repetition + the cleaned-
        text md5) of every INGRESS doc, computed by the SAME
        ``fineweb_signal_stack`` the batch recipe uses so the two
        cannot drift. Computed on the batch as delivered — before any
        pre-screen — because the recipe is a parallel maintained
        funnel over the ingress, not a stage of the accept path.
        Same overwrite-into-batch-dir replay discipline as every
        tier; rows are immutable per-doc facts, so the tier folds by
        concatenation at compaction.

        mode='full' (round 12) writes the published pipeline's
        complete rung set via ``fineweb_full_stack`` — URL verdict
        (the batch must carry ``url_col or 'url'``; the URL
        pre-screen's blocklist args shape the verdict, with the
        model-refresh replay caveat), language ID, PII count — same
        shared-operator discipline, so the streamed funnel cannot
        drift from ``pipeline_fineweb_full``. ``redacted`` is
        deliberately NOT stored: the tier is a verdict ledger, not a
        second copy of the corpus (redaction is a stateless codegen
        projection a reader applies to the accepted text)."""
        if self.fineweb_mode == "full":
            from ..operators.textops import fineweb_full_stack

            verdicts = fineweb_full_stack(
                batch,
                page_col=self.text_col,
                url_col=self.url_col or "url",
                id_col=self.id_col,
                blocked_domains=self.url_blocked_domains,
                blocked_tlds=self.url_blocked_tlds,
                max_path_depth=self.url_max_path_depth,
            ).drop("redacted")
        else:
            from ..operators.textops import fineweb_signal_stack

            verdicts = fineweb_signal_stack(
                batch, page_col=self.text_col, id_col=self.id_col
            )
        self._write_batch(verdicts, self.fineweb_dir, batch_id)

    def fineweb_funnel(self) -> DataFrame:
        """The maintained FineWeb funnel over every ingress doc
        processed so far: (doc_id, c4_kept, quality_kept, rep_kept,
        is_canonical, final_keep) — HASH-EQUAL to running the batch
        recipe (``pipeline_fineweb_recipe``'s shape) over the same
        ingress prefix, in ANY arrival order and through any number
        of compactions: the three verdicts are per-row facts written
        at ingest, and canonical selection is a per-hash ``min`` over
        passing doc_ids — associative, commutative, and
        order-independent, so deriving it at read time from the
        accumulated verdict rows gives exactly the batch answer (the
        DoReMi tier's additive-fold argument, with min instead of
        sum). Replay-idempotent by the overwrite-into-batch-dir
        discipline; the one cross-document step costs one md5-keyed
        aggregate + join at read, never at ingest."""
        if not self.fineweb_recipe:
            raise ValueError("fineweb_recipe is not enabled")
        rows = self._tier_rows(_FINEWEB)
        cm = rows.groupBy("h").agg(
            F.min(F.when(F.col("pass"), F.col("doc_id"))).alias("cmin")
        )
        is_canon = F.col("pass") & (F.col("doc_id") == F.col("cmin"))
        if self.fineweb_mode == "full":
            return rows.join(cm, "h").select(
                "doc_id",
                "url_kept",
                "lang_pred",
                "lang_kept",
                "c4_kept",
                "quality_kept",
                "rep_kept",
                "n_pii",
                is_canon.alias("is_canonical"),
                is_canon.alias("final_keep"),
            )
        return rows.join(cm, "h").select(
            "doc_id",
            "c4_kept",
            "quality_kept",
            "rep_kept",
            is_canon.alias("is_canonical"),
            is_canon.alias("final_keep"),
        )

    def fineweb_datacard(self) -> DataFrame:
        """The published-funnel DATA CARD over the maintained full
        tier (round 12 — the streamed sibling of
        ``audit_fineweb_full_datacard``, row-for-row equal to the
        batch rollup on the same ingress prefix, any arrival order —
        pinned in ``test_streaming_fineweb``): cumulative survivor
        counts + ingress rates through ingress → URL → language →
        C4 → quality → repetition → dedup, plus PII-redacted
        keepers. One 8-conditional-sum aggregate over
        ``fineweb_funnel()`` — ≤ 8 rows out whatever the corpus.
        Requires ``fineweb_recipe="full"`` (the core tier lacks the
        URL/language/PII rungs)."""
        if self.fineweb_mode != "full":
            raise ValueError(
                "fineweb_datacard() needs fineweb_recipe='full' — the "
                "core tier lacks the URL/language/PII rungs"
            )
        from ..operators.textops import fineweb_datacard_rollup

        return fineweb_datacard_rollup(self.fineweb_funnel())

    def _apply_repetition_screen(self, docs: DataFrame) -> DataFrame:
        """Gopher Table-A1 repetition pre-screen (``repetition_rules``,
        round 10): drop heavily self-repeating docs (duplicate lines,
        dominant n-grams, duplicated 5..10-grams — the §A1.1 rule set
        at the paper's thresholds) BEFORE any stateful screen sees
        them. Per-row sort+fold signals, zero shuffle, no join — the
        second-cheapest screen after the URL projection, so it runs
        right behind it. Same replay caveat as the other content
        screens (a batch replayed after toggling the flag screens
        under the current config; the per-batch ``_committed`` gate
        makes that unreachable in normal operation). Text screens
        only."""
        if not self.repetition_rules:
            return docs
        from ..operators.textops import gopher_repetition_screen

        return gopher_repetition_screen(
            docs, page_col=self.text_col, id_col=self.id_col
        )

    def _apply_quality_screen(self, docs: DataFrame) -> DataFrame:
        """Learned-quality pre-screen (``quality_model_path``): keep
        only docs the classifier scores ≥ ``quality_threshold``. The
        model sidecar is cached on (mtime, size) and re-read on
        change; scoring is a zero-shuffle literal projection, so the
        screen's cost is one pass over the batch — which then SHRINKS
        everything downstream (the whole point of filter-then-dedup)."""
        if self.quality_model_path is None:
            return docs
        from ..operators import classifier

        st = os.stat(self.quality_model_path)
        key = (st.st_mtime_ns, st.st_size)
        if self._quality_model is None or self._quality_model[0] != key:
            w, stats = classifier.load_model(self.quality_model_path)
            self._quality_model = (key, w, stats)
        _, w, stats = self._quality_model
        feats = classifier.standardize(
            classifier.quality_features(docs, self.text_col, self.id_col),
            stats=stats,
        )
        low = (
            classifier.logreg_score(feats, w)
            .filter(F.col("score") < F.lit(float(self.quality_threshold)))
            .select(F.col("doc_id").alias(self.id_col))
        )
        return docs.join(low, self.id_col, "anti")

    def _apply_perplexity_screen(self, docs: DataFrame) -> DataFrame:
        """CCNet-style LM perplexity pre-screen
        (``perplexity_lm_path``): score every batch doc against the
        PERSISTED bigram LM (``textops.write_bigram_lm`` artifact —
        fitted on a clean reference slice, the CCNet recipe) and
        reject docs with cross-entropy above ``perplexity_max_xent``
        (gibberish / far-out-of-domain text). Backoff smoothing
        handles OOV events (see ``score_with_bigram_lm``). The model
        tables are cached on the ``lm.json`` sidecar's (mtime, size)
        — the same live-swap convention as the classifier and bloom
        screens; unscored (<2-token) docs pass vacuously."""
        if self.perplexity_lm_path is None:
            return docs
        from ..operators import textops

        # the artifact's sidecar name tags its ORDER (round 10):
        # lm3.json = a write_trigram_lm KN3 model (full KenLM
        # recursion with coalesce-to-zero backoff), lm.json = the
        # round-7 bigram model — same screen, higher-fidelity scorer
        kn3_sidecar = os.path.join(self.perplexity_lm_path, "lm3.json")
        if os.path.exists(kn3_sidecar):
            st = os.stat(kn3_sidecar)
            key = ("kn3", st.st_mtime_ns, st.st_size)
            if self._perplexity_lm is None or self._perplexity_lm[0] != key:
                tc, meta = textops.read_trigram_lm(
                    self.spark, self.perplexity_lm_path
                )
                self._perplexity_lm = (key, tc, meta)
            _, tc, meta = self._perplexity_lm
            scored = textops.score_with_trigram_lm(
                docs, tc, meta, text_col=self.text_col, id_col=self.id_col
            )
        else:
            sidecar = os.path.join(self.perplexity_lm_path, "lm.json")
            st = os.stat(sidecar)
            key = (st.st_mtime_ns, st.st_size)
            if self._perplexity_lm is None or self._perplexity_lm[0] != key:
                uc, ctx, bc, meta = textops.read_bigram_lm(
                    self.spark, self.perplexity_lm_path
                )
                self._perplexity_lm = (key, uc, ctx, bc, meta)
            _, uc, ctx, bc, meta = self._perplexity_lm
            scored = textops.score_with_bigram_lm(
                docs, uc, ctx, bc, meta,
                text_col=self.text_col, id_col=self.id_col,
            )
        bad = scored.filter(
            F.col("xent") > F.lit(float(self.perplexity_max_xent))
        ).select(F.col("doc_id").alias(self.id_col))
        return docs.join(bad, self.id_col, "anti")

    def _doremi_excess(self, docs: DataFrame) -> DataFrame:
        """(``_dom``, ``_ex``) per scoreable doc against the PERSISTED
        LM artifact (``doremi_lm_path`` — one ``write_bigram_lm``
        artifact powers both scorers: its ``uc`` table is the unigram
        proxy, the full backoff tables the bigram reference). Excess =
        round(max(−mean_logprob − xent, 0), 6), the exact per-doc
        expression of ``curation.doremi_domain_weights``; <2-token
        docs (NULL xent) are excluded from the fold, mirroring the
        static pass's inner join. LM tables cached on the sidecar's
        (mtime, size), the screen convention."""
        from ..operators import textops

        sidecar = os.path.join(self.doremi_lm_path, "lm.json")
        st = os.stat(sidecar)
        key = (st.st_mtime_ns, st.st_size)
        if self._doremi_lm is None or self._doremi_lm[0] != key:
            uc, ctx, bc, meta = textops.read_bigram_lm(
                self.spark, self.doremi_lm_path
            )
            self._doremi_lm = (key, uc, ctx, bc, meta)
        _, uc, ctx, bc, meta = self._doremi_lm
        uni = textops.score_with_unigram_lm(
            docs, uc, meta, text_col=self.text_col, id_col=self.id_col
        ).select("doc_id", "mean_logprob")
        bi = (
            textops.score_with_bigram_lm(
                docs, uc, ctx, bc, meta,
                text_col=self.text_col, id_col=self.id_col,
            )
            .select("doc_id", "xent")
            .filter(F.col("xent").isNotNull())
        )
        return (
            docs.select(
                F.col(self.id_col).alias("doc_id"),
                F.col(self.doremi_domain_col).alias("_dom"),
            )
            .join(uni, "doc_id")
            .join(bi, "doc_id")
            .select(
                "_dom",
                F.round(
                    F.greatest(
                        (-F.col("mean_logprob")) - F.col("xent"), F.lit(0.0)
                    ),
                    6,
                ).alias("_ex"),
            )
        )

    def _doremi_batch_rows(self, ex: DataFrame, negate: bool = False) -> DataFrame:
        """Domain-sized (dom, ex, n) partial for one batch — the
        exact-decimal sum of per-doc excess plus the doc count;
        ``negate`` produces the eviction delta rows."""
        s = F.sum(F.col("_ex").cast("decimal(28,6)"))
        n = F.count(F.lit(1))
        if negate:
            s, n = -s, -n
        return ex.groupBy("_dom").agg(
            s.cast("decimal(28,6)").alias("ex"), n.cast("long").alias("n")
        ).select(F.col("_dom").alias("dom"), "ex", "n")

    def _write_doremi_tier(
        self, keep: DataFrame, evicted: DataFrame | None, batch_id: int
    ) -> None:
        """Per-batch DoReMi excess partial (round 10 — r9 verdict #4):
        fold the batch's ACCEPTED docs' per-domain excess sums into
        the additive tier; retention='best' adds NEGATIVE deltas for
        evicted incumbents (rescored from the accepted state — the
        df/hdr convention), so the tier tracks the surviving corpus
        exactly. Replay-safe by the overwrite-into-batch-dir
        discipline; compaction folds the committed prefix."""
        rows = self._doremi_batch_rows(self._doremi_excess(keep))
        ev_docs = self._evicted_docs(evicted, batch_id)
        if ev_docs is not None:
            rows = rows.unionByName(
                self._doremi_batch_rows(self._doremi_excess(ev_docs), negate=True)
            )
        self._write_batch(rows, self.doremi_dir, batch_id)

    def _doremi_tier(self, exclude_batch: int | None = None) -> DataFrame:
        """Folded (dom, ex, n) excess tier of the accepted corpus
        (``_monitor``: derived against the stored LM when the tier
        cannot prove it covers the accepted tier)."""
        if self.doremi_lm_path is None:
            raise ValueError("doremi_lm_path is not configured")
        return self._monitor(_DOREMI, exclude_batch)

    def doremi_lam(self) -> DataFrame:
        """(dom, excess) per-domain mean excess of the ACCEPTED corpus
        from the maintained tier — round(Σex / n, 6), bit-equal to a
        from-scratch refit over the same corpus against the same
        stored LM (decimal partials fold exactly; eviction deltas
        cancel exactly). Domains whose docs all evicted (n = 0) drop
        out, as a refit would drop them."""
        return (
            self._doremi_tier()
            .filter(F.col("n") > 0)
            .select(
                F.col("dom").alias("_dom"),
                F.round(
                    F.col("ex").cast("double") / F.col("n"), 6
                ).alias("excess"),
            )
        )

    def doremi_weights(
        self, iters: int = 3, eta: float = 1.0, smoothing: float = 0.2
    ) -> DataFrame:
        """DoReMi mixture weights of the accepted corpus, refreshed
        from the maintained excess tier (round 10 — r9 verdict #4):
        the domain-sized tier fold + ``curation.doremi_mw_fold`` (the
        IDENTICAL MW plan as the static pass), so per-batch weight
        refreshes cost one domain-sized read — never the two corpus
        LM re-scans ``doremi_domain_weights`` pays. Returns
        (``doremi_domain_col``, excess, weight).

        Deliberately NOT persist()ed: Spark's cache manager matches by
        analyzed-plan equality, and the tier scan's plan (root dir +
        watermark filter) is identical across batches — a persisted
        lam from batch k would silently serve batch k's PARTITION
        LISTING to every later call (measured: stale weights until
        release). The tier is domain-sized; re-scanning it per
        normalizer branch costs nothing."""
        from ..operators.curation import doremi_mw_fold

        return doremi_mw_fold(
            self.doremi_lam(), iters=iters, eta=eta, smoothing=smoothing
        ).select(
            F.col("_dom").alias(self.doremi_domain_col),
            F.col("excess"),
            F.col("weight"),
        )

    def _apply_contamination_screen(self, docs: DataFrame) -> DataFrame:
        """Bloom decontamination pre-screen
        (``contamination_bloom_path``): reject docs whose maybe-hit
        shingle fraction reaches ``contamination_max_fraction``. The
        filter artifact is cached on the sidecar's (mtime, size); the
        membership test is k broadcast joins inside the batch's gram
        scan (zero probe-side shuffle) + one batch-sized per-doc
        count. Docs shorter than ``n`` tokens have no shingles and
        pass vacuously — same convention as the dedup screens."""
        if self.contamination_bloom_path is None:
            return docs
        from ..operators import sketch, textops

        sidecar = os.path.join(self.contamination_bloom_path, "bloom.json")
        st = os.stat(sidecar)
        key = (st.st_mtime_ns, st.st_size)
        if self._contamination_bloom is None or self._contamination_bloom[0] != key:
            bl, geo = sketch.read_bloom(self.spark, self.contamination_bloom_path)
            self._contamination_bloom = (key, bl, geo)
        _, bl, geo = self._contamination_bloom
        grams = textops.exploded_ngrams(
            docs, text_col=self.text_col, id_col=self.id_col, n=self.n
        )
        tested = sketch.bloom_contains(
            bl, grams, key="g",
            m_bits=geo["m_bits"], k=geo["k"], salt=geo["salt"],
        )
        frac = tested.groupBy("doc_id").agg(
            (
                F.sum(F.col("maybe_member").cast("long"))
                / F.count(F.lit(1))
            ).alias("_frac")
        )
        bad = frac.filter(
            F.col("_frac") >= F.lit(float(self.contamination_max_fraction))
        ).select(F.col("doc_id").alias(self.id_col))
        return docs.join(bad, self.id_col, "anti")

    def _rejected_ids(self, pairs: DataFrame, new_ids: DataFrame) -> DataFrame:
        """Apply the greedy rule to the touching-new pair set.
        ``pairs`` is (id_a < id_b); either side may be the new doc."""
        a_new = pairs.join(new_ids.withColumnRenamed("nid", "id_a"), "id_a", "semi")
        b_new = pairs.join(new_ids.withColumnRenamed("nid", "id_b"), "id_b", "semi")
        both = a_new.join(
            new_ids.withColumnRenamed("nid", "id_b"), "id_b", "semi"
        ).select(F.col("id_b").alias("doc_id"))  # new-new: larger id loses
        a_vs_old = a_new.join(
            new_ids.withColumnRenamed("nid", "id_b"), "id_b", "anti"
        ).select(F.col("id_a").alias("doc_id"))  # new id_a dups accepted id_b
        b_vs_old = b_new.join(
            new_ids.withColumnRenamed("nid", "id_a"), "id_a", "anti"
        ).select(F.col("id_b").alias("doc_id"))  # new id_b dups accepted id_a
        return both.unionByName(a_vs_old).unionByName(b_vs_old).distinct()

    def _retention_decisions(
        self, pairs: DataFrame, docs: DataFrame, batch_id: int
    ) -> tuple[DataFrame, DataFrame]:
        """``retention='best'`` pair rules → ``(rejected, evicted)``
        id frames (column ``doc_id``). Per touching-new pair, against
        the PRE-batch state:

        - both new: the lower score loses, ties to the larger id;
        - new vs accepted: the new doc loses on ``score <=``
          (incumbent keeps ties), and on ``score >`` the ACCEPTED doc
          is marked for eviction — applied only when the challenger
          itself survives every pair it is in (a doc rejected by a
          better in-batch twin must not knock out an incumbent).

        Incumbent scores come from the accepted tier's own stored
        ``score_col`` column — a (id, score) projection, columnar-
        pruned, never a re-score and never the text column. NULL
        scores rank below everything (coalesced to -inf)."""
        sid = self.id_col
        ninf = F.lit(float("-inf"))
        sc = F.coalesce(F.col(self.score_col).cast("double"), ninf)
        scores = docs.select(
            F.col(sid).alias("_id"), sc.alias("_s"), F.lit(True).alias("_new")
        )
        old = self._accepted_excluding(batch_id)
        if old is not None:
            scores = scores.unionByName(
                old.select(
                    F.col(sid).alias("_id"), sc.alias("_s"),
                    F.lit(False).alias("_new"),
                )
            )
        p = (
            pairs.select("id_a", "id_b")
            .join(
                scores.select(
                    F.col("_id").alias("id_a"),
                    F.col("_s").alias("s_a"),
                    F.col("_new").alias("na"),
                ),
                "id_a",
            )
            .join(
                scores.select(
                    F.col("_id").alias("id_b"),
                    F.col("_s").alias("s_b"),
                    F.col("_new").alias("nb"),
                ),
                "id_b",
            )
        )
        na, nb = F.col("na"), F.col("nb")
        sa, sb = F.col("s_a"), F.col("s_b")
        loser = (
            F.when(
                na & nb,
                F.when(sa < sb, F.col("id_a"))
                .when(sb < sa, F.col("id_b"))
                .otherwise(F.greatest("id_a", "id_b")),
            )
            .when(na & ~nb & (sa <= sb), F.col("id_a"))
            .when(nb & ~na & (sb <= sa), F.col("id_b"))
        )
        rejected = (
            p.select(loser.alias("doc_id"))
            .filter(F.col("doc_id").isNotNull())
            .distinct()
        )
        evp = p.select(
            F.when(na & ~nb & (sa > sb), F.col("id_b"))
            .when(nb & ~na & (sb > sa), F.col("id_a"))
            .alias("_old"),
            F.when(na & ~nb & (sa > sb), F.col("id_a"))
            .when(nb & ~na & (sb > sa), F.col("id_b"))
            .alias("_challenger"),
        ).filter(F.col("_old").isNotNull())
        evicted = (
            evp.join(
                rejected.withColumnRenamed("doc_id", "_challenger"),
                "_challenger",
                "anti",
            )
            .select(F.col("_old").alias("doc_id"))
            .distinct()
        )
        return rejected, evicted

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: the one per-batch pipeline of every
        screen, in this order:

        1. skip the batch if every tier it writes (``_batch_tiers``)
           has committed it;
        2. embedding screen only: quantize the batch (``vec_format``);
        3. the text pre-screens (``_apply_pre_screens``), then
           ``localCheckpoint`` (after a model screen) or ``persist``
           of the survivors;
        4. the screen's decision against the PRE-batch state: the
           near-duplicate pairs (``_pairs``) through the retention rule
           and an anti-join, or, for the substr screen, span excision
           (``_excise_spans``);
        5. the accepted, funnel, FineWeb and tombstone writes;
        6. the screen's own index tiers (``_write_index_tiers``);
        7. the hdr length tier, then the DoReMi tier;
        8. release the batch's cached frames, then ``maybe_compact``.

        Each write overwrites this batch's ``ingest_batch=<id>`` dir
        and runs only for a tier that has not committed the batch, so
        a replay after a partial commit writes exactly the missing
        tiers, from the same decision (see the module docstring)."""
        pending = [d for d in self._batch_tiers() if not self._committed(d, batch_id)]
        if not pending:  # committed replay
            return
        batch = self._quantized(batch)
        screened, funnel_counts = self._apply_pre_screens(batch, batch_id)
        checkpointed = (
            self.contamination_bloom_path is not None
            or self.perplexity_lm_path is not None
            or self.quality_model_path is not None
            or self.repetition_rules
        )
        if checkpointed:
            # truncate the screen's lineage: every later reference to
            # `docs` (pairs uses it twice, new_ids/keep again, and the
            # hdr tier write one more time) would INLINE the screen
            # subtree (bloom k-join + per-doc count, or the z-score +
            # logreg feature chain) into the plan text — multiplicative
            # growth that OOMs the DRIVER's AQE explain on a plain 1g
            # session (measured: the quality screen crossed that edge
            # when the hdr write added a consumer). The checkpoint
            # materialization is batch-sized by construction.
            docs = screened.localCheckpoint(eager=True)
        else:
            docs = screened.persist()
        held: list[DataFrame] = []  # batch-scoped caches, freed in step 8
        pairs = evicted = None
        if self.screen == "substr":
            keep, index_rows = self._excise_spans(docs, batch_id, held)
        else:
            pairs, index_rows = self._pairs(docs, batch_id, held)
            if self.retention == "best":
                rejected, evicted = self._retention_decisions(pairs, docs, batch_id)
                evicted = evicted.persist()  # tombstones + df/hdr/DoReMi deltas
                held.append(evicted)
            else:
                new_ids = docs.select(F.col(self.id_col).alias("nid"))
                rejected = self._rejected_ids(pairs, new_ids)
            keep = docs.join(
                rejected.withColumnRenamed("doc_id", self.id_col), self.id_col, "anti"
            )
        keep = keep.persist()
        held.append(keep)
        if self.accepted_dir in pending:
            accepted = keep
            if self.screen == "embedding":  # step 2's scratch columns
                accepted = keep.drop("_qc", "_qs", "_pc", "_vhat")
            self._write_batch(accepted, self.accepted_dir, batch_id)
        if self.funnel_dir in pending:
            self._write_funnel_tier(funnel_counts, keep, batch_id)
        if self.fineweb_dir in pending:
            self._write_fineweb_tier(batch, batch_id)
        if self.tomb_dir in pending:
            # accepted first, tombstones second: the crash window
            # between the two shows a reader a transient DUPLICATE
            # (replacement + incumbent), never a hole — the replay
            # heals it. An empty eviction set still writes the dir:
            # its _SUCCESS is the tier's replay-skip marker.
            self._write_batch(evicted, self.tomb_dir, batch_id)
        self._write_index_tiers(keep, evicted, index_rows, batch_id, pending)
        if self.hdr_dir in pending:
            # doc-length HDR buckets of the accepted docs (for substr,
            # the rewritten ones), plus negative buckets for evicted
            # docs so the length_band quantiles track the surviving
            # corpus; additive, like the df tier
            hdr_rows = self._derive(_HDR, keep)
            ev_docs = self._evicted_docs(evicted, batch_id)
            if ev_docs is not None:
                hdr_rows = hdr_rows.unionByName(
                    self._derive(_HDR, ev_docs).withColumn(
                        "cnt", (-F.col("cnt")).cast("long")
                    )
                )
            self._write_batch(hdr_rows, self.hdr_dir, batch_id)
        if self.doremi_dir in pending:
            self._write_doremi_tier(keep, evicted, batch_id)
        for df in held:
            df.unpersist()
        # unpersist() is a NO-OP on localCheckpoint blocks, so the
        # release must mirror the checkpoint gate above (an un-mirrored
        # gate once leaked one checkpoint per batch)
        if checkpointed:
            from ..operators.dedup import _free_local_checkpoint

            _free_local_checkpoint(docs)  # single-use after this point
        else:
            docs.unpersist()
        if pairs is not None:
            release_intermediates(pairs)  # the screen's cached intermediates
        self.maybe_compact()

    def _write_batch(self, df: DataFrame, base: str, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(self._batch_dir(base, batch_id))

    def _evicted_docs(
        self, evicted: DataFrame | None, batch_id: int
    ) -> DataFrame | None:
        """The accepted rows of this batch's evicted incumbents (the
        source of the hdr and DoReMi negative deltas), or None."""
        if evicted is None:
            return None
        acc_prev = self._accepted_excluding(batch_id)
        if acc_prev is None:
            return None
        return acc_prev.join(
            evicted.withColumnRenamed("doc_id", self.id_col), self.id_col, "semi"
        )

    def _quantized(self, batch: DataFrame) -> DataFrame:
        """Step 2 of ``process_batch`` (embedding screen): quantize
        FIRST and derive everything — the screen's batch side, the
        signatures and the stored state — from the reconstructed
        ``_vhat``, so quantization is the single approximation
        boundary and a state row stays byte-reproducible from itself
        (replay, rollover re-signing). int8 adds ``_qc``/``_qs``; pq
        fits or loads the frozen codebooks and adds ``_pc``. Identity
        for float64 state and for the text screens."""
        if self.vec_format == "int8":
            from ..operators.similarity import with_int8_codes

            return with_int8_codes(
                batch, self.vec_col, self.emb_dim, qc="_qc", qs="_qs",
                vhat="_vhat",
            )
        if self.vec_format == "pq":
            from ..operators.pq import with_pq_codes

            self._ensure_pq_books(batch)
            return with_pq_codes(
                batch, self._pq_books, self.vec_col, pc="_pc", vhat="_vhat",
                strategy="numpy",
            )
        return batch

    def _pairs(
        self, docs: DataFrame, batch_id: int, held: list[DataFrame]
    ) -> tuple[DataFrame, DataFrame | None]:
        """Step 4 of ``process_batch`` for the doc-grain screens: the
        near-duplicate pairs (``id_a < id_b``) that touch the batch,
        against the pre-batch index, plus the simhash screen's batch
        signatures (its index rows; None for the other screens).

        - jaccard: exact capped Jaccard against the gram tier, with
          the stop-shingle cap read from the maintained df tier;
        - minhash: band-bucket candidates against ``banded/``, exact
          Jaccard verify on uncapped grams;
        - simhash: Manku rotation keys DERIVED from the 8-byte/doc
          signature tier, exact popcount verify, so the pair set
          equals brute force at ``max_hamming``;
        - embedding: hyperplane-bucket candidates against the
          (vec, sig) tiers, exact cosine verify on ``_vhat`` (or the
          raw vector under float64 state)."""
        if self.screen == "embedding":
            quantized = self.vec_format in ("int8", "pq")
            return incremental_embedding_pairs(
                self._index_vec(exclude_batch=batch_id),
                self._index_sig(exclude_batch=batch_id),
                docs,
                dim=self.emb_dim,
                threshold=self.threshold,
                num_planes=self.num_planes,
                num_tables=self.num_tables,
                seed=self.seed,
                id_col=self.id_col,
                vec_col="_vhat" if quantized else self.vec_col,
                max_bucket_size=self.max_bucket_size,
            ), None
        if self.screen == "simhash":
            from ..operators.dedup import (
                incremental_simhash_pairs_rotated,
                simhash64,
                simhash_rotation_keys,
            )

            index_keys = simhash_rotation_keys(
                self._index_shsig(exclude_batch=batch_id),
                blocks=self.sh_blocks,
                radius=self.max_hamming,
            )
            # ONE signature kernel pass per batch, persisted: the probe
            # reads it on both join sides, and the signature tier
            # stores its keep-restricted subset
            bsigs = simhash64(
                docs, self.text_col, self.id_col, hash_fn=self.sh_hash_fn
            ).persist()
            held.append(bsigs)
            return incremental_simhash_pairs_rotated(
                index_keys,
                None,
                text_col=self.text_col,
                id_col=self.id_col,
                blocks=self.sh_blocks,
                radius=self.max_hamming,
                hash_fn=self.sh_hash_fn,
                batch_sigs=bsigs,
            ).select("id_a", "id_b"), bsigs
        if self.screen == "minhash":
            return incremental_minhash_pairs(
                self._index(exclude_batch=batch_id),
                None,
                docs,
                text_col=self.text_col,
                id_col=self.id_col,
                n=self.n,
                num_hashes=self.num_hashes,
                num_bands=self.num_bands,
                threshold=self.threshold,
                seed=self.seed,
                index_banded=self._index_banded(exclude_batch=batch_id),
            ), None
        return incremental_jaccard_pairs(
            self._index(exclude_batch=batch_id),
            docs,
            text_col=self.text_col,
            id_col=self.id_col,
            n=self.n,
            threshold=self.threshold,
            max_shingle_freq=self.max_shingle_freq,
            index_df=(
                None
                if self.max_shingle_freq is None
                else self._index_df(exclude_batch=batch_id)
            ),
        ), None

    def _excise_spans(
        self, docs: DataFrame, batch_id: int, held: list[DataFrame]
    ) -> tuple[DataFrame, DataFrame]:
        """Step 4 of ``process_batch`` for the substr screen: the
        ``IncrementalSubstrDeduper`` fold at winnowed-anchor grain.
        Spans of grams already claimed by an earlier batch, or by an
        earlier occurrence in this batch, are EXCISED and the
        rewritten doc is accepted (byte-exact when nothing was
        excised). Returns the accepted docs and the batch's first
        claims, the anchors it adds to the index. O(batch) data
        movement: one (gh, g) anti-join against the two-column index,
        one batch-local min-aggregate, one doc-keyed reassembly."""
        from ..operators.textops import _winnowed_anchor_occurrences, tokens

        occ = _winnowed_anchor_occurrences(
            docs, self.text_col, self.id_col, self.substr_n, self.winnow_w
        ).persist()  # feeds the hit probe, the fresh split, and firsts
        held.append(occ)
        covered, firsts = claim_anchors(
            occ, self._index_anchors(exclude_batch=batch_id), self.substr_n
        )
        covered = covered.withColumnRenamed("doc_id", "_cov_id")
        kept_toks = F.filter(
            tokens(self.text_col),
            lambda x, i: ~F.array_contains(F.col("_cov"), i),
        )
        keep = (
            docs.join(covered, docs[self.id_col] == covered["_cov_id"], "left")
            .withColumn(
                self.text_col,
                F.when(
                    F.col("_cov").isNull(), F.col(self.text_col)
                ).otherwise(F.array_join(kept_toks, " ")),
            )
            .drop("_cov", "_cov_id")
        )
        return keep, firsts

    def _write_index_tiers(
        self,
        keep: DataFrame,
        evicted: DataFrame | None,
        index_rows: DataFrame | None,
        batch_id: int,
        pending: list[str],
    ) -> None:
        """Step 6 of ``process_batch``: the screen's index tiers (and
        the shingle screens' df and hll monitors), each written only
        when ``pending``. Only accepted docs are indexed, so a
        rejected doc never blocks a later one."""
        if self.screen == "substr":
            if self.anchors_dir in pending:
                self._write_batch(index_rows.select("gh", "g"), self.anchors_dir, batch_id)
            return
        if self.screen == "simhash":
            if self.shsig_dir in pending:
                kept_ids = keep.select(F.col(self.id_col).alias("doc_id"))
                self._write_batch(
                    index_rows.join(kept_ids, "doc_id", "semi"), self.shsig_dir, batch_id
                )
            return
        if self.screen == "embedding":
            if self.vec_format in ("int8", "pq"):
                from ..operators.similarity import hyperplane_signatures_multi

                if self.vec_format == "int8":
                    keep_vecs = keep.select(
                        F.col(self.id_col).alias("vec_id"),
                        F.col("_qc").cast("array<tinyint>").alias("qc"),
                        F.col("_qs").alias("qs"),
                    )
                else:
                    keep_vecs = keep.select(
                        F.col(self.id_col).alias("vec_id"),
                        F.col("_pc").alias("pc"),
                    )
                keep_sigs = hyperplane_signatures_multi(
                    keep,
                    dim=self.emb_dim,
                    num_planes=self.num_planes,
                    num_tables=self.num_tables,
                    seed=self.seed,
                    id_col=self.id_col,
                    vec_col="_vhat",
                )
            else:
                keep_vecs, keep_sigs = build_embedding_index(
                    keep,
                    dim=self.emb_dim,
                    num_planes=self.num_planes,
                    num_tables=self.num_tables,
                    seed=self.seed,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                )
            if self.vec_dir in pending:
                self._write_batch(keep_vecs, self.vec_dir, batch_id)
            if self.sig_dir in pending:
                self._write_batch(keep_sigs, self.sig_dir, batch_id)
            return
        # the shingle screens: one shingling of the kept docs feeds
        # every gram-derived tier; persist it only when ≥2 of them
        # will run (a partial-commit replay may have one write left)
        keep_grams = build_ngram_index(keep, self.text_col, self.id_col, self.n)
        gram_tiers = (self.grams_dir, self.banded_dir, self.df_dir, self.hll_dir)
        multi_consumers = sum(d in pending for d in gram_tiers) >= 2
        if multi_consumers:
            keep_grams = keep_grams.persist()
        if self.grams_dir in pending:
            self._write_batch(keep_grams, self.grams_dir, batch_id)
        if self.banded_dir in pending:
            keep_sigs = minhash_signatures(
                None, num_hashes=self.num_hashes, seed=self.seed, grams=keep_grams
            )
            self._write_batch(
                _banded(keep_sigs, self.num_bands, self.num_hashes // self.num_bands),
                self.banded_dir,
                batch_id,
            )
        if self.df_dir in pending:
            # per-batch (g, df) rows, whose SUM the jaccard screen's
            # stop-shingle cap reads instead of recounting the gram
            # tier; evicted docs' grams enter NEGATIVE, so the sum is
            # the df of the surviving corpus exactly
            df_rows = build_df_index(keep_grams)
            if evicted is not None:
                ev_grams = self._index(exclude_batch=batch_id).join(
                    evicted, "doc_id", "semi"
                )
                df_rows = df_rows.unionByName(
                    build_df_index(ev_grams).withColumn(
                        "df", (-F.col("df")).cast("long")
                    )
                )
            self._write_batch(df_rows, self.df_dir, batch_id)
        if self.hll_dir in pending:
            # <= VOCAB_HLL_M vocabulary registers per batch; the
            # register-max merge makes the tier trivially replay-safe
            self._write_batch(self._derive(_HLL, keep_grams), self.hll_dir, batch_id)
        if multi_consumers:
            keep_grams.unpersist()

    # ------------------------------------------------------------------
    # compaction

    def _state_tables(self) -> list[str]:
        """The commit-gated tiers: a batch folds into the compacted
        tier only once each of them holds it. Tombstones are decision
        state and FineWeb verdicts are underivable after the batch, so
        both gate when enabled."""
        tables = [self.accepted_dir]
        tables += [os.path.join(self.base_dir, t.name) for t in self.index_tiers]
        if self.retention == "best":
            tables.append(self.tomb_dir)
        if self.fineweb_recipe:
            tables.append(self.fineweb_dir)
        return tables

    def _monitor_dirs(self) -> list[str]:
        return [os.path.join(self.base_dir, t.name) for t in self.monitor_tiers]

    def _batch_tiers(self) -> list[str]:
        """Every tier ``process_batch`` writes for this configuration:
        the commit-gated ones plus the best-effort monitor, DoReMi and
        funnel tiers."""
        tiers = self._state_tables() + self._monitor_dirs()
        if self.doremi_lm_path is not None:
            tiers.append(self.doremi_dir)
        if self.track_funnel:
            tiers.append(self.funnel_dir)
        return tiers

    def maybe_compact(self) -> bool:
        """Compact iff more than ``compact_after`` committed batch
        directories of the screen's first index tier have accumulated
        since the last compaction."""
        if self.compact_after is None:
            return False
        first = os.path.join(self.base_dir, self.index_tiers[0].name)
        if len(self._committed_batch_dirs(first, self._covered_upto())) <= self.compact_after:
            return False
        return self.compact()

    def compact(self) -> bool:
        """Fold every FULLY-committed batch directory into a new
        compacted version and commit it by one atomic manifest flip.

        One loop over the screen's tier table (``_compacted_tiers``):
        each tier's previous compacted rows plus its covered committed
        live rows, minus the covered tombstones for doc-keyed tiers
        (evicted rows never reach a folded table), merged by the
        tier's fold — concatenation (grams, banded, vec, sig, shsig,
        FineWeb verdicts), distinct union (substr anchors), sum with
        cancelled rows dropped (df, hdr, DoReMi) or register max (hll).
        A monitor tier that does not cover every folded batch is
        derived from the version's own source tier instead
        (``_covers``: the written grams for df/hll, the written
        accepted corpus for hdr/DoReMi), which heals pre-feature state.
        ``_write_version`` then writes each tier as its bucketed
        catalog table (the ``write_ngram_index`` /
        ``write_minhash_index`` layout batch probes consume) or plain
        parquet dir under ``v<k>/``, flips the manifest and cleans up.

        Crash-safe at every step: before the flip the previous
        manifest (or none) stays live and all directories remain — a
        replayed ``process_batch`` or a re-run ``compact()`` sees
        unchanged state; after the flip, reads exclude covered
        partitions (watermark filter) whether or not their directories
        were cleaned up yet. Folded directories are deleted ONE
        COMPACTION LATER and one predecessor version is retained, both
        as reader grace for lazy DataFrames. A batch committed in some
        state tables but not all, below the new watermark, refuses the
        compaction until it is replayed.

        Returns False when there is nothing new to fold."""
        man = self._manifest()
        old_upto = man["covered_upto"] if man else -1
        # a batch counts only when committed in EVERY state table —
        # a partially-committed batch (crash mid-process_batch, not
        # yet replayed) must neither fold nor sit below the watermark
        fully = set.intersection(
            *(self._committed_ids(b, old_upto) for b in self._state_tables())
        )
        if not fully:
            self._cleanup_covered(old_upto)  # resume an interrupted cleanup
            return False
        new_upto = max(fully)
        present = {
            self._batch_id_of(d)
            for base in self._state_tables()
            for d in self._batch_dirs(base)
            if old_upto < self._batch_id_of(d) <= new_upto
        }
        partial = present - fully
        if partial:
            raise RuntimeError(
                f"batches {sorted(partial)} are partially committed below "
                f"the compaction watermark {new_upto}; replay them (restart "
                "the stream) before compacting"
            )
        tombs = None
        if self.retention == "best":
            tombs = self._read_committed(
                self.tomb_dir, self.tomb_schema, old_upto, new_upto
            )

        def minus_tombs(rows: DataFrame, key: str | None) -> DataFrame:
            if tombs is None or key is None:
                return rows
            return rows.join(tombs.withColumnRenamed("doc_id", key), key, "anti")

        def fold(tier: Tier, building: dict) -> DataFrame:
            if tier.covers and not self._covers(tier, fully, old_upto, new_upto):
                return self._derive(
                    tier, self._compacted_state(tier.covers, building)
                )
            base = os.path.join(self.base_dir, tier.name)
            live = self._read_committed(
                base, self._schema(tier.name), old_upto, new_upto
            )
            rows = minus_tombs(self._with_compacted(live, tier.name), tier.doc_key)
            return self._fold(rows, tier, nonzero=True)

        accepted = self._accepted_rows(old_upto, new_upto)
        self._write_version(
            man, new_upto, minus_tombs(accepted, self.id_col), fold
        )
        return True

    def _write_version(
        self,
        man: dict | None,
        covered_upto: int,
        accepted: DataFrame,
        rows: Callable[[Tier, dict], DataFrame],
        record: dict | None = None,
    ) -> None:
        """The one version cutover of ``compact``,
        ``rollover_geometry`` and ``migrate_vec_format``: create
        ``v<k>/`` (clearing a crashed attempt's leftovers), write the
        accepted tier, then every compacted tier — ``rows(tier,
        manifest_so_far)`` gives its rows — and record each in the
        manifest, over the base record (watermark, policy, and for the
        embedding screen the geometry and vec-format records, which
        ``record`` overrides). Then flip the manifest, adopt its
        records, delete the batch dirs the PREVIOUS watermark covered
        (the ones folded now survive one generation as reader grace;
        reads already skip them via the watermark) and drop versions
        older than the predecessor."""
        from ..operators.bucketing import write_bucketed

        version = man["version"] + 1 if man else 0
        vdir = os.path.join(self.compacted_dir, f"v{version}")
        self._delete_dir(vdir)  # leftovers of a crashed attempt at v<k>
        pfx = f"{self.catalog_prefix}_v{version}"
        acc_path = os.path.join(vdir, "accepted")
        accepted.write.mode("overwrite").parquet(acc_path)
        new = {
            "version": version,
            "covered_upto": covered_upto,
            "n_buckets": self.n_buckets,
            "accepted_path": acc_path,
            "banded": None,
            **self._policy_record(),
        }
        if self.screen == "embedding":
            # geometry travels IN the manifest (round 7): the sig
            # tables a version holds were signed under it, so a
            # cutover replaces record and tables in one flip — attach
            # resolves geometry and vec format manifest-first
            new["geometry"] = {
                "num_planes": self.num_planes,
                "num_tables": self.num_tables,
            }
            new.update(self._vec_format_record())
        new.update(record or {})
        for tier in self._compacted_tiers():
            df = rows(tier, new)
            path = os.path.join(vdir, tier.vpath)
            if tier.table is None:
                df.write.mode("overwrite").parquet(path)
                new[tier.name] = {"path": path}
                continue
            table = f"{pfx}_{tier.table}"
            write_bucketed(df, table, tier.keys, n_buckets=self.n_buckets, path=path)
            new[tier.name] = {"table": table, "path": path, "keys": list(tier.keys)}
        self._flip_manifest(new)
        self._adopt(new)
        self._cleanup_covered(man["covered_upto"] if man else -1)
        self._drop_old_versions(version)

    def _adopt(self, rec: dict) -> None:
        """Take a cutover's frozen embedding records (geometry, vec
        format) into this instance and heal the sidecar: after a
        manifest flip, or as the whole cutover when nothing is stored
        yet."""
        if "geometry" in rec:
            g = rec["geometry"]
            self.num_planes, self.num_tables = g["num_planes"], g["num_tables"]
        if "vec_format" in rec:
            self.vec_format = rec["vec_format"]
            self.vec_schema = self._vec_schema_for(self.vec_format, self.id_type)
        self._write_geometry_sidecar()

    def _compact_for_cutover(self, what: str) -> dict | None:
        """``compact()``, then refuse a cutover over committed vec/sig
        state above the watermark: compaction folds every full batch,
        so that can only be a partial batch a crash left behind, and
        its already-committed table would NOT be rewritten on replay —
        it would smuggle old-format rows past the cutover. Returns the
        manifest to cut over from (None = nothing stored yet)."""
        self.compact()
        man = self._manifest()
        upto = self._covered_upto()
        leftovers = self._committed_ids(self.vec_dir, upto) | self._committed_ids(
            self.sig_dir, upto
        )
        if leftovers:
            raise RuntimeError(
                f"batches {sorted(leftovers)} are partially committed; "
                f"replay them (restart the stream) before a {what}"
            )
        return man

    def _signed(self, vecs: DataFrame, num_planes: int, num_tables: int) -> DataFrame:
        """(vec_id, tbl, bucket) signatures of canonical (vec_id, v)
        rows under the given geometry."""
        from ..operators.similarity import hyperplane_signatures_multi

        return hyperplane_signatures_multi(
            vecs,
            dim=self.emb_dim,
            num_planes=num_planes,
            num_tables=num_tables,
            seed=self.seed,
            id_col="vec_id",
            vec_col="v",
        )

    def rollover_geometry(
        self,
        expected_corpus: int | None = None,
        num_planes: int | None = None,
        num_tables: int | None = None,
    ) -> bool:
        """Re-sign the embedding screen's state under a NEW hyperplane
        geometry — the curator analog of ``ivf_rebalance_index``.

        Frozen geometry is correct for as long as the corpus matches
        what ``expected_corpus`` sized it for; a stream that outgrows
        it drifts back toward the measured fixed-geometry blow-up
        (bucket occupancy ~ N/2^planes — 42× at 10× in the round-6
        probe). The way out is NOT to change geometry in place (past
        signatures would stop colliding with future ones — the exact
        hazard the freeze exists to prevent) but a versioned cutover:

        1. ``compact()`` — fold every fully-committed batch; any
           partially-committed leftover refuses the rollover (replay
           it first), exactly like compaction itself.
        2. Re-sign the full compacted ``vec`` state (raw vectors are
           state precisely so signatures are derivable) under the new
           geometry with one ``hyperplane_signatures_multi`` pass.
        3. Write a NEW compacted version (vec unchanged, sig re-signed,
           accepted rewritten) through ``_write_version``, compaction's
           own cutover — the manifest carries the geometry record, so
           sig tables and their geometry change together; readers see
           the old version or the new, never a mix. The sidecar heals
           after the flip (and on any later attach, where the manifest
           record wins).

        New geometry: explicit ``num_planes``/``num_tables``, or
        ``lsh_auto_geometry(expected_corpus)``, or — with no args —
        auto-sizing from the CURRENT accepted-corpus count (the
        drift-triggered maintenance call: fire when occupancy or
        ``sim_embedding_drift`` says so). Returns False when the new
        geometry equals the frozen one (no-op). Cost is O(corpus) —
        the same class as the compaction it rides on. Single-writer,
        like every state mutation on this directory."""
        if self.screen != "embedding":
            raise ValueError("rollover_geometry applies to screen='embedding'")
        from ..operators.similarity import lsh_auto_geometry

        if num_planes is not None or num_tables is not None:
            new_p = self.num_planes if num_planes is None else num_planes
            new_t = self.num_tables if num_tables is None else num_tables
        else:
            n = expected_corpus
            if n is None:
                n = self.accepted().count()
            new_p, new_t = lsh_auto_geometry(max(n, 2), threshold=self.threshold)
        if (new_p, new_t) == (self.num_planes, self.num_tables):
            return False
        geometry = {"geometry": {"num_planes": new_p, "num_tables": new_t}}
        man = self._compact_for_cutover("geometry rollover")
        if man is None:
            # nothing signed yet: re-freezing the sidecar IS the cutover
            self._adopt(geometry)
            return True
        vecs = self._compacted_state("vec")
        tiers = {"vec": vecs, "sig": self._signed(self._decoded(vecs), new_p, new_t)}
        self._write_version(
            man,
            man["covered_upto"],
            self._compacted_state("accepted"),
            lambda tier, _: tiers[tier.name],
            record=geometry,
        )
        return True

    def migrate_vec_format(self, new_format: str = "int8") -> bool:
        """Versioned migration of the stored vec state to a new
        format (round 8 — r7 verdict #2): the same cutover as
        ``rollover_geometry``, because it is the same hazard class — a
        format change swaps the CANONICAL vector (float64 v → int8
        v̂), so signatures must be re-derived from the new canon in
        the same atomic flip, or stored sigs and future batch sigs
        would disagree near hyperplane boundaries.

        1. ``compact()``; partially-committed leftovers refuse.
        2. Quantize the full compacted vec state; re-sign from the
           dequantized v̂ under the UNCHANGED geometry.
        3. Write a new compacted version through ``_write_version``,
           with the ``vec_format`` record inside the manifest, and heal
           the sidecar after the flip (attach resolves manifest-first,
           so the crash window between the two flips is safe — the
           round-7 rollover argument verbatim).

        float64 → int8 cuts vec-state bytes ~4× (measured row in
        ROADMAP); round 9 adds the PQ rung — float64/int8 → pq stores
        m small codes per vector (books fit on the canonical corpus at
        migration, frozen into ``pq_books.json`` before the manifest
        flip — a crash between the two refits identical books from the
        same compacted state). Migrations DOWN the precision ladder
        only: int8 → float64 and pq → anything are refused — the
        precision is gone. Returns False when the state already has
        ``new_format``."""
        if self.screen != "embedding":
            raise ValueError("migrate_vec_format applies to screen='embedding'")
        if new_format not in ("int8", "pq"):
            raise ValueError(
                f"cannot migrate to {new_format!r}: discarded precision "
                "is unrecoverable from stored codes"
            )
        cur_fmt = self.vec_format or "float64"
        if cur_fmt == new_format:
            return False
        if cur_fmt == "pq":
            raise ValueError(
                "cannot migrate away from vec_format='pq': only the "
                "codes survive — the reconstruction is the canonical "
                "vector already"
            )
        # (no int8->int8 / int8->non-pq guards needed here: equal
        # formats returned above and new_format is validated to
        # {int8, pq}, so int8 state can only be migrating to pq)
        record = {"vec_format": new_format}
        man = self._compact_for_cutover("vec-format migration")
        if man is None:
            # nothing stored yet: re-freezing the sidecar IS the cutover
            self._pq_books = None  # pq target: fit on the first batch
            self._adopt(record)
            return True
        # the canonical corpus an int8 state represents is v̂
        old_vecs = self._decoded(self._compacted_state("vec"))
        if new_format == "pq":
            from ..operators.pq import books_to_jsonable, pq_fit, with_pq_codes

            books = pq_fit(
                old_vecs,
                m=self.pq_m,
                k_sub=self.pq_ksub,
                iters=1,
                id_col="vec_id",
                vec_col="v",
            )
            # freeze the books BEFORE the manifest flip: a crash in
            # between refits identical books from the same compacted
            # state (deterministic fit), and an attach still resolves
            # the old manifest's vec_format until the flip lands
            write_json_atomic(self._pq_books_path, books_to_jsonable(books))
            self._pq_books = books
            record.update(pq_m=self.pq_m, pq_ksub=self.pq_ksub)
            q = with_pq_codes(old_vecs, books, "v", pc="_pc", vhat="_vhat")
            new_vecs = q.select("vec_id", F.col("_pc").alias("pc"))
        else:
            from ..operators.similarity import with_int8_codes

            q = with_int8_codes(old_vecs, "v", self.emb_dim)
            new_vecs = q.select(
                "vec_id",
                F.col("qc").cast("array<tinyint>").alias("qc"),
                F.col("qs"),
            )
        vhat = q.select("vec_id", F.col("_vhat").alias("v"))
        tiers = {"vec": new_vecs, "sig": self._signed(vhat, self.num_planes, self.num_tables)}
        self._write_version(
            man,
            man["covered_upto"],
            self._compacted_state("accepted"),
            lambda tier, _: tiers[tier.name],
            record=record,
        )
        return True

    def _cleanup_covered(self, upto: int) -> None:
        """Delete batch directories covered by watermark ``upto``.
        Called with the PREVIOUS watermark on a successful compaction
        (one-generation reader grace for the newly folded dirs) and
        with the current watermark on the nothing-to-fold resume path.
        Idempotent — also finishes a cleanup a crash interrupted (reads
        exclude covered partitions either way, via the watermark)."""
        tables = self._state_tables() + self._monitor_dirs() + [self.doremi_dir]
        for base in tables:
            for d in self._batch_dirs(base):
                if self._batch_id_of(d) <= upto:
                    self._delete_dir(d)

    def _drop_old_versions(self, current: int) -> None:
        """Retain the current compacted version plus ONE predecessor
        (reader grace for lazy DataFrames resolved pre-flip, mirroring
        ``matview``); drop the catalog tables (named by the tier
        table) and files of anything older."""
        if not os.path.isdir(self.compacted_dir):
            return
        for d in os.listdir(self.compacted_dir):
            if not d.startswith("v"):
                continue
            try:
                v = int(d[1:])
            except ValueError:
                continue
            if v <= current - 2:
                for tier in self._compacted_tiers():
                    if tier.table is None:
                        continue
                    table = f"{self.catalog_prefix}_v{v}_{tier.table}"
                    try:
                        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
                    except Exception:
                        pass
                self._delete_dir(os.path.join(self.compacted_dir, d))

    # ------------------------------------------------------------------
    # batch-catalog bridge

    def export_bucketed_index(self, prefix: str, n_buckets: int = 32) -> None:
        """One-way export of the accumulated dedup state into the
        bucketed catalog layout batch probes consume: each index tier
        of the screen becomes ``{prefix}_<table>``, bucketed and
        sorted by the tier's keys, matching the canonical writers
        exactly. The jaccard screen exports ``{prefix}_grams_by_g``
        (``dedup.write_ngram_index``: bucketed by ``g``, the jaccard
        probe's join key); the minhash screen the
        ``dedup.write_minhash_index`` pair, readable with
        ``dedup.read_minhash_index`` — ``{prefix}_grams`` bucketed by
        ``doc_id`` (the verify side's join key) and ``{prefix}_banded``
        bucketed by ``(band, bucket)``; the embedding screen the
        ``dedup.write_embedding_index`` pair (``_vec`` in the canonical
        (v, nv) layout whatever the stored format, and ``_sig``); the
        simhash screen ``{prefix}_shsig`` by ``doc_id``; the substr
        screen ``{prefix}_anchors`` by ``(gh, g)``.

        Only COMMITTED state is read — the compacted tier plus live
        batch partitions whose ``_SUCCESS`` marker exists, minus the
        committed tombstones — so a scheduled export racing a live
        micro-batch can never ship a partial batch's rows, nor an
        evicted doc.

        NOTE: ``mode=overwrite`` + ``saveAsTable`` is
        drop-then-recreate, NOT an atomic swap — a reader mid-scan
        during a refresh can see a missing table. Export to a fresh
        versioned prefix and flip consumers, or schedule refreshes in
        a maintenance window. (The curator's own compacted tier does
        exactly that — versioned prefixes + manifest flip — so with
        ``compact_after`` set, consumers can read the compacted tables
        directly instead of exporting.)"""
        from ..operators.bucketing import write_bucketed

        for tier in self.index_tiers:
            rows = self._tier_rows(tier, committed=True)
            if tier.name == "vec":
                rows = self._decoded(rows)
            table = f"{prefix}_{tier.table or tier.name}"
            write_bucketed(rows, table, tier.keys, n_buckets=n_buckets)
