"""Text-analysis operators for the LLM-data-pipeline surface.

Everything here is built from JVM-side column expressions
(split/transform/aggregate/regexp) — no Python in the hot path — so
the operators ride whole-stage codegen and scale with the scan. The
one exception is language ID (trigram profiles), which is a
vectorized Pandas UDF by design: profile scoring is a dot product per
row, Arrow-batched.

Reference linkage: the engine's scalar-function layer (SURVEY §2.7
X-series) generalized from grid/topic codecs to document analytics;
the reference itself has no text ops (its strings are names/topics),
so these are the BASELINE.json north-star extensions.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# Whitespace tokenizer — the SQL-parity tokenization used everywhere
# (both engines: split on \s+ after trim+lower).
TOKEN_RE = r"\s+"

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")
PUNCT_CLASS = r"[^.,!?;:]"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), TOKEN_RE)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


# GPT-2-style pre-tokenizer pattern, simplified to the subset with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookahead, ASCII classes. Alternation order is the contract:
# contraction suffix | space?+letters | space?+digits | space?+other.
BPE_ISH_RE = r"'[a-z]{1,2}| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token count: matches of the GPT-2-style pre-tokenizer
    regex over the lower-cased text, excluding pure-whitespace runs —
    the usual cheap proxy for LLM token budgets when the real
    tokenizer isn't in the pipeline image."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(F.lower(c), F.lit(BPE_ISH_RE), 0)
    non_ws = F.filter(pieces, lambda x: ~x.rlike(r"^\s+$"))
    return F.size(non_ws).cast("bigint")


def ngrams_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an ALREADY-MATERIALIZED
    token array column. ``t`` must be a plain column reference, not a
    tokenizer expression: expressions referenced inside array lambdas
    are re-evaluated per element (the regex split would run O(tokens)
    times per row — measured 4× slowdown on the dedup pipeline), so
    callers project the token array first (see ``exploded_ngrams``)."""
    gram = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)]),
    )
    return F.array_distinct(gram)


def exploded_ngrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, g) shingle table with the tokenizer materialized at a
    projection boundary — the shared scan shape for every shingle-
    based operator."""
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    return toks.filter(F.size("_t") >= n).select(
        "doc_id", F.explode(ngrams_from_tokens(F.col("_t"), n)).alias("g")
    )


def gopher_quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    — public heuristics; thresholds parameterized because the
    defaults there assume web-scale documents): word-count bounds,
    mean word length window, symbol-to-word ratio, alphabetic-word
    ratio, minimum stopword evidence. Output carries every measured
    signal, the keep verdict, and a deterministic comma-joined list
    of failed rule names (``concat_ws`` skips the NULL non-failures
    identically in Spark and DuckDB — the oracle mirrors the exact
    expression tree).

    All JVM column expressions over one tokenization — whole-stage
    codegen, scan-bounded; at 100 TB this is a projection, not a job.
    """
    t = tokens(text_col)
    docs = docs.select(
        F.col(id_col), F.col(text_col), t.alias("_t")
    )
    sig = _quality_signals(F.col("_t"))
    failed = _quality_failed(
        sig,
        min_words,
        max_words,
        min_mean_len,
        max_mean_len,
        max_symbol_ratio,
        min_alpha_ratio,
        min_stopwords,
    )
    return docs.select(
        id_col,
        sig["n"].alias("n_words"),
        sig["mean_len"].alias("mean_word_len"),
        sig["symbol_ratio"].alias("symbol_ratio"),
        sig["alpha_ratio"].alias("alpha_ratio"),
        sig["n_stop"].alias("n_stopwords"),
        (failed == "").alias("keep"),
        failed.alias("failed_rules"),
    )


def _quality_signals(t: Column) -> dict[str, Column]:
    """The five Gopher quality measurements over a MATERIALIZED token
    array column — shared by :func:`gopher_quality_filter` and the
    fused FineWeb-recipe plan so the two cannot drift. ``t`` must be
    a plain column reference (non-cheap multi-referenced aliases are
    what stops CollapseProject duplicating the tokenization)."""
    n = F.size(t).cast("bigint")
    return {
        "n": n,
        "mean_len": (
            F.aggregate(F.transform(t, F.length), F.lit(0), lambda a, x: a + x)
            .cast("double") / n
        ),
        "symbol_ratio": (
            F.size(F.filter(t, lambda x: x.contains("#") | x.contains("...")))
            .cast("double") / n
        ),
        "alpha_ratio": F.size(F.filter(t, lambda x: x.rlike("[a-z]"))).cast("double")
        / n,
        "n_stop": F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("bigint"),
    }


def _quality_failed(
    sig: dict[str, Column],
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_len: float = 2.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> Column:
    """Comma-joined failed-rule names over :func:`_quality_signals`
    output (empty string == keep) — the exact expression tree the
    DuckDB oracle mirrors."""
    rules = [
        (sig["n"] < min_words, "too_few_words"),
        (sig["n"] > max_words, "too_many_words"),
        (
            ~(
                (F.lit(min_mean_len) <= sig["mean_len"])
                & (sig["mean_len"] <= max_mean_len)
            ),
            "mean_word_len",
        ),
        (sig["symbol_ratio"] > max_symbol_ratio, "symbol_ratio"),
        (sig["alpha_ratio"] < min_alpha_ratio, "alpha_ratio"),
        (sig["n_stop"] < min_stopwords, "stopwords"),
    ]
    return F.concat_ws(",", *[F.when(cond, F.lit(name)) for cond, name in rules])


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """(doc_id, start_tok, end_tok, df): token spans whose n-gram
    occurs in ≥ ``min_df`` DISTINCT documents — boilerplate/memorized-
    span mining, the span-level sibling of document near-dup. Typical
    uses downstream: mask repeated spans before training, or feed the
    per-doc duplicate-span density into a quality score.

    Plan: positional gram explode (no array_distinct — positions are
    the payload), map-side-combinable distinct-doc count per gram, one
    equi-join back on the hashed gram. Cost is O(corpus tokens) rows
    through one aggregation and one join, never pairwise; the gram df
    table is the same maintainable aggregate the incremental dedup
    index notes describe, so at 100 TB the screen can run against a
    stored df table instead of recounting."""
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_t") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_t"), i + j + 1) for j in range(n)]
        ),
    )
    # positional gram table materialized at ONE doc_id exchange: the
    # df aggregate and the join probe otherwise each re-run
    # tokenize + n-wide gram concat from the scan (AQE stage reuse
    # across the two consumers; measured ~2.9 s -> ~1.5 s at sf0.1
    # for text_excise_min_span)
    spans = (
        toks.filter(F.size("_t") >= n)
        .select("doc_id", F.posexplode(grams).alias("start_tok", "g"))
        .withColumn("g", F.xxhash64("g"))
        .repartition("doc_id")
    )
    dfreq = (
        spans.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    return spans.join(dfreq, "g").select(
        "doc_id",
        F.col("start_tok").cast("long").alias("start_tok"),
        (F.col("start_tok") + n - 1).cast("long").alias("end_tok"),
        "df",
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Column-expression form (tokenizes inline). Prefer
    ``exploded_ngrams`` in operators — see ``ngrams_from_tokens``."""
    return ngrams_from_tokens(tokens(col), n)


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, PUNCT_CLASS, "")).cast("double") / F.length(c)


def stopword_ratio(col: Column | str) -> Column:
    t = tokens(col)
    stop = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("double")
    return stop / F.size(t)


def mean_token_len(col: Column | str) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(t)


def quality_score(col: Column | str) -> Column:
    """Composite heuristic quality in [0,1]: long-enough docs with
    moderate stopword density and sane token lengths score high.
    Deterministic per-row double arithmetic (left-assoc, identical in
    the oracle SQL)."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c).cast("double") / F.lit(400.0), F.lit(1.0))
    stop = stopword_ratio(c)
    stop_score = F.lit(1.0) - F.abs(stop - F.lit(0.3))
    tok_len = mean_token_len(c)
    tok_score = F.lit(1.0) - F.least(F.abs(tok_len - F.lit(5.0)) / F.lit(5.0), F.lit(1.0))
    return len_score * F.lit(0.4) + stop_score * F.lit(0.3) + tok_score * F.lit(0.3)


def fingerprint_md5(col: Column | str) -> Column:
    """Whole-document content fingerprint (exact-dup key)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


# --- language ID: trigram-profile scoring (vectorized, deterministic) ---

# Tiny per-language character-trigram profiles. Real deployments load
# profiles trained offline; these are fixed so the operator is
# deterministic and dependency-free.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "),
    "es": (" de", "de ", " la", "la ", "os ", " el", "el ", "ión", "ar ", " qu"),
    "fr": (" le", "le ", " de", "es ", " la", "ent", "nt ", " et", "et ", "ion"),
    "de": ("er ", " de", "der", "ie ", " di", "die", "ein", "ich", "sch", "en "),
    "zh": ("de ", " sh", "shi", " zh", "zho", "ng ", "ang", "eng", " ma", " ni"),
}


@pandas_udf(StringType())
def lang_id(texts: pd.Series) -> pd.Series:
    """Predict language by counting profile-trigram hits; ties break
    by profile order (stable). Arrow-batched; no JVM round-trips.

    Round 12 (optimization, guide §4.2): the per-row Python double
    loop (50 ``str.count`` calls per document) became 50 vectorized
    ``Series.str.count`` passes over the whole batch + one argmax.
    Semantics identical: ``re.findall`` of an escaped literal counts
    the same non-overlapping left-to-right occurrences as
    ``str.count``, ``argmax`` takes the FIRST maximal profile (the
    old strictly-greater update), and a 0 best score still maps to
    ``und``."""
    import re as _re

    import numpy as np

    s = texts.fillna("").str.lower()
    langs = list(_LANG_PROFILES)
    scores = np.zeros((len(s), len(langs)), dtype=np.int64)
    for j, lang in enumerate(langs):
        tot = None
        for g in _LANG_PROFILES[lang]:
            c = s.str.count(_re.escape(g)).to_numpy(dtype=np.int64)
            tot = c if tot is None else tot + c
        scores[:, j] = tot
    if len(s) == 0:
        return pd.Series([], dtype=object)
    best = scores.argmax(axis=1)
    vals = scores.max(axis=1)
    arr = np.array(langs, dtype=object)[best]
    arr[vals <= 0] = "und"
    return pd.Series(arr, index=texts.index)


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_floor: int = 1,
) -> DataFrame:
    """Unigram language-model scoring — the classic LM-quality filter
    for training-data curation: p(token) estimated from the corpus
    itself, document score = mean log-probability of its tokens
    (higher = more typical; boilerplate and gibberish both sink).

    ``vocab_floor`` bounds the model the way real LM pipelines do:
    tokens whose corpus frequency is below the floor collapse into a
    single ``<oov>`` class that carries their POOLED mass, p(<oov>)
    = c(tf<floor)/N — every OOV token scores the class log-prob (the
    standard open-vocabulary unigram). floor=1 (default) keeps every
    type and is decision-identical to the unbounded model; floor=k
    strictly bounds the model table to ≤ N/k + 1 rows (each kept
    type has ≥ k occurrences).

    Shape: one exploded token table feeds (a) the global term-
    frequency table (two-level agg, map-side combined) and (b) the
    per-doc scoring join on ``term``. The model table is
    VOCABULARY-sized — Heaps' law puts that at 10⁸-10⁹ types at the
    25 T-token design point (SCALING.md), far past any broadcast, so
    the scoring join carries NO broadcast hint (round 10, r9
    verdict): it shuffles co-partitioned on the term key, and AQE
    still converts it to a broadcast at runtime when the measured
    size is actually small (every fixture run). The same reasoning
    already governs the bigram/trigram TYPE tables below, which are
    documented never-broadcast. Determinism protocol: each token's
    log p is rounded to 8 decimals BEFORE the exact decimal sum, so
    engine log() ulp differences (~1e-15) can never reach the
    compared digits.
    """
    from ..oracle import dsum

    if vocab_floor < 1:
        raise ValueError(f"vocab_floor must be >= 1, got {vocab_floor}")
    # Round 12: tokenizer materialized at the SAME projection+exchange
    # boundary bigram_logprob uses (select → isnotnull → repartition).
    # Two wins, both the bm25/bigram single-scan protocol: (a) the tf
    # aggregate and the per-doc scoring join previously each re-ran
    # scan+tokenize+explode from the source (two corpus tokenizations
    # inside ONE call); (b) callers that score with BOTH LMs (DoReMi's
    # proxy/reference pair) now share literally one tokenization scan
    # across the two scorers, because the exchange subtrees are
    # identical and ReuseExchange collapses them. explode_outer +
    # isNotNull instead of explode: a plain explode synthesizes a
    # pushable size(_t) > 0 filter that re-inlines the tokenizer below
    # the exchange and splits it off the shared one (the
    # bigram_logprob hazard, pushdown edition). The isnotnull(doc_id)
    # guard aligns the contract with bigram_logprob (a NULL-id doc
    # can't be scored per-doc anyway — no declared fixture carries
    # one; oracle hashes unchanged at every SF).
    toks = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .where(F.col("doc_id").isNotNull())
        .repartition("doc_id")
    )
    exploded = toks.select(
        "doc_id", F.explode_outer("_t").alias("term")
    ).where(F.col("term").isNotNull())
    tf = exploded.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    if vocab_floor > 1:
        # pool sub-floor types into one <oov> class BEFORE the
        # normalizer — total mass is unchanged, the model table is
        # bounded to <= N/floor + 1 rows
        tf = (
            tf.select(
                F.when(F.col("tf") >= vocab_floor, F.col("term"))
                .otherwise(F.lit("<oov>"))
                .alias("term"),
                "tf",
            )
            .groupBy("term")
            .agg(F.sum("tf").alias("tf"))
        )
    # N = count of exploded tokens — identical to sum(tf) (and to the
    # pooled-floor sum: pooling preserves total mass), but it consumes
    # the ALREADY-REUSED doc_id exchange instead of making tf a
    # second-consumer table whose ColumnPruning-specialized copy
    # re-executes the vocab partial-agg map stage (round 13, the
    # dsir/LM-family stage-trace finding)
    total = exploded.agg(F.count(F.lit(1)).alias("n_total"))
    term_logp = (
        tf.crossJoin(F.broadcast(total))
        .select(
            "term",
            F.round(F.log(F.col("tf") / F.col("n_total")), 8).alias("logp"),
        )
    )
    if vocab_floor > 1:
        # 1-row ALWAYS (an aggregate), even when no type fell below
        # the floor — a filter would yield 0 rows and the crossJoin
        # below would annihilate the corpus. NULL _oov_lp is only
        # reachable when no token is OOV, so the coalesce never
        # surfaces it.
        oov = term_logp.agg(
            F.min(
                F.when(F.col("term") == "<oov>", F.col("logp"))
            ).alias("_oov_lp")
        )
        scored = (
            exploded.join(
                term_logp.filter(F.col("term") != "<oov>"), "term", "left"
            )
            .crossJoin(F.broadcast(oov))  # 1-row class prob
            .select(
                "doc_id", F.coalesce("logp", "_oov_lp").alias("logp")
            )
        )
    else:
        scored = exploded.join(term_logp, "term").select("doc_id", "logp")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(dsum("logp"), 6).alias("logprob"),
        F.round((dsum("logp") / F.count(F.lit(1))), 6).alias("mean_logprob"),
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    smoothing: str = "interp",
    discount: float = 0.75,
) -> DataFrame:
    """Bigram language-model perplexity scoring — the CCNet-style LM
    quality filter (Wenzek et al. 2020 score with a KenLM; this is
    the self-trained bigram analog): train a smoothed bigram LM
    on the corpus itself, score every document by its per-bigram
    cross-entropy. Gibberish (unseen transitions) and boilerplate
    (ultra-predictable transitions) land at the two ends of the
    distribution; the middle band is what CCNet keeps.

    ``smoothing="interp"`` (the original mode): p(w|v) = (c(v,w) +
    alpha * p_u(w)) / (c(v) + alpha), with the unigram backoff
    p_u(w) = (c(w)+1)/(N+V) add-one smoothed over the corpus
    vocabulary.

    ``smoothing="kn"``: interpolated Kneser-Ney (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.17 — the smoothing KenLM itself uses,
    so this is the higher-fidelity CCNet analog):
    p(w|v) = max(c(v,w) - D, 0)/c(v) + (D * N1+(v,·)/c(v)) * p_cont(w)
    with the continuation probability p_cont(w) = N1+(·,w)/N1+(·,·)
    — "how many distinct contexts does w follow" rather than raw
    frequency, the correction that stops high-count-but-one-context
    words (the "San Francisco" effect) dominating the backoff.
    Scoring is over the training corpus itself, so every scored
    bigram is observed and c(v) ≥ c(v,w) ≥ 1: no zero-context branch
    is reachable (the property that keeps the model closed-form here;
    an open-vocabulary scorer would add the unseen-context backoff).

    xent(d) = -mean log p over d's adjacent token pairs; ppl =
    exp(xent), computed FROM the rounded xent so both engines
    exponentiate the identical double.

    Scale shape: one tokenization scan feeds (a) the unigram count
    aggregate (vocabulary-sized, broadcast; interp mode only), (b)
    the bigram count aggregate (bigram-TYPE-sized — this one is NOT
    broadcast: real corpora have billions of bigram types, so the
    per-doc scoring join shuffles on the (v, r) bigram key, a plain
    co-partitioned hash join that scales with executors), and (c)
    the per-doc scoring pass. Context counts c(v) — and, for KN, the
    distinct-continuation counts N1+(v,·) and N1+(·,w) — ride
    WINDOWS partitioned on the vocab-class keys of the bigram-type
    table (round 13; sums/counts of longs, bit-identical to the old
    aggregate+join form); only the global N1+(·,·) is a 1-row count.
    Nothing beyond the bigram-type table is ever re-derived from the
    corpus.
    Documents with fewer than 2 tokens survive with n_bigrams = 0 and
    NULL scores (a filter must account for every input row).
    Determinism: per-bigram log p rounded to 8 decimals before the
    exact decimal sum (the ``unigram_logprob`` protocol).
    """
    from ..oracle import dsum

    # tokenizer materialized at a projection boundary FIRST — the
    # ngrams_from_tokens rule (expressions referenced inside array
    # lambdas re-evaluate per element). The boundary is a doc_id
    # repartition so every consumer (unigram counts, bigram counts,
    # scoring, the keep-all-docs join) hangs off ONE exchange that
    # ReuseExchange executes as a single tokenization scan — the
    # bm25_topk single-scan protocol (plan-asserted).
    # isnotnull(doc_id) is applied HERE, uniformly: the final left
    # join pushes that predicate into its right branch anyway, and if
    # only one branch carries it the exchange subtrees stop being
    # identical (three scans instead of one — measured)
    base = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .where(F.col("doc_id").isNotNull())
        .repartition("doc_id")
    )
    t = F.col("_t")
    bi = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 2),
                    lambda i: F.struct(
                        F.element_at(t, i + 1).alias("l"),
                        F.element_at(t, i + 2).alias("r"),
                    ),
                ),
            ).otherwise(F.expr("cast(array() as array<struct<l: string, r: string>>)"))
        ).alias("p"),
    ).select("doc_id", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    bc = bi.groupBy("l", "r").agg(F.count(F.lit(1)).alias("cb"))
    # Round 13 (guide §2.4): the per-context totals ride WINDOWS over
    # the bigram-type table instead of separate groupBy aggregates
    # joined back — each old aggregate was a second/third consumer of
    # bc whose ColumnPruning-specialized copy re-executed the whole
    # bigram partial-agg map stage (stage-trace verified: byte-
    # identical duplicated stages; a persist is NOT an option here —
    # caching one scorer's subtree breaks the DoReMi pair's shared
    # tokenization exchange, and cached plans lose AQE). A window
    # partitioned by a vocab-keyed column distributes at any scale
    # (one exchange + sort of the TYPE table, strictly cheaper than
    # re-aggregating it), and sums of longs are exact, so cl/n1l/n1r
    # are bit-identical to the old join columns. Only the GLOBAL
    # counts (N1+(·,·), corpus totals) keep the 1-row-broadcast
    # aggregate — a global window would single-partition the
    # unbounded type table.
    from pyspark.sql import Window

    if smoothing == "kn":
        wl = Window.partitionBy("l")
        wr = Window.partitionBy("r")
        nbt = bc.agg(F.count(F.lit(1)).alias("_nbt"))
        lp = (
            bc.select(
                "l",
                "r",
                "cb",
                F.sum("cb").over(wl).alias("cl"),
                F.count(F.lit(1)).over(wl).alias("n1l"),
            )
            .select(
                "l",
                "r",
                "cb",
                "cl",
                "n1l",
                F.count(F.lit(1)).over(wr).alias("n1r"),
            )
            .crossJoin(F.broadcast(nbt))
            .select(
                "l",
                "r",
                F.round(
                    F.log(
                        F.greatest(F.col("cb") - F.lit(discount), F.lit(0.0))
                        / F.col("cl")
                        + (F.lit(discount) * F.col("n1l") / F.col("cl"))
                        * (F.col("n1r") / F.col("_nbt").cast("double"))
                    ),
                    8,
                ).alias("lp"),
            )
        )
    elif smoothing == "interp":
        # explode_outer + post-filter instead of explode: a plain
        # explode synthesizes a pushable `size(tokens) > 0` filter
        # that re-inlines the tokenizer below this branch's exchange
        # and splits it off the shared one (the lambda-inlining
        # hazard, pushdown edition)
        uni = base.select("doc_id", F.explode_outer(t).alias("w")).where(
            F.col("w").isNotNull()
        )
        uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
        tot = uc.agg(F.sum("cw").alias("_n"), F.count(F.lit(1)).alias("_v"))
        wl = Window.partitionBy("l")
        lp = (
            bc.select("l", "r", "cb", F.sum("cb").over(wl).alias("cl"))
            .join(uc.withColumnRenamed("w", "r"), "r")
            .crossJoin(F.broadcast(tot))
            .select(
                "l",
                "r",
                F.round(
                    F.log(
                        (
                            F.col("cb")
                            + F.lit(alpha)
                            * ((F.col("cw") + 1) / (F.col("_n") + F.col("_v")).cast("double"))
                        )
                        / (F.col("cl") + F.lit(alpha))
                    ),
                    8,
                ).alias("lp"),
            )
        )
    else:
        raise ValueError(f"unknown smoothing {smoothing!r} (interp|kn)")
    scored = (
        bi.join(lp, ["l", "r"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-dsum("lp") / F.count(F.lit(1)), 6).alias("xent"),
        )
    )
    # the keep-all-docs branch consumes _t too (n_tokens) so its
    # pruned column set {doc_id, _t} matches the other consumers' —
    # otherwise ColumnPruning specializes this branch's exchange to
    # doc_id-only and ReuseExchange can no longer unify the scans
    return (
        base.select("doc_id", F.size("_t").cast("bigint").alias("n_tokens"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "xent",
            F.round(F.exp("xent"), 6).alias("ppl"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """PMI collocation mining (Church & Hanks 1990): top-k adjacent
    token pairs by pointwise mutual information
    log(p(l,r) / (p(l) p(r))), with a minimum pair count (raw PMI
    promotes hapax pairs; the floor is the standard fix). The
    phrase-discovery pass a tokenizer/vocab pipeline runs before
    multiword merges.

    Plan: the bigram_logprob single-scan discipline — one doc_id
    exchange feeds the unigram aggregate (vocabulary-sized), the
    bigram-pair explode (its count is the pair total AND the type
    table), and nothing else; PMI is a projection over the bigram-type
    table joined to the two vocab-sized unigram sides (never
    broadcast the bigram table — billions of types on real corpora);
    the final cut is TakeOrdered. Rounded to 6 so the rank is
    engine-exact."""
    base = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .where(F.col("doc_id").isNotNull())
        .repartition("doc_id")
    )
    t = F.col("_t")
    uni = base.select("doc_id", F.explode_outer(t).alias("w")).where(
        F.col("w").isNotNull()
    )
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    tot = uc.agg(F.sum("cw").alias("_n"))
    bi = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 2),
                    lambda i: F.struct(
                        F.element_at(t, i + 1).alias("l"),
                        F.element_at(t, i + 2).alias("r"),
                    ),
                ),
            ).otherwise(F.expr("cast(array() as array<struct<l: string, r: string>>)"))
        ).alias("p"),
    ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    nb = bi.agg(F.count(F.lit(1)).alias("_npairs"))
    bc = bi.groupBy("l", "r").agg(F.count(F.lit(1)).alias("cb")).filter(
        F.col("cb") >= min_count
    )
    ul = uc.select(F.col("w").alias("l"), F.col("cw").alias("cwl"))
    ur = uc.select(F.col("w").alias("r"), F.col("cw").alias("cwr"))
    pmi = (
        bc.join(ul, "l")
        .join(ur, "r")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
        .select(
            "l",
            "r",
            "cb",
            F.round(
                F.log(
                    (F.col("cb") / F.col("_npairs").cast("double"))
                    / (
                        (F.col("cwl") / F.col("_n").cast("double"))
                        * (F.col("cwr") / F.col("_n").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    # orderBy().limit(k) => TakeOrdered (never a global sort); the
    # rank column is a window over the k survivors only
    top = pmi.orderBy(F.desc("pmi"), F.asc("l"), F.asc("r")).limit(k)
    w = Window.orderBy(F.desc("pmi"), F.asc("l"), F.asc("r"))
    return top.withColumn("rn", F.row_number().over(w).cast("int"))


# --- rolling-hash document fingerprinting (winnowing-style) ---

# Polynomial-hash parameters. Horner steps stay far inside int64:
# h < P = 2^31-1, so h*B + c < 2^31 * 257 ≈ 5.5e11.
_FP_BASE = 257
_FP_MOD = (1 << 31) - 1


def _char_kgram_hash(c: Column, pos: Column, k: int) -> Column:
    """Portable hash of the char k-gram starting at 1-based ``pos``
    of codepoint ARRAY ``c``: Horner fold h = (h*B + codepoint) mod P
    — plain integer arithmetic that DuckDB reproduces exactly (no
    engine-specific hash function), which is what makes the
    fingerprints oracle-checkable.

    Takes the MATERIALIZED codepoint array, not the string, and is
    UNROLLED — both on purpose (round 11 measurements at sf0.1):
    ``substr`` on a string inside a per-position lambda costs a
    UTF8String slice per char (n·k per row — 14.1 s for the hash
    stage), where ``element_at`` on the int array is an O(1) read
    (3.1 s); and the k explicit references to ``c`` keep
    CollapseProject from inlining the array build into the lambda —
    a single-reference alias gets substituted and re-materializes
    PER POSITION (the O(n²) rebuild: 32 s for the whole operator
    before both fixes, 5.3 s after)."""
    h: Column = F.lit(0).cast("long")
    for j in range(k):
        h = (h * _FP_BASE + F.element_at(c, pos + j)) % _FP_MOD
    return h


def rolling_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, MOSS): hash every char k-gram with a rolling polynomial
    hash, then select, in every window of ``w`` consecutive k-grams,
    the RIGHTMOST minimal hash — the paper's actual rule (round 12;
    the round-8 trailing-minima deviation, whose recall was
    probabilistic against increasing-hash runs, is retired across
    the winnowing family). Restores the paper's guarantee: every
    matching substring of ≥ k+w−1 chars shares a fingerprint BY
    CONSTRUCTION. Expected density ≈ 2/(w+1). Window starts are
    s ∈ [0, max(G−w, 0)] over the G k-grams — a doc shorter than w
    k-grams winnows its single truncated window (its rightmost
    global min), so every doc of ≥ k chars keeps a fingerprint.

    Scale shape (re-planned round 11): ZERO shuffles — the selection
    that used to be a doc_id window function (one corpus exchange +
    a per-doc sort) is a per-row Catalyst fold over the materialized
    hash ARRAY, the token-level ``_winnowed_anchor_occurrences`` plan
    at the char level: positions pack into ``h·2²⁰ + (2²⁰−1−i)`` so
    ``array_min`` over a w-slice IS the rightmost minimal hash, one
    slice per window start, ``array_distinct`` collapsing agreeing
    windows; only the ~2·len/(w+1) selected (pos, h) structs explode. Same
    two Catalyst hazards apply and the same cures are load-bearing:
    ``explode_outer`` + ``isNotNull`` on the GENERATED column (a
    plain explode lets InferFiltersFromGenerate push the whole
    hash-and-select chain into a per-row scan Filter) and the struct
    pack before the explode (a post-explode ``element_at`` would
    re-evaluate the hash array per fingerprint). Output is
    position-for-position identical to the window form — the DuckDB
    oracle is unchanged."""
    s = F.trim(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col).alias("doc_id"), s.alias("_s"), F.length(s).alias("_n")
    ).filter(F.col("_n") >= k)
    # the sequence bound reads length(_s) rather than _n ON PURPOSE:
    # it is the second reference to _s in this projection, and the
    # multi-reference guard is what stops CollapseProject inlining
    # trim(lower(text)) into the per-element lambda (single-ref
    # aliases get substituted — the O(n²) rebuild hazard
    # _char_kgram_hash documents)
    cp = base.select(
        "doc_id",
        "_n",
        F.transform(
            F.sequence(F.lit(1), F.length(F.col("_s"))),
            lambda i: F.ascii(F.col("_s").substr(i, F.lit(1))).cast("long"),
        ).alias("_c"),
    )
    hs = cp.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.col("_n") - k + 1),
            lambda p: _char_kgram_hash(F.col("_c"), p, k),
        ).alias("_h"),
    )
    pos_lim = _LINE_POS_LIM
    keyed = hs.select(
        "doc_id",
        "_h",
        F.transform(
            F.sequence(F.lit(0), F.size("_h") - 1),
            lambda i: F.element_at(F.col("_h"), i + 1) * pos_lim
            + (F.lit(pos_lim - 1) - i),
        ).alias("_kk"),
    )
    sel = keyed.select(
        "doc_id",
        F.transform(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size("_kk") - w, F.lit(0))
                    ),
                    lambda s2: F.lit(pos_lim - 1)
                    - F.array_min(F.slice(F.col("_kk"), s2 + 1, w)) % pos_lim,
                )
            ),
            lambda p: F.struct(
                (p + 1).cast("int").alias("pos"),
                F.element_at(F.col("_h"), (p + 1).cast("int")).alias("h"),
            ),
        ).alias("_sel"),
    )
    return (
        sel.select("doc_id", F.explode_outer("_sel").alias("a"))
        .filter(F.col("a").isNotNull())
        .select(
            "doc_id",
            F.col("a.pos").alias("pos"),
            F.col("a.h").alias("fingerprint"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed term query — the
    relevance-mining primitive of a curation pipeline (score documents
    against a probe query, keep the top-k). Lucene-style idf
    ``ln(1 + (N - df + ½)/(df + ½))``; per-term scores are scaled to
    MICRO-units and summed as bigints (integer addition is associative
    where a float sum is partitioning-dependent — the same
    determinism protocol as ``x_array_functions``). All JVM-side:
    explode → two small aggs → broadcast joins; only two scalars
    (corpus size, mean doc length) touch the driver.

    Output: (doc_id, bm25_micro, rnk) for rnk ≤ k, ranked by score
    then doc_id.

    Plan (round 6): fully LAZY — no driver scalars. The fixed small
    query-term set lets per-term frequencies come from
    ``size(filter(tokens, = term))`` on the token ARRAY (no explode,
    no per-term shuffle), so one projection computes
    (doc_id, dl, tf_t...). That projection is repartitioned on doc_id
    ONCE, and both consumers — the 1-row corpus-stats aggregate
    (N, avgdl, df_t...) and the scoring pass — hang off the same
    exchange, which Spark's ReuseExchange rule executes as ONE
    physical tokenization scan (plan-asserted in
    test_plan_shape.py). The stats row is broadcast-crossJoined back,
    so at 100 TB the corpus is read and tokenized exactly once, and
    the shuffle carries only a few ints per document."""
    from pyspark.sql import Window

    qt = sorted({t.lower() for t in query_terms})
    if not qt:
        return (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.lit(0).cast("bigint").alias("bm25_micro"),
                F.lit(0).cast("int").alias("rnk"),
            ).limit(0)
        )
    def _match(term: str):
        # single-arg lambda: a 2-arg lambda would be read as
        # (element, index) by F.filter
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter("_t", _match(t))).cast("bigint").alias(f"_tf{i}")
        for i, t in enumerate(qt)
    ]
    per_doc = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .select("doc_id", F.size("_t").cast("bigint").alias("dl"), *tf_cols)
        .repartition("doc_id")  # the one shared (and reused) exchange
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg("dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("bigint")).alias(f"_df{i}")
            for i in range(len(qt))
        ],
    )

    def term_micro(i: int):
        tf = F.col(f"_tf{i}")
        dfq = F.col(f"_df{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs").cast("double") - dfq + F.lit(0.5)) / (dfq + F.lit(0.5))
        )
        score = (
            idf
            * tf
            * F.lit(k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl")))
        )
        return F.round(score * F.lit(1e6)).cast("bigint")

    total = term_micro(0)
    for i in range(1, len(qt)):
        total = total + term_micro(i)
    matched = (
        F.greatest(*[F.col(f"_tf{i}") for i in range(len(qt))]) > 0
        if len(qt) > 1
        else F.col("_tf0") > 0
    )
    # unmatched docs become NULL scores instead of being FILTERED out:
    # a pre-join filter would be pushed below the shared exchange and
    # split it into two different subtrees (two tokenization scans).
    # NULLs sort last, so top-k over matched docs is unchanged; the
    # post-limit IS NOT NULL drops them without being pushable.
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id", F.when(matched, total).alias("bm25_micro")
    )
    # top-k FIRST via orderBy+limit (planned as TakeOrderedAndProject —
    # k·partitions rows move, never a global sort), THEN rank the k
    # survivors with a window that only ever sees k rows
    topk = (
        scored.orderBy(F.col("bm25_micro").desc_nulls_last(), F.col("doc_id").asc())
        .limit(k)
        .filter(F.col("bm25_micro").isNotNull())
    )
    w = Window.orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
    return topk.withColumn("rnk", F.row_number().over(w).cast("int")).select(
        "doc_id", "bm25_micro", "rnk"
    )


def repetition_signals(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al.
    2021, "Scaling Language Models" §A1.1 — public): heavily
    repetitive documents are low-quality training data.

    Per document:
    - ``dup_word_frac``   = 1 - distinct_tokens / tokens
    - ``top_bigram_frac`` = occurrences of the most frequent word
      bigram / total bigrams (0 when < 2 tokens)

    Shape: the scalar signals are pure JVM array expressions on the
    scan (no shuffle); the bigram mode needs a (doc, gram) partial-agg
    → (doc) max — two map-side-combinable aggregations keyed by the
    document, so the whole operator is one narrow shuffle chain and
    survives corpus-scale fan-out. Ratios are rounded to 6 so engine
    and oracle float division agree bit-for-bit."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t")
    )
    base = toks.select(
        "doc_id",
        F.size("_t").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("_t")).cast("bigint").alias("_n_distinct"),
    )
    # raw bigram MULTISET (ngrams_from_tokens dedups — wrong here:
    # the signal is exactly how often the top bigram repeats)
    t = F.col("_t")
    raw_bigrams = F.transform(
        F.sequence(F.lit(0), F.size(t) - 2),
        lambda i: F.concat_ws(" ", F.element_at(t, i + 1), F.element_at(t, i + 2)),
    )
    big = (
        toks.filter(F.size("_t") >= 2)
        .select("doc_id", F.explode(raw_bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(F.max("_c").alias("_top"), F.sum("_c").alias("_total"))
    )
    return (
        base.join(big, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.lit(1.0) - F.col("_n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce(
                    F.col("_top").cast("double") / F.col("_total"), F.lit(0.0)
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


def boilerplate_coverage(
    docs: DataFrame,
    n: int = 3,
    min_df: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-span ("boilerplate") coverage — the
    corpus-level complement of :func:`repetition_signals`, after the
    repeated-substring findings of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better", public): spans that
    recur across ≥ ``min_df`` documents are boilerplate (headers,
    navigation, license text), and a document largely made of them is
    poor training data.

    Per document: the fraction of its tokens covered by at least one
    word n-gram whose document frequency is ≥ ``min_df``.

    Shape: positional raw grams (posexplode of the token array — a
    narrow flatMap), a distinct-(doc, gram) DF table (the SAME
    shared-shingle-statistics shape the dedup cap uses), an equi-join
    of grams against the flagged set, and an n-wide span explode →
    distinct (doc, token) → per-doc count. Every join/agg keys on the
    gram or the doc id; at corpus scale the gram key becomes
    xxhash64(gram) (narrower shuffle key, same plan)."""
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    t = F.col("_t")
    raw_grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + j + 1) for j in range(n)]
        ),
    )
    raw = toks.filter(F.size(t) >= n).select(
        "doc_id", F.posexplode(raw_grams).alias("pos", "g")
    )
    df_counts = (
        raw.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    flagged = df_counts.filter(F.col("df") >= min_df).select("g")
    covered = (
        raw.join(flagged, "g")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tok"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_covered"))
    )
    base = toks.select("doc_id", F.size(t).cast("bigint").alias("n_tokens"))
    return base.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_covered"), F.lit(0)).cast("bigint").alias("n_covered"),
        F.round(
            F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("boilerplate_frac"),
    )


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document stats table."""
    return docs.select(
        "doc_id",
        token_count(text_col).alias("n_tokens"),
        F.length(text_col).cast("bigint").alias("n_chars_actual"),
        mean_token_len(text_col).alias("mean_token_len"),
        stopword_ratio(text_col).alias("stop_ratio"),
        punct_ratio(text_col).alias("punct_ratio"),
        quality_score(text_col).alias("quality"),
        fingerprint_md5(text_col).alias("fp"),
    )


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 32,
) -> DataFrame:
    """Vocabulary-truncation coverage: build the top-``vocab_size``
    token vocabulary (corpus frequency, ties by token) and report each
    document's out-of-vocabulary exposure — the measurement that sizes
    a tokenizer/vocab against a corpus (how much text a V-entry vocab
    leaves OOV, per doc and hence per domain/source after a rollup).

    Output: (id, n_tokens, n_oov, oov_frac rounded to 6).

    Plan: one token aggregation (map-side combined) + TakeOrdered for
    the vocab — V rows, broadcast back into the per-doc count join;
    the corpus is scanned twice (vocab build, coverage) and nothing
    wider than V ever reaches the driver. At 100 TB the vocab build is
    the classic word-count; the coverage pass is a broadcast hash
    join."""
    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_frac",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6),
        )
    )


def _maximal_spans(sorted_pos: Column) -> Column:
    """array<struct<s,e>> of maximal contiguous runs in a SORTED
    distinct position array — the gaps-and-islands fold as ONE
    Catalyst ``aggregate`` expression (O(positions) per doc, JVM-side,
    no window function and therefore no extra exchange). Accumulator:
    (closed spans, current run start, previous position)."""
    init = F.struct(
        F.expr("cast(array() as array<struct<s:bigint,e:bigint>>)").alias("spans"),
        F.lit(None).cast("long").alias("cs"),
        F.lit(None).cast("long").alias("pv"),
    )

    def merge(acc, x):
        new_run = acc["pv"].isNull() | (x != acc["pv"] + 1)
        closed = F.when(acc["pv"].isNull(), acc["spans"]).otherwise(
            F.concat(
                acc["spans"],
                F.array(F.struct(acc["cs"].alias("s"), acc["pv"].alias("e"))),
            )
        )
        return F.struct(
            F.when(new_run, closed).otherwise(acc["spans"]).alias("spans"),
            F.when(new_run, x).otherwise(acc["cs"]).alias("cs"),
            x.alias("pv"),
        )

    def finish(acc):
        return F.when(acc["pv"].isNull(), acc["spans"]).otherwise(
            F.concat(
                acc["spans"],
                F.array(F.struct(acc["cs"].alias("s"), acc["pv"].alias("e"))),
            )
        )

    return F.aggregate(sorted_pos, init, merge, finish)


def excise_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 2,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """The REMOVAL step over :func:`duplicate_spans` (the corpus
    rewrite of Lee et al. 2021's exact-substring dedup, public): drop
    every token covered by an n-gram that occurs in ≥ ``min_df``
    distinct documents, and re-join the survivors — boilerplate and
    memorized spans leave the training text itself, not just a
    report. Policy: ALL occurrences of a flagged span are dropped
    (the conservative memorization guard); keep-one-copy policies can
    anti-join the df table on a representative doc first.

    ``min_span_tokens`` (the paper-faithful knob — Lee et al.'s
    operative unit is duplicated substrings of ≥ ~50 tokens): covered
    positions are first merged into MAXIMAL contiguous spans, and only
    spans of ≥ ``min_span_tokens`` tokens are excised. Without it a
    fixed small n over-masks real corpora — natural-language trigrams
    shared by a handful of documents are ubiquitous, so ordinary prose
    would leave the corpus along with the boilerplate. ``None`` (and
    any value ≤ n — a covered island is never shorter than n) keeps
    the excise-everything-covered behavior.

    Output: (doc_id, clean_text, n_tokens_kept, n_tokens_dropped).

    Plan: the span table's positions explode n-fold into a covered-
    position set (O(n·tokens) worst case, bounded per doc), one
    per-doc collect_set (size ≤ doc tokens), then the rewrite is a
    positional array filter + array_join in whole-stage codegen — no
    Python, and the only corpus-scale exchanges are the gram-df
    aggregate and the position set's doc-keyed group-by. The
    span-merge adds NO exchange: it is a per-row Catalyst ``aggregate``
    fold over the already-grouped position array (gaps-and-islands
    without the window function)."""
    spans = duplicate_spans(docs, text_col, id_col, n, min_df)
    covered = (
        spans.select(
            "doc_id",
            F.explode(F.sequence("start_tok", "end_tok")).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_cov"))
    )
    if min_span_tokens is not None and min_span_tokens > n:
        runs = _maximal_spans(F.array_sort("_cov"))
        long_runs = F.filter(
            runs, lambda s: s["e"] - s["s"] + F.lit(1) >= F.lit(min_span_tokens)
        )
        covered = covered.select(
            "doc_id",
            F.flatten(
                F.transform(long_runs, lambda s: F.sequence(s["s"], s["e"]))
            ).alias("_cov"),
        )
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    kept = F.filter(
        "_t",
        lambda x, i: ~F.array_contains(
            F.coalesce(F.col("_cov"), F.array().cast("array<bigint>")),
            i.cast("long"),
        ),
    )
    return (
        toks.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("clean_text"),
            F.size(kept).cast("bigint").alias("n_tokens_kept"),
            (F.size("_t") - F.size(kept)).cast("bigint").alias("n_tokens_dropped"),
        )
    )


def perplexity_bands(
    scored: DataFrame,
    xent_col: str = "xent",
    id_col: str = "doc_id",
    thresh_round: int = 9,
) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3):
    rank documents by LM cross-entropy and cut the corpus at the
    terciles — 'head' is the most-fluent third (lowest xent),
    'tail' the least; unscored documents (no bigrams) band as
    'unscored'. The cuts are exact interpolated percentiles of the
    ROUNDED xent distribution, computed in one 1-row aggregate and
    broadcast back (lazy, no driver scalars), each rounded to
    ``thresh_round`` before the band comparison so the assignment is
    engine-portable. At 100 TB swap the exact percentile for
    ``percentile_approx`` under the approx_stats_bounded protocol —
    the exact form's merge buffer is O(distinct xent values) on one
    task (same hazard as robust_outlier_filter, documented there)."""
    third = 1.0 / 3.0
    t = scored.where(F.col(xent_col).isNotNull()).agg(
        F.round(F.expr(f"percentile({xent_col}, {third!r})"), thresh_round).alias("_t1"),
        F.round(F.expr(f"percentile({xent_col}, {2 * third!r})"), thresh_round).alias("_t2"),
    )
    return scored.crossJoin(F.broadcast(t)).select(
        id_col,
        xent_col,
        F.when(F.col(xent_col).isNull(), F.lit("unscored"))
        .when(F.col(xent_col) <= F.col("_t1"), F.lit("head"))
        .when(F.col(xent_col) <= F.col("_t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("band"),
    )


# --- persisted bigram LM: the CCNet screen's model artifact ---------


def fit_bigram_lm(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """Fit the interpolated bigram LM of :func:`bigram_logprob` on a
    REFERENCE corpus (CCNet fits on Wikipedia; any curated slice
    works) and return its model tables: (uc, ctx, bc, meta) =
    unigram counts (w, cw), context counts (l, cl), bigram counts
    (l, r, cb), and {n, v} totals. All three tables are
    vocabulary-/bigram-type-sized aggregates of ONE tokenization
    scan — the model is data, not driver state."""
    base = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    t = F.col("_t")
    uc = (
        base.select(F.explode_outer(t).alias("w"))
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    bi = base.select(
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 2),
                    lambda i: F.struct(
                        F.element_at(t, i + 1).alias("l"),
                        F.element_at(t, i + 2).alias("r"),
                    ),
                ),
            ).otherwise(F.expr("cast(array() as array<struct<l: string, r: string>>)"))
        ).alias("p")
    ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    bc = bi.groupBy("l", "r").agg(F.count(F.lit(1)).alias("cb"))
    ctx = bc.groupBy("l").agg(F.sum("cb").alias("cl"))
    tot = uc.agg(F.sum("cw").alias("n"), F.count(F.lit(1)).alias("v")).collect()[0]
    meta = {"n": int(tot["n"] or 0), "v": int(tot["v"] or 0)}
    return uc, ctx, bc, meta


def write_bigram_lm(path: str, uc: DataFrame, ctx: DataFrame, bc: DataFrame, meta: dict) -> None:
    """Persist the LM artifact: three parquet tables + ``lm.json``
    written LAST (the commit marker — a reader that finds the sidecar
    finds complete tables; the ``write_bloom`` protocol)."""
    import os

    from ..streaming.batch_dirs import write_json_atomic

    uc.write.mode("overwrite").parquet(os.path.join(path, "uc.parquet"))
    ctx.write.mode("overwrite").parquet(os.path.join(path, "ctx.parquet"))
    bc.write.mode("overwrite").parquet(os.path.join(path, "bc.parquet"))
    write_json_atomic(os.path.join(path, "lm.json"), meta)


def read_bigram_lm(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    import json
    import os

    with open(os.path.join(path, "lm.json")) as fh:
        meta = json.load(fh)
    uc = spark.read.parquet(os.path.join(path, "uc.parquet"))
    ctx = spark.read.parquet(os.path.join(path, "ctx.parquet"))
    bc = spark.read.parquet(os.path.join(path, "bc.parquet"))
    return uc, ctx, bc, meta


def score_with_unigram_lm(
    docs: DataFrame,
    uc: DataFrame,
    meta: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a PERSISTED unigram LM (the ``uc``
    table + totals of a stored ``fit_bigram_lm`` artifact — one
    artifact powers both DoReMi scorers): seen tokens score
    log(c(w)/N) exactly as :func:`unigram_logprob` (so scoring the
    LM's own training corpus reproduces it row for row — the
    stored-vs-in-corpus law the curator's DoReMi tier relies on);
    unseen tokens take the add-one floor log(1/(N+V)), the same
    unseen-word fallback as :func:`score_with_bigram_lm`. Plan: one
    tokenization scan; the vocabulary-sized ``uc`` join is UNHINTED
    (the never-force-broadcast rule). Rounding protocol identical to
    ``unigram_logprob``: per-token log p rounded to 8 before the
    exact decimal sum, aggregates to 6."""
    from ..oracle import dsum

    n_tot, v_tot = int(meta["n"]), int(meta["v"])
    floor_lp = round(math.log(1.0 / (n_tot + v_tot)), 8)
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w")
    )
    scored = exploded.join(uc, "w", "left").select(
        "doc_id",
        F.coalesce(
            F.round(F.log(F.col("cw") / F.lit(float(n_tot))), 8),
            F.lit(floor_lp),
        ).alias("logp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(dsum("logp"), 6).alias("logprob"),
        F.round((dsum("logp") / F.count(F.lit(1))), 6).alias("mean_logprob"),
    )


def score_with_bigram_lm(
    docs: DataFrame,
    uc: DataFrame,
    ctx: DataFrame,
    bc: DataFrame,
    meta: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """Score NEW documents against a PERSISTED bigram LM — the CCNet
    screen step. Unlike :func:`bigram_logprob` (which trains and
    scores on the same corpus, so every bigram is in-vocabulary),
    screened docs hit unseen events; the smoothing handles all three
    backoff levels with the same formula via coalesce-to-zero:
    unseen bigram → alpha·p_u(w)/(c(l)+alpha); unseen context →
    p_u(w); unseen word → p_u = 1/(N+V). Plan: one tokenization scan
    of the batch; ALL three model joins (uc is vocabulary-sized, ctx
    vocabulary-sized, bc bigram-TYPE-sized) carry no broadcast hint
    — a 25 T-token training corpus puts the vocabulary at 10⁸-10⁹
    rows (SCALING.md), past any broadcast, so they shuffle on their
    keys and AQE upgrades to broadcast at runtime when the stored
    parquet is actually small (round 10, r9 verdict — the
    never-broadcast rule the bigram/trigram TYPE tables already
    follow). Rounding protocol identical to ``bigram_logprob``.

    Returns (doc_id, n_bigrams, xent) with NULL xent for <2-token
    docs."""
    from ..oracle import dsum

    n_tot, v_tot = int(meta["n"]), int(meta["v"])
    base = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    t = F.col("_t")
    bi = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 2),
                    lambda i: F.struct(
                        F.element_at(t, i + 1).alias("l"),
                        F.element_at(t, i + 2).alias("r"),
                    ),
                ),
            ).otherwise(F.expr("cast(array() as array<struct<l: string, r: string>>)"))
        ).alias("p"),
    ).select("doc_id", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    joined = (
        bi.join(bc, ["l", "r"], "left")
        .join(ctx, "l", "left")
        .join(uc.withColumnRenamed("w", "r"), "r", "left")
        .select(
            "doc_id",
            F.round(
                F.log(
                    (
                        F.coalesce(F.col("cb"), F.lit(0)).cast("double")
                        + F.lit(alpha)
                        * (
                            (F.coalesce(F.col("cw"), F.lit(0)) + 1)
                            / F.lit(float(n_tot + v_tot))
                        )
                    )
                    / (F.coalesce(F.col("cl"), F.lit(0)) + F.lit(alpha))
                ),
                8,
            ).alias("lp"),
        )
    )
    scored = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-dsum("lp") / F.count(F.lit(1)), 6).alias("xent"),
    )
    return (
        base.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "xent",
        )
    )


# ---------------------------------------------------------------------
# Line-level keep-first deduplication (C4 / RefinedWeb style)
# ---------------------------------------------------------------------

# Global position encoding for "first occurrence" ordering: a line's
# position is doc_id * _LINE_POS_LIM + line_index. BIGINT-exact in
# both engines as long as no document has more lines than the limit
# (guarded at runtime) and doc ids stay below 2^63 / _LINE_POS_LIM.
_LINE_POS_LIM = 1 << 20


def split_lines(
    text_col: Column | str, *, delimiter: str | None = None, segment_tokens: int = 10
) -> Column:
    """Array of "lines" for line-level dedup. Production web corpora
    split on ``delimiter`` (usually ``\\n``); the driver fixture text
    is single-line word soup, so the default splits the normalized
    token stream into fixed non-overlapping ``segment_tokens``-token
    windows (the last window may be shorter). Both paths are pure
    codegen column expressions."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if delimiter is not None:
        import re as _re

        return F.split(c, _re.escape(delimiter))
    t = tokens(c)
    k = segment_tokens
    n_seg = F.ceil(F.size(t) / F.lit(float(k))).cast("int")
    # sequence(0, -1) DESCENDS in Spark — guard the empty-token case
    # explicitly instead of relying on slice() of [] collapsing to ''.
    return F.when(n_seg <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(F.slice(t, i * k + 1, k), " "),
        )
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    delimiter: str | None = None,
    segment_tokens: int = 10,
) -> DataFrame:
    """Corpus-wide duplicated-line removal with GLOBAL FIRST-OCCURRENCE
    retention — the C4 dedup step (Raffel et al. 2020 §2.2: "discard
    all but one of any three-sentence span occurring more than once")
    as RefinedWeb/Dolma apply it per line. The semantic complement of
    :func:`excise_duplicate_spans`: excision removes EVERY occurrence
    of a high-df span; this keeps exactly ONE — the occurrence with
    the smallest (doc_id, line_index) — and rewrites every document
    from its surviving lines (duplicate lines WITHIN one document
    collapse to their first occurrence too, same rule).

    Lines come from :func:`split_lines`; empty lines are never dedup
    keys (a real corpus's blank lines are not shared content).

    Output: (id, text_dedup, n_lines, n_kept, n_removed) — one row per
    input document, fully-deduplicated documents kept with empty text
    so downstream length filters make the drop decision explicitly.

    Scale shape: first-occurrence selection is groupBy(line) with a
    map-side-combined min — NOT a window (a window would sort the hot
    partition of a 1e9-occurrence boilerplate line; the partial agg
    emits one row per distinct line per mapper) — then an equi-join of
    occurrences against the winners keyed on the line (AQE skew-join
    splits the hot lines), then one doc-keyed reassembly agg. At
    100 TB the join key becomes xxhash64(line) (narrower shuffle, same
    plan); the driver-fixture form joins on the raw line so the DuckDB
    oracle is byte-identical.

    Reference semantics anchor: the reference's compacted-topic
    keep-one-per-key (TableView, pulsar.go) — the same latest/first-
    per-key aggregation shape, keyed on content instead of message
    key."""
    # line-splitting materialized at ONE _id exchange: the occurrence
    # explode (consumed twice — winner agg + join probe) and the
    # n_lines base branch otherwise each re-run split_lines from the
    # scan. Round 13 (guide §2.4, the unigram_logprob pattern): for
    # ReuseExchange to unify the three consumers their subtrees must
    # be IDENTICAL, and two inferred pushdowns were splitting them —
    # the inner posexplode synthesized a pushable `size(_lines) > 0`
    # (absent from the base branch), and the final left join pushed
    # `isnotnull(_id)` into the probe branch only. Observed: the
    # scan+split+exchange map stage executed THREE times per run,
    # byte-identical output each time. posexplode_outer + post-filter
    # removes the size inference (the NULL/empty rows it adds are
    # dropped by the existing `_line != ''` filter — NULL <> ''
    # is NULL), and the isnotnull guard is applied uniformly HERE so
    # every branch carries it (the oracle text carries the same
    # guard; no declared fixture has NULL doc ids — canary-pinned).
    d = (
        docs.select(
            F.col(id_col).alias("_id"),
            split_lines(
                text_col, delimiter=delimiter, segment_tokens=segment_tokens
            ).alias("_lines"),
        )
        .where(F.col("_id").isNotNull())
        .repartition("_id")
    )
    occ = (
        d.select("_id", F.posexplode_outer("_lines").alias("_idx", "_line"))
        .filter(F.col("_line") != "")
        .withColumn("_gpos", F.col("_id") * _LINE_POS_LIM + F.col("_idx"))
    )
    firsts = occ.groupBy("_line").agg(F.min("_gpos").alias("_first"))
    kept = occ.join(firsts, "_line").filter(F.col("_gpos") == F.col("_first"))
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                lambda s: s["_line"],
            ),
            " " if delimiter is None else delimiter,
        ).alias("_text_dedup"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    base = d.select(
        "_id",
        F.size(F.filter(F.col("_lines"), lambda x: x != "")).cast("bigint").alias(
            "_n_lines"
        ),
    )
    return (
        base.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("_text_dedup", F.lit("")).alias("text_dedup"),
            F.col("_n_lines").alias("n_lines"),
            F.coalesce("_n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------
# HTML -> text extraction (round 8): the first step of every real
# crawl pipeline (trafilatura/jusText class, reduced to the regex
# subset Java regex and RE2 agree on so the operation stays
# hash-checkable cross-engine).

#: the entity subset decoded — the five XML predefined entities plus
#: &nbsp;, which covers the overwhelming share of crawl HTML entities
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: decoding it earlier would double-decode
]


def html_extract(col: Column | str) -> Column:
    """Visible text of an HTML fragment as one codegen expression
    chain — no Python, rides inside the corpus scan:

    1. drop <script>/<style>/<!-- --> blocks wholesale ((?is) +
       non-greedy, supported identically by Java regex and RE2 —
       no backreferences, which RE2 lacks);
    2. turn block-level closers (</p>, </div>, <br>, </li>, </h_>,
       </tr>) into spaces so words don't weld across block boundaries;
    3. strip every remaining tag (<[^>]*>);
    4. decode the predefined entities (&amp; LAST — the standard
       double-decode trap);
    5. collapse whitespace runs and trim.

    This is deliberately an EXTRACTION baseline, not a boilerplate
    classifier — main-content detection (jusText's stopword-density
    blocks) composes downstream via the existing quality screens,
    which is where the engine already keeps such policies."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?i)</?(p|div|br|li|h[1-6]|tr)[^>]*>", " ")
    c = F.regexp_replace(c, r"<[^>]*>", "")
    for ent, rep in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def oracle_html_extract_sql(col: str) -> str:
    """The DuckDB twin of :func:`html_extract`, generated from the
    same steps/entity table so the two cannot drift."""
    expr = col
    expr = f"regexp_replace({expr}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?i)</?(p|div|br|li|h[1-6]|tr)[^>]*>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '<[^>]*>', '', 'g')"
    for ent, rep in _HTML_ENTITIES:
        ent_sql = ent.replace("'", "''")
        rep_sql = rep.replace("'", "''")
        expr = f"replace({expr}, '{ent_sql}', '{rep_sql}')"
    expr = f"regexp_replace({expr}, '\\s+', ' ', 'g')"
    return f"trim({expr})"


def html_main_content(
    col: Column | str,
    min_words: int = 5,
    min_stopword_ratio: float = 0.1,
) -> Column:
    """jusText-style main-content extraction (Pomikálek 2011, reduced
    to the engine-portable core): segment the HTML into BLOCKS at
    block-level tag boundaries, score each block by length and
    stopword density, keep only "good" blocks — navigation chrome,
    link lists and footers are short and function-word-poor, body
    prose is neither — and reassemble in document order.

    One codegen expression chain (split → per-element transform with
    the :func:`html_extract` cleanup steps → filter by word count and
    stopword ratio → ordered join); the classification policy is the
    simplified two-feature core of jusText's good/bad heuristic (the
    full algorithm adds context-sensitive relabeling of short blocks
    between good neighbors — a second pass over the block array that
    composes here if ever needed). Complements :func:`html_extract`,
    which extracts EVERYTHING: use extract for recall, main_content
    for precision."""
    c = F.col(col) if isinstance(col, str) else col
    # comments/script/style first — a block split inside them would
    # leak fragments into blocks
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    blocks = F.split(c, r"(?i)</?(?:p|div|br|li|h[1-6]|tr|td|ul|ol|table|section|article|nav|footer|header)[^>]*>")

    def clean(b: Column) -> Column:
        b = F.regexp_replace(b, r"<[^>]*>", "")
        for ent, rep in _HTML_ENTITIES:
            b = F.replace(b, F.lit(ent), F.lit(rep))
        return F.trim(F.regexp_replace(b, r"\s+", " "))

    cleaned = F.transform(blocks, clean)

    def good(b: Column) -> Column:
        t = F.split(b, r"\s+")
        nw = F.size(t)
        nstop = F.size(F.filter(t, lambda x: F.lower(x).isin(*STOPWORDS)))
        return (
            (b != "")
            & (nw >= F.lit(min_words))
            & (nstop.cast("double") / nw >= F.lit(float(min_stopword_ratio)))
        )

    kept = F.filter(cleaned, good)
    return F.array_join(kept, " ")


def oracle_html_main_content_sql(
    col: str, min_words: int = 5, min_stopword_ratio: float = 0.1
) -> str:
    """DuckDB twin of :func:`html_main_content`, generated from the
    same steps, split pattern, entity table, and stopword list."""
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    expr = col
    expr = f"regexp_replace({expr}, '(?is)<script[^>]*>.*?</script>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    split = (
        f"string_split_regex({expr}, "
        "'(?i)</?(?:p|div|br|li|h[1-6]|tr|td|ul|ol|table|section|article|nav|footer|header)[^>]*>')"
    )
    b = "regexp_replace(x, '<[^>]*>', '', 'g')"
    for ent, rep in _HTML_ENTITIES:
        b = f"replace({b}, '{ent.replace(chr(39), chr(39)*2)}', '{rep.replace(chr(39), chr(39)*2)}')"
    b = f"trim(regexp_replace({b}, '\\s+', ' ', 'g'))"
    cleaned = f"list_transform({split}, x -> {b})"
    good = (
        "x <> '' AND len(string_split_regex(x, '\\s+')) >= "
        f"{min_words} AND CAST(len(list_filter(string_split_regex(x, '\\s+'), "
        f"w -> lower(w) IN ({stops}))) AS DOUBLE) "
        f"/ len(string_split_regex(x, '\\s+')) >= {min_stopword_ratio!r}"
    )
    # coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
    # Spark's array_join is '' — the all-blocks-dropped page
    return f"coalesce(array_to_string(list_filter({cleaned}, x -> {good}), ' '), '')"


def c4_line_filters(
    docs: DataFrame,
    page_col: str = "page",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    ride: tuple[str, ...] = (),
) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020 §2.2 —
    the most-cited web-corpus recipe), applied per page:

    line keeps (all must hold, applied to the WHITESPACE-TRIMMED
    line — C4 strips each line before the rules, so a CRLF page
    split on ``\\n`` does not fail every line on the trailing
    ``\\r``, and trailing spaces don't hide terminal punctuation):
      - ends in a terminal punctuation mark (``. ! ? "``),
      - carries at least ``min_words_per_line`` whitespace words,
      - does not contain the word ``javascript``;
    page rejects (reason precedence, first match wins):
      - ``lorem-ipsum``: the placeholder phrase appears anywhere,
      - ``curly-brace``: a ``{`` appears anywhere (code, JSON),
      - ``too-few-sentences``: fewer than ``min_sentences`` lines
        survive the line rules.

    Output: (id, n_lines, n_kept, page_kept, reject_reason, cleaned)
    with ``cleaned`` = the surviving TRIMMED lines newline-joined
    (empty when nothing survives — the page verdict is a separate
    column so the drop decision stays explicit, the ``line_dedup``
    convention).

    Scale shape: ONE per-row codegen projection — split, filter,
    rejoin; no shuffle, no Python, rides inside the page scan at any
    corpus size. Every expression has a DuckDB twin generated from
    the same constants (``queries._c4_oracle``). ``ride`` names
    input columns carried verbatim to the output (after ``cleaned``)
    — the ``gopher_repetition`` composition hook, so an upstream
    stage's verdicts (URL, language) cross this stage without a
    doc_id join-back (the round-12 full-FineWeb plan is the
    consumer)."""
    lines = F.split(F.col(page_col), "\n")
    low = F.lower(F.col(page_col))
    # F.trim strips only ASCII spaces — a CRLF page needs the \r
    # gone too, so trim \s (space/tab/\r) at both ends via regexp.
    trimmed = F.transform(
        lines, lambda ln: F.regexp_replace(ln, r"^\s+|\s+$", "")
    )

    def line_ok(ln):
        words = F.size(F.split(ln, TOKEN_RE))
        return (
            ln.rlike('[.!?"]$')
            & (words >= min_words_per_line)
            & ~F.lower(ln).rlike("(^|\\s)javascript(\\s|$|[.!?])")
        )

    kept = F.filter(trimmed, line_ok)
    reason = (
        F.when(low.contains("lorem ipsum"), F.lit("lorem-ipsum"))
        .when(F.col(page_col).contains("{"), F.lit("curly-brace"))
        .when(
            F.size(kept) < min_sentences, F.lit("too-few-sentences")
        )
    )
    return docs.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        reason.isNull().alias("page_kept"),
        reason.alias("reject_reason"),
        F.array_join(kept, "\n").alias("cleaned"),
        *[F.col(r) for r in ride],
    )


def _trigram_explode(base: DataFrame) -> DataFrame:
    """(doc_id, u, v, w) adjacent-trigram explode of a (doc_id, _t)
    token table — shared by the in-corpus KN3 scorer and the stored-LM
    screen so the two paths cannot drift."""
    t = F.col("_t")
    return base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(t) >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 3),
                    lambda i: F.struct(
                        F.element_at(t, i + 1).alias("u"),
                        F.element_at(t, i + 2).alias("v"),
                        F.element_at(t, i + 3).alias("w"),
                    ),
                ),
            ).otherwise(
                F.expr(
                    "cast(array() as array<struct<u: string, v: string,"
                    " w: string>>)"
                )
            )
        ).alias("g"),
    ).select(
        "doc_id",
        F.col("g.u").alias("u"),
        F.col("g.v").alias("v"),
        F.col("g.w").alias("w"),
    )


def fit_trigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> tuple[DataFrame, dict]:
    """Fit the order-3 Kneser-Ney model for persistence (round 10 —
    r9 verdict #5): the artifact is ONE trigram-TYPE table — every
    lower-order quantity of the KN recursion (c(uv·), N1+(uv·),
    N1+(·vw), N1+(·v·), N1+(··w), N1+(···)) is a continuation
    aggregate OF it, derived at read time so the stored model is
    self-consistent by construction (the ``trigram_logprob``
    property). Returns (tc, meta) with meta = {ntc, vw, discount}
    (documentation totals; the scorer re-derives them in-plan)."""
    base = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .where(F.col("doc_id").isNotNull())
    )
    tc = _trigram_explode(base).groupBy("u", "v", "w").agg(
        F.count(F.lit(1)).alias("c3")
    )
    row = (
        tc.groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("n1vw"))
        .agg(
            F.count(F.lit(1)).alias("ntc"),
            F.countDistinct("w").alias("vw"),
        )
        .collect()[0]
    )
    meta = {
        "ntc": int(row["ntc"] or 0),
        "vw": int(row["vw"] or 0),
        "discount": float(discount),
    }
    return tc, meta


def write_trigram_lm(path: str, tc: DataFrame, meta: dict) -> None:
    """Persist the KN3 artifact: the trigram-type table +
    ``lm3.json`` written LAST (the commit marker — the
    ``write_bigram_lm`` protocol; the sidecar name also tags the
    artifact's ORDER, which is how the curator's perplexity screen
    auto-detects a KN3 model)."""
    import os

    from ..streaming.batch_dirs import write_json_atomic

    tc.write.mode("overwrite").parquet(os.path.join(path, "tc.parquet"))
    write_json_atomic(os.path.join(path, "lm3.json"), meta)


def read_trigram_lm(spark, path: str) -> tuple[DataFrame, dict]:
    import json
    import os

    with open(os.path.join(path, "lm3.json")) as fh:
        meta = json.load(fh)
    tc = spark.read.parquet(os.path.join(path, "tc.parquet"))
    return tc, meta


def score_with_trigram_lm(
    docs: DataFrame,
    tc: DataFrame,
    meta: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score NEW documents against a PERSISTED order-3 Kneser-Ney LM
    (round 10 — r9 verdict #5): the full KenLM recursion with
    coalesce-to-zero backoff at every level, the stored-bigram-screen
    convention lifted to order 3:

      unseen trigram, seen context (u,v) → the max(c3−D,0) term is 0
        and the discount mass D·N1+(uv·)/c(uv·) carries p_mid;
      unseen context (u,v)  → p = p_mid(w|v)   (back off, weight 1);
      unseen middle v       → p = p_cont(w);
      unseen word w         → p_cont = 1/(N1+(···) + V) — the add-one
        floor at the continuation level, so every event scores.

    Seen events take EXACTLY the in-corpus formula, so scoring the
    LM's own training corpus reproduces :func:`trigram_logprob` row
    for row (the stored-vs-in-corpus hash law, pinned in tests and
    under the driver's oracle gate via ``text_kn3_stored``).

    Scale shape: one tokenization scan of the batch; all lower-order
    tables derive from the stored trigram-type table in-plan
    (vocabulary-class aggregates — never a second corpus pass); the
    per-trigram joins shuffle on their keys, NO broadcast hints (the
    never-force-broadcast rule — trigram types are the largest table
    in the engine); the two totals ride 1-row broadcasts. Rounding
    protocol identical to ``trigram_logprob``."""
    from ..oracle import dsum

    d = F.lit(float(meta.get("discount", 0.75)))
    cuv = tc.groupBy("u", "v").agg(
        F.sum("c3").alias("cuv"), F.count(F.lit(1)).alias("n1uv")
    )
    cont2 = tc.groupBy("v", "w").agg(F.count(F.lit(1)).alias("n1vw"))
    midv = cont2.groupBy("v").agg(
        F.sum("n1vw").alias("n1v_"), F.count(F.lit(1)).alias("nv_")
    )
    contw = cont2.groupBy("w").agg(F.count(F.lit(1)).alias("n1w"))
    tots = cont2.agg(
        F.count(F.lit(1)).alias("_ntc"),
        F.countDistinct("w").alias("_vw"),
    )
    base = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .where(F.col("doc_id").isNotNull())
        .repartition("doc_id")
    )
    tri = _trigram_explode(base)
    types = tri.select("u", "v", "w").distinct()
    p_cont = F.when(
        F.col("n1w").isNotNull(),
        F.col("n1w") / F.col("_ntc").cast("double"),
    ).otherwise(F.lit(1.0) / (F.col("_ntc") + F.col("_vw")).cast("double"))
    p_mid = F.when(
        F.col("n1v_").isNotNull(),
        F.greatest(F.coalesce(F.col("n1vw"), F.lit(0)) - d, F.lit(0.0))
        / F.col("n1v_")
        + (d * F.col("nv_") / F.col("n1v_")) * p_cont,
    ).otherwise(p_cont)
    p_top = F.when(
        F.col("cuv").isNotNull(),
        F.greatest(F.coalesce(F.col("c3"), F.lit(0)) - d, F.lit(0.0))
        / F.col("cuv")
        + (d * F.col("n1uv") / F.col("cuv")) * p_mid,
    ).otherwise(p_mid)
    lp = (
        types.join(tc, ["u", "v", "w"], "left")
        .join(cuv, ["u", "v"], "left")
        .join(cont2, ["v", "w"], "left")
        .join(midv, "v", "left")
        .join(contw, "w", "left")
        .crossJoin(F.broadcast(tots))
        .select("u", "v", "w", F.round(F.log(p_top), 8).alias("lp"))
    )
    scored = (
        tri.join(lp, ["u", "v", "w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(-dsum("lp") / F.count(F.lit(1)), 6).alias("xent"),
        )
    )
    return (
        base.select("doc_id", F.size("_t").cast("bigint").alias("n_tokens"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            "xent",
            F.round(F.exp("xent"), 6).alias("ppl"),
        )
    )


def trigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Order-3 interpolated Kneser-Ney perplexity (Kneser & Ney 1995;
    Chen & Goodman 1999 eq. 4.17 applied RECURSIVELY — the full KenLM
    structure at order 3, round 9):

        p(w|u,v) = max(c(uvw)−D,0)/c(uv·)
                 + (D·N1+(uv·)/c(uv·)) · p_mid(w|v)
        p_mid(w|v) = max(N1+(·vw)−D,0)/N1+(·v·)
                 + (D·N1+c(v·)/N1+(·v·)) · p_cont(w)
        p_cont(w) = N1+(··w)/N1+(···)

    with every lower-order quantity a CONTINUATION count derived from
    the trigram-type table itself (distinct-context counts, not raw
    frequencies — the "San Francisco" correction at both backoff
    levels), so the whole model is a self-consistent function of ONE
    trigram aggregate. Scoring runs over the training corpus, so
    every scored trigram is observed (c ≥ 1, no zero-context branch —
    the property that keeps the model closed-form here, as in the
    bigram form). Per-context probabilities sum to 1 exactly (law
    tested against a pure-python model).

    Scale shape: one tokenization scan; the trigram-TYPE aggregate is
    the only corpus-scale shuffle (NOT broadcast — real corpora have
    more trigram types than bigram types); the top-level totals ride
    WINDOWS on the lp chain itself, and the continuation table's
    v/w-level totals ride windows over it (round 13 — sums/counts of
    longs, bit-identical to the old aggregate+join form), never a
    second corpus pass; scoring joins on the trigram
    key co-partitioned. Docs with <3 tokens survive with
    n_trigrams = 0 and NULL scores. Determinism: per-trigram log p
    rounded to 8 before the exact decimal sum (the family protocol)."""
    from ..oracle import dsum

    base = (
        docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
        .where(F.col("doc_id").isNotNull())
        .repartition("doc_id")
    )
    from pyspark.sql import Window

    tri = _trigram_explode(base)
    tc = tri.groupBy("u", "v", "w").agg(F.count(F.lit(1)).alias("c3"))
    # Round 13 (guide §2.4, the bigram_logprob window rule): the
    # per-context totals ride WINDOWS instead of separate aggregates
    # joined back. The old cuv/midv/contw aggregates made tc a
    # 3-consumer and cont2 a 4-consumer table whose ColumnPruning-
    # specialized copies re-executed their partial-agg map stages per
    # consumer (stage-trace verified: three byte-identical duplicated
    # stage pairs, ~2.5 s duplicated executor time at sf0.1; persist
    # is ruled out — cached plans lose AQE, measured 23 s executor).
    # Windows keyed on vocab-class columns distribute at any scale;
    # sums/counts of longs are exact, so every formula input is
    # bit-identical. Only the GLOBAL N1+(···) keeps the 1-row
    # broadcast aggregate. tc now has 2 consumers (cont2 + the lp
    # chain), cont2 has 2 (its window chain + ntot).
    # top level, on the lp chain itself: c(uv·) and N1+(uv·)
    wuv = Window.partitionBy("u", "v")
    # middle level: continuation counts N1+(·vw), then their v-totals
    # and the w-level continuation as windows over the cont2 table
    cont2 = tc.groupBy("v", "w").agg(F.count(F.lit(1)).alias("n1vw"))
    wv = Window.partitionBy("v")
    ww = Window.partitionBy("w")
    cont2w = cont2.select(
        "v",
        "w",
        "n1vw",
        F.sum("n1vw").over(wv).alias("n1v_"),
        F.count(F.lit(1)).over(wv).alias("nv_"),
    ).select("v", "w", "n1vw", "n1v_", "nv_", F.count(F.lit(1)).over(ww).alias("n1w"))
    ntot = cont2.agg(F.count(F.lit(1)).alias("_ntc"))
    d = F.lit(float(discount))
    p_cont = F.col("n1w") / F.col("_ntc").cast("double")
    p_mid = (
        F.greatest(F.col("n1vw") - d, F.lit(0.0)) / F.col("n1v_")
        + (d * F.col("nv_") / F.col("n1v_")) * p_cont
    )
    lp = (
        tc.select(
            "u",
            "v",
            "w",
            "c3",
            F.sum("c3").over(wuv).alias("cuv"),
            F.count(F.lit(1)).over(wuv).alias("n1uv"),
        )
        .join(cont2w, ["v", "w"])
        .crossJoin(F.broadcast(ntot))
        .select(
            "u",
            "v",
            "w",
            F.round(
                F.log(
                    F.greatest(F.col("c3") - d, F.lit(0.0)) / F.col("cuv")
                    + (d * F.col("n1uv") / F.col("cuv")) * p_mid
                ),
                8,
            ).alias("lp"),
        )
    )
    scored = (
        tri.join(lp, ["u", "v", "w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(-dsum("lp") / F.count(F.lit(1)), 6).alias("xent"),
        )
    )
    return (
        base.select("doc_id", F.size("_t").cast("bigint").alias("n_tokens"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            "xent",
            F.round(F.exp("xent"), 6).alias("ppl"),
        )
    )


# --- Gopher repetition suite (the full Table-A1 §A1.1 signal set) ---

# Packing base for the (count, length) argmax encoding used by the
# run-stats fold: pack = count * _PACK + min(len(gram), _PACK - 1).
# Token length is UNBOUNDED in raw web text (base64 blobs, minified
# JS with no whitespace — and the curator's repetition pre-screen
# runs before any cleaning), so the length is clamped into its pack
# slot: without the clamp a single-occurrence 150k-char gram packs
# above a genuine count-2 gram and corrupts the top_{2,3,4}gram
# argmax (count=1, len=150k would read back as count≈2). The clamp
# is applied identically in the Catalyst fold, the Arrow kernel, and
# the DuckDB oracle fragment; for the pathological >=100k-char gram
# the unpacked coverage uses the clamped length (a lower bound — the
# true fraction is if anything higher, and such a doc fails other
# screens long before this one matters). Counts can reach the doc's
# token count; the packed value stays comfortably inside int64.
_PACK = 100_000


def _sorted_run_stats(sorted_arr: Column) -> Column:
    """Run-length statistics of a SORTED string array as ONE Catalyst
    ``aggregate`` fold — the per-document counting kernel behind
    :func:`gopher_repetition`. Equal elements are adjacent after the
    sort, so a single O(len) pass with a (prev, run) accumulator
    recovers every per-value frequency without a hash map — and
    therefore without the (doc, gram) exchange the grouped form of
    the same statistic needs (`repetition_signals` pays that shuffle
    for ONE signal; this kernel prices nine signals at zero).

    Returns struct:
      - ``dup_occ``       = Σ over values with count ≥ 2 of (count-1)
        — occurrences beyond the first ("duplicate" occurrences),
      - ``dup_occ_chars`` = Σ (count-1) * len(value),
      - ``dup_all_chars`` = Σ over values with count ≥ 2 of
        count * len(value) — chars in ALL occurrences of any
        duplicated value (the Gopher dup-n-gram numerator),
      - ``toppack``       = max over values of count * _PACK +
        min(len(value), _PACK - 1) — the most frequent value's
        (count, clamped len), ties by longer value (deterministic,
        and identical to the oracle's relational
        ``max(c*_PACK+least(l,_PACK-1))``; see the ``_PACK`` note on
        why the length clamps into its slot).

    Empty arrays fold to all-zero stats (the init state finalizes a
    zero-length run, which every guard skips)."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("dup_occ"),
        zero.alias("dup_occ_chars"),
        zero.alias("dup_all_chars"),
        zero.alias("toppack"),
    )

    def _fin_occ(acc):
        return F.when(acc["run"] >= 2, acc["run"] - 1).otherwise(F.lit(0).cast("long"))

    def _fin_occ_chars(acc):
        return F.when(
            acc["run"] >= 2, (acc["run"] - 1) * F.length(acc["prev"])
        ).otherwise(F.lit(0).cast("long"))

    def _fin_all_chars(acc):
        return F.when(
            acc["run"] >= 2, acc["run"] * F.length(acc["prev"])
        ).otherwise(F.lit(0).cast("long"))

    def _fin_top(acc):
        return F.greatest(
            acc["toppack"],
            acc["run"] * F.lit(_PACK)
            + F.least(F.length(acc["prev"]), F.lit(_PACK - 1)),
        )

    def step(acc, x):
        same = acc["prev"] == x
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["dup_occ"])
            .otherwise(acc["dup_occ"] + _fin_occ(acc))
            .alias("dup_occ"),
            F.when(same, acc["dup_occ_chars"])
            .otherwise(acc["dup_occ_chars"] + _fin_occ_chars(acc))
            .alias("dup_occ_chars"),
            F.when(same, acc["dup_all_chars"])
            .otherwise(acc["dup_all_chars"] + _fin_all_chars(acc))
            .alias("dup_all_chars"),
            F.when(same, acc["toppack"]).otherwise(_fin_top(acc)).alias("toppack"),
        )

    def finish(acc):
        return F.struct(
            (acc["dup_occ"] + _fin_occ(acc)).alias("dup_occ"),
            (acc["dup_occ_chars"] + _fin_occ_chars(acc)).alias("dup_occ_chars"),
            (acc["dup_all_chars"] + _fin_all_chars(acc)).alias("dup_all_chars"),
            _fin_top(acc).alias("toppack"),
        )

    return F.aggregate(sorted_arr, init, step, finish)


def _grams_multiset(t: Column, n: int) -> Column:
    """Word n-grams WITH multiplicity (no array_distinct — frequency
    is the payload), empty for docs shorter than n. ``t`` must be a
    materialized column reference (the lambda-reevaluation trap,
    see :func:`ngrams_from_tokens`)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)]),
    )
    return F.when(F.size(t) >= n, grams).otherwise(F.array().cast("array<string>"))


# (rule name, threshold) in Gopher Table-A1 order; first failing rule
# wins the reject_reason. Fractions are "of duplicates" — above the
# threshold means too repetitive.
GOPHER_REP_RULES = (
    ("dup_line_frac", 0.30),
    ("dup_line_char_frac", 0.20),
    ("top_2gram_frac", 0.20),
    ("top_3gram_frac", 0.18),
    ("top_4gram_frac", 0.16),
    ("dup_5gram_frac", 0.15),
    ("dup_6gram_frac", 0.14),
    ("dup_7gram_frac", 0.13),
    ("dup_8gram_frac", 0.12),
    ("dup_9gram_frac", 0.11),
    ("dup_10gram_frac", 0.10),
)


def gopher_repetition(
    pages: DataFrame,
    page_col: str = "page",
    id_col: str = "doc_id",
    strategy: str = "arrow",
    ride: tuple[str, ...] = (),
) -> DataFrame:
    """The FULL Gopher repetition-removal signal set (Rae et al. 2021
    "Scaling Language Models: Methods, Analysis & Insights from
    Training Gopher", Table A1 §A1.1 — public), eleven signals per
    document:

    - ``dup_line_frac``: duplicate line occurrences (beyond each
      line's first) / total lines,
    - ``dup_line_char_frac``: characters in those duplicate line
      occurrences / characters in all lines,
    - ``top_{2,3,4}gram_frac``: characters covered by the most
      frequent word n-gram (count × gram length) / characters of the
      whitespace-joined token stream,
    - ``dup_{5..10}gram_frac``: characters in ALL occurrences of
      duplicated word n-grams / the same denominator.

    Simplification vs DeepMind's internal implementation (which is
    not public): occurrence-character products are used rather than
    de-overlapped character coverage; the contract is fully defined
    by this function + its oracle twin. Thresholds are the paper's
    (``GOPHER_REP_RULES``); ``reject_reason`` is the first failing
    rule, ``keep`` is the conjunction.

    Lines are the ``\\n``-split, whitespace-trimmed, non-empty lines
    of the page (the C4/line_dedup convention); grams come from the
    whitespace token stream (newlines are token separators).

    Scale shape: ZERO shuffles under EITHER kernel — the signals are
    per-document, so the suite rides the page scan at any corpus
    size. Two kernels, hash-identical because every statistic is
    exact int64 until one final int/int double division:

    - ``strategy="arrow"`` (default, the throughput path): one
      Arrow-batched kernel — Java-\\s-exact tokenization, a hash
      Counter per (doc, n), the same packed (count, len) argmax —
      ~25 µs/doc vs the sql kernel's ~2 ms/doc (both measured at
      sf0.1; hash maps beat comparison folds at counting).
    - ``strategy="sql"``: per-row ``array_sort`` +
      :func:`_sorted_run_stats` Catalyst folds — zero Python
      workers, the form the DuckDB oracle mirrors structurally.
      Contrast :func:`repetition_signals`, which pays a (doc, gram)
      exchange for its single top-bigram signal; and the exploded
      (doc, n, gram) groupBy form of these nine signals measured 6×
      worse than even the sql folds at sf0.1 (41.4 s vs 6.9 s,
      struct-stream explode + two exchanges) before counting the
      shuffle it adds at corpus scale.

    ``ride`` names input columns carried VERBATIM through to the
    output (between the fraction columns and ``keep``, same order in
    both kernels) — the zero-join composition hook: an upstream
    stage's per-row verdicts ride the same scan instead of joining
    back on doc_id afterwards (the fused FineWeb recipe is the
    consumer).

    Cross-kernel equality is pinned by
    ``test_curation.test_gopher_repetition_kernels_agree`` including
    the tokenizer edge cases (CRLF, tabs, runs of spaces, empty
    cleaned text)."""
    if strategy == "arrow":
        return _gopher_repetition_arrow(pages, page_col, id_col, ride)
    if strategy != "sql":
        raise ValueError(f"unknown strategy {strategy!r}")
    base = pages.select(
        F.col(id_col).alias("doc_id"),
        *_gopher_stage1(F.col(page_col)),
        *[F.col(r) for r in ride],
    )
    stats = base.select("doc_id", *_gopher_stage2(), *[F.col(r) for r in ride])
    fr = _gopher_fracs()
    sig = stats.select(
        "doc_id",
        F.col("_gr_nl").alias("n_lines"),
        F.col("_gr_nw").alias("n_words"),
        *[fr[name].alias(name) for name, _ in GOPHER_REP_RULES],
        *[F.col(r) for r in ride],
    )
    chain = None
    for name, thr in GOPHER_REP_RULES:
        cond = F.col(name) > F.lit(thr)
        chain = (
            F.when(cond, F.lit(name))
            if chain is None
            else chain.when(cond, F.lit(name))
        )
    reason = chain.otherwise(F.lit(None).cast("string"))
    return sig.select(
        "*",
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


def _gopher_repetition_arrow(
    pages: DataFrame, page_col: str, id_col: str, ride: tuple[str, ...] = ()
) -> DataFrame:
    """Arrow kernel of :func:`gopher_repetition` — identical values
    (every statistic is an exact integer until one final int/int
    division, and Python's ``/`` is the same IEEE divide), built with
    hash Counters instead of sort+fold comparisons. Tokenizer parity
    is replicated EXACTLY: lower → strip(' ') (Spark ``trim`` removes
    U+0020 only) → split on the Java ``\\s`` class
    ``[ \\t\\n\\x0b\\f\\r]+`` keeping leading/trailing empties
    (Spark's split limit=-1); lines are '\\n'-split then
    edge-trimmed with the same class and dropped when empty."""
    import re as _re

    dtypes = dict(pages.dtypes)
    id_type = dtypes[id_col]
    ws_re = _re.compile("[ \\t\\n\\x0b\\f\\r]+")
    edge_re = _re.compile("^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$")
    rules = GOPHER_REP_RULES
    pack = _PACK
    cols = (
        ["doc_id", "n_lines", "n_words"]
        + [name for name, _ in rules]
        + list(ride)
        + ["keep", "reject_reason"]
    )
    schema = (
        f"doc_id {id_type}, n_lines long, n_words long, "
        + ", ".join(f"{name} double" for name, _ in rules)
        + "".join(f", {r} {dtypes[r]}" for r in ride)
        + ", keep boolean, reject_reason string"
    )

    def kern(batches):
        # Round 12 (optimization, guide §4.2 — vectorize inside the
        # Arrow kernel): the per-doc Counter ladder built 9 zip-tuple
        # hash Counters per document in interpreted Python (~2.2 s
        # single-core over the sf0.1 planted pages). The n-gram
        # grouping is now batch-global numpy: token→int ids (one dict
        # pass), gram CONTENT ids grown by rank-doubling (the
        # (n−1)-gram id and the next token id packed into one int64,
        # np.unique(return_inverse) → n-gram ids), per-(doc, gram)
        # counts via one sorted np.unique per n, gram char lengths
        # from the token-length cumsum. Every statistic stays an
        # exact int64 until the same final int/int float64 division
        # (numpy true_divide of int64 is the identical IEEE result),
        # so values are bit-for-bit the Counter path's — pinned by
        # test_gopher_repetition_kernels_agree and every oracle in
        # the family. Measured 2.2 s → 0.62 s single-core on the
        # sf0.1 plant (prototype parity sweep: EQUAL on all 5,000
        # docs). int64 bound: the rank-doubling key is
        # gid·V + tid < ntok² — safe for any Arrow batch (2 GiB
        # string-buffer cap → ≪ 2³¹ tokens). Lines stay a per-doc
        # Counter (a handful of lines per doc; the ladder was the
        # cost, not the lines).
        from collections import Counter

        import numpy as np
        import pandas as pd

        topn = [name for name, _ in rules if name.startswith("top_")]
        dupn = [name for name, _ in rules if name.startswith("dup_") and "gram" in name]
        for pdf in batches:
            ndocs = len(pdf)
            if ndocs == 0:
                yield pd.DataFrame(
                    {c: pd.Series(dtype="object") for c in cols}, columns=cols
                )
                continue
            n_lines_a = np.zeros(ndocs, np.int64)
            d_occ_a = np.zeros(ndocs, np.int64)
            d_chars_a = np.zeros(ndocs, np.int64)
            line_chars_a = np.zeros(ndocs, np.int64)
            tok_lists = []
            for i, page in enumerate(pdf[page_col]):
                page = page or ""
                lines = [
                    ln
                    for ln in (edge_re.sub("", x) for x in page.split("\n"))
                    if ln
                ]
                n_lines_a[i] = len(lines)
                line_chars_a[i] = sum(map(len, lines))
                do = dc = 0
                for k, v in Counter(lines).items():
                    if v >= 2:
                        do += v - 1
                        dc += (v - 1) * len(k)
                d_occ_a[i] = do
                d_chars_a[i] = dc
                tok_lists.append(ws_re.split(page.lower().strip(" ")))
            nt = np.fromiter((len(t) for t in tok_lists), np.int64, ndocs)
            ntok = int(nt.sum())
            idmap: dict[str, int] = {}
            flat_ids = np.fromiter(
                (idmap.setdefault(tok, len(idmap)) for t in tok_lists for tok in t),
                np.int64,
                ntok,
            )
            lens = np.fromiter(
                (len(tok) for t in tok_lists for tok in t), np.int64, ntok
            )
            V = np.int64(len(idmap))
            starts = np.concatenate(([0], np.cumsum(nt)))
            csum = np.concatenate(([0], np.cumsum(lens)))
            doc_of = np.repeat(np.arange(ndocs), nt)
            n_chars_a = np.maximum(csum[starts[1:]] - csum[starts[:-1]] + nt - 1, 1)
            pos_in_doc = np.arange(ntok) - starts[doc_of]
            sigs = {
                "dup_line_frac": d_occ_a / np.maximum(n_lines_a, 1),
                "dup_line_char_frac": d_chars_a / np.maximum(line_chars_a, 1),
            }
            gid = flat_ids
            dockey = np.int64(ntok + 1)
            for n in range(2, 11):
                m = ntok - (n - 1)
                if m <= 0:
                    z = np.zeros(ndocs, np.float64)
                    sigs[f"top_{n}gram_frac" if n <= 4 else f"dup_{n}gram_frac"] = z
                    gid = np.empty(0, np.int64)
                    continue
                _, gid = np.unique(gid[:m] * V + flat_ids[n - 1 :], return_inverse=True)
                vmask = pos_in_doc[:m] + n <= nt[doc_of[:m]]
                vpos = np.flatnonzero(vmask)
                vdoc = doc_of[vpos]
                wlen = csum[vpos + n] - csum[vpos] + (n - 1)
                uk, first, cnt = np.unique(
                    vdoc * dockey + gid[vpos], return_index=True, return_counts=True
                )
                gdoc = uk // dockey
                glen = wlen[first]
                if n <= 4:
                    top = np.zeros(ndocs, np.int64)
                    np.maximum.at(top, gdoc, cnt * pack + np.minimum(glen, pack - 1))
                    sigs[f"top_{n}gram_frac"] = ((top // pack) * (top % pack)) / n_chars_a
                else:
                    dup = np.zeros(ndocs, np.int64)
                    mk = cnt >= 2
                    np.add.at(dup, gdoc[mk], cnt[mk] * glen[mk])
                    sigs[f"dup_{n}gram_frac"] = dup / n_chars_a
            reason = np.full(ndocs, None, dtype=object)
            unset = np.ones(ndocs, bool)
            for name, thr in rules:
                fail = unset & (sigs[name] > thr)
                reason[fail] = name
                unset &= ~fail
            out = {"doc_id": pdf[id_col].to_numpy(), "n_lines": n_lines_a, "n_words": nt}
            for name, _ in rules:
                out[name] = sigs[name]
            for r in ride:
                out[r] = pdf[r].to_numpy()
            out["keep"] = unset
            out["reject_reason"] = reason
            yield pd.DataFrame(out, columns=cols)

    return pages.select(
        F.col(id_col), F.col(page_col), *[F.col(r) for r in ride]
    ).mapInPandas(kern, schema=schema)


def _gopher_stage1(page: Column) -> list[Column]:
    """First projection of the repetition suite: the trimmed
    non-empty line array and the token array, materialized behind
    aliases so stage-2 lambdas reference plain columns (the
    lambda-reevaluation trap). Hidden names are ``_gr_``-prefixed so
    the screen form can ride along arbitrary batch columns."""
    lines_raw = F.transform(
        F.split(page, "\n"), lambda ln: F.regexp_replace(ln, r"^\s+|\s+$", "")
    )
    return [
        F.filter(lines_raw, lambda ln: ln != "").alias("_gr_lines"),
        tokens(page).alias("_gr_t"),
    ]


def _gopher_stage2() -> list[Column]:
    """Second projection: totals + the eleven run-stats folds over
    ``_gr_lines`` / ``_gr_t``."""
    ls = F.col("_gr_lines")
    t = F.col("_gr_t")
    one = F.lit(1).cast("long")
    return [
        F.size(ls).cast("long").alias("_gr_nl"),
        F.size(t).cast("long").alias("_gr_nw"),
        F.greatest(
            F.aggregate(ls, F.lit(0).cast("long"), lambda a, x: a + F.length(x)),
            one,
        ).alias("_gr_lc"),
        F.greatest(F.length(F.array_join(t, " ")).cast("long"), one).alias("_gr_ch"),
        _sorted_run_stats(F.array_sort(ls)).alias("_gr_l"),
        *[
            _sorted_run_stats(F.array_sort(_grams_multiset(t, n))).alias(f"_gr_g{n}")
            for n in range(2, 11)
        ],
    ]


def _gopher_fracs() -> dict[str, Column]:
    """Rule-name → fraction Column over the stage-2 stat columns."""

    def top_frac(n):
        pk = F.col(f"_gr_g{n}")["toppack"]
        covered = (pk.cast("long") / F.lit(_PACK)).cast("long") * (pk % F.lit(_PACK))
        return covered.cast("double") / F.col("_gr_ch")

    def dup_frac(n):
        return F.col(f"_gr_g{n}")["dup_all_chars"].cast("double") / F.col("_gr_ch")

    out = {
        "dup_line_frac": F.col("_gr_l")["dup_occ"].cast("double")
        / F.greatest(F.col("_gr_nl"), F.lit(1).cast("long")),
        "dup_line_char_frac": F.col("_gr_l")["dup_occ_chars"].cast("double")
        / F.col("_gr_lc"),
    }
    for n in (2, 3, 4):
        out[f"top_{n}gram_frac"] = top_frac(n)
    for n in range(5, 11):
        out[f"dup_{n}gram_frac"] = dup_frac(n)
    return out


def gopher_repetition_screen(
    docs: DataFrame, page_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """FILTER form of :func:`gopher_repetition` for pipeline use
    (the curator's pre-screen tier): returns ``docs`` minus the
    Table-A1 repetition rejects, preserving every input column.

    Shape note — why this is a kept-id semi-join and NOT an inline
    ``filter(conjunction)`` over the sql signal projections: a filter
    above those projections gets pushed down by Catalyst
    (PushDownPredicate substitutes aliases level by level with no
    cost guard) until the tokenizer expression lands INSIDE the
    gram-transform lambdas, where higher-order functions re-evaluate
    it per element — measured 157 s for a 500-doc batch vs ~2 s for
    the reporting form. The Arrow kernel's Python eval node is a
    natural pushdown barrier (and the throughput path), so the keep
    filter sits safely on its output; the semi-join back is
    batch-keyed and AQE-broadcast — the classifier screen's shape."""
    sig = gopher_repetition(
        docs.select(F.col(id_col), F.col(page_col)),
        page_col=page_col,
        id_col=id_col,
    )
    kept = sig.filter(F.col("keep")).select(F.col("doc_id").alias(id_col))
    return docs.join(kept, id_col, "semi")


def _winnowed_anchor_occurrences(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    w: int,
    strategy: str = "arrow",
) -> DataFrame:
    """(doc_id, pos, gh, g, k) — the WINNOWING-SELECTED word n-gram
    occurrences of each document (Schleimer et al. 2003 applied at
    token granularity): hash every n-gram string with the portable
    Horner fold (``_FP_BASE``/``_FP_MOD`` — the
    :func:`rolling_fingerprints` hash, DuckDB-reproducible), then
    select, in every window of ``w`` consecutive grams, the RIGHTMOST
    minimal hash — the paper's actual rule (round 12, replacing the
    round-8 trailing-minima deviation whose recall was probabilistic).
    What the per-window rule restores is the paper's GUARANTEE: two
    matching token runs of ≥ n+w−1 tokens contain a full window of w
    identical gram hashes in both copies, that window's rightmost
    minimum sits at the same relative position in each, so the copies
    SHARE an anchor BY CONSTRUCTION — no increasing-hash adversarial
    case (the sequence that defeated trailing minima, commit 797843d)
    exists. Window starts are s ∈ [0, max(G−w, 0)] over the G grams;
    a doc with fewer than w grams winnows its single truncated window
    (= its rightmost global min — the documented short-doc extension
    that keeps every doc with ≥ n tokens anchored; identical short
    docs therefore still collide). Expected density ≈ 2/(w+1)
    (Schleimer §3; the trailing rule's was ≈ 1/w — the guarantee
    costs ~1.8× index rows at w=8).

    Scale shape: ZERO shuffles — selection is a per-row Catalyst
    fold over the materialized hash ARRAY (no window function —
    contrast the char-level ``rolling_fingerprints``): each position
    packs into ``h·2²⁰ + (2²⁰−1−pos)`` so ``array_min`` over a
    w-slice IS the (min hash, rightmost position) lexicographic
    argmin, one slice per window start, ``array_distinct`` collapses
    the adjacent windows that agree; anchors pack into (pos, gh, g)
    structs per row, and only the ~2·len/(w+1) selected structs
    explode. O(G·w) per doc, same as the trailing fold it replaces.

    Catalyst hazard recorded (round 11): the explode MUST be
    ``explode_outer`` + an ``isNotNull`` filter on the GENERATED
    column. A plain ``explode`` lets ``InferFiltersFromGenerate``
    derive ``size(_sel) > 0`` and push it to the scan, substituting
    the whole tokenize → gram → Horner → select chain into one
    monolithic Filter expression whose per-element lambda references
    re-evaluate the upstream array builds PER ELEMENT — measured
    220 s vs 4.5 s at sf0.01 (the predicate-pushdown flavor of the
    lambda-reevaluation trap, same class as the
    ``gopher_repetition_screen`` hazard; the struct pack guards the
    sibling trap of post-explode ``element_at(_g, pos)``).
    ``k`` is the packed (doc_id << 20 | pos) first-occurrence key.

    Two kernels, value-identical (every hash is exact int64 modular
    arithmetic, so the selection is bit-for-bit the same set):

    - ``strategy="arrow"`` (default, round 12 — guide §4.2): one
      Arrow-batched numpy kernel — token Horner hashes computed once
      per DISTINCT token (dict cache), gram hashes combined with the
      same separator step, the per-window rightmost-argmin as w−1
      vectorized shifted minima over the packed keys. Replaces
      O(G·w) interpreted HOF steps per doc (slice + array_min per
      window start, each a CodegenFallback lambda) with array ops —
      measured 3.5 s → see OPTIMIZATION_r12.md on the sf0.1 plant.
    - ``strategy="sql"``: the per-row Catalyst fold (zero Python
      workers), the form the DuckDB oracle mirrors structurally and
      the hazard notes below describe. Equality incl. the unicode /
      whitespace-run / adversarial fixtures is pinned by
      ``test_substr_dedup_stream.test_winnowed_selection_matches_python_reference``
      (runs the default) and ``test_winnowed_kernels_agree``."""
    if strategy == "arrow":
        return _winnowed_anchor_occurrences_arrow(docs, text_col, id_col, n, w)
    if strategy != "sql":
        raise ValueError(f"unknown strategy {strategy!r}")
    pos_lim = _LINE_POS_LIM
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t")
    ).filter(F.size("_t") >= n)
    # Round 12 (optimization, guide §1.2 step 2 — per-task work): the
    # gram hash used to re-fold EVERY CHARACTER of every gram string
    # (O(gram_chars) interpreted lambda steps × ~n-overlapping grams —
    # each character re-hashed n times, through a per-char UTF8String
    # substr, the exact pattern the char-level sibling measured at
    # 14.1 s vs 3.1 s in round 11). Horner is linear over
    # concatenation — H(a‖b) = (H(a)·B^|b| + H(b)) mod M — so hash
    # each TOKEN once (one char fold per token, carrying B^len mod M
    # alongside), then combine n token hashes per gram with the
    # separator step H(a‖' ') = (H(a)·B + 32) mod M. Every
    # intermediate stays < 2³¹·2³¹ < 2⁶² (int64-exact), and the
    # per-char mod distributes, so the gram hashes are IDENTICAL
    # integers to the per-char fold the oracle SQL still runs —
    # hash-parity pins the equivalence at every SF. (tokens() splits
    # on \s+ after trim, so no empty token can alter the separator
    # algebra; the n+separator gram strings in _g are unchanged.)
    gr = base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.size("_t") - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("_t"), i + j + 1) for j in range(n)]
            ),
        ).alias("_g"),
        F.transform(
            F.col("_t"),
            lambda t: F.aggregate(
                F.sequence(F.lit(1), F.length(t)),
                F.struct(
                    F.lit(0).cast("long").alias("h"),
                    F.lit(1).cast("long").alias("p"),
                ),
                lambda acc, j: F.struct(
                    (
                        (acc["h"] * _FP_BASE + F.ascii(t.substr(j, F.lit(1))))
                        % _FP_MOD
                    ).alias("h"),
                    ((acc["p"] * _FP_BASE) % _FP_MOD).alias("p"),
                ),
            ),
        ).alias("_th"),
    )

    def _gram_hash(i: F.Column) -> F.Column:
        h = F.element_at(F.col("_th"), i + 1)["h"]
        for j in range(1, n):
            ej = F.element_at(F.col("_th"), i + j + 1)
            h = ((h * _FP_BASE + F.lit(32)) % _FP_MOD * ej["p"] + ej["h"]) % _FP_MOD
        return h

    hs = gr.select(
        "doc_id",
        "_g",
        F.transform(
            F.sequence(F.lit(0), F.size("_th") - n),
            _gram_hash,
        ).alias("_h"),
    )
    # anchors packed into structs BEFORE the explode (a post-explode
    # element_at(_g, pos) would re-evaluate the array builds PER
    # ANCHOR); the explode itself must be the outer form — see the
    # InferFiltersFromGenerate hazard in the docstring. _kk is built
    # in its OWN projection and referenced twice below, so
    # CollapseProject leaves it materialized (the same
    # multiple-reference guard that keeps _h/_g from inlining).
    keyed = hs.select(
        "doc_id",
        "_g",
        "_h",
        F.transform(
            F.sequence(F.lit(0), F.size("_h") - 1),
            lambda i: F.element_at(F.col("_h"), i + 1) * pos_lim
            + (F.lit(pos_lim - 1) - i),
        ).alias("_kk"),
    )
    sel = keyed.select(
        "doc_id",
        F.transform(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size("_kk") - w, F.lit(0))
                    ),
                    lambda s: F.lit(pos_lim - 1)
                    - F.array_min(F.slice(F.col("_kk"), s + 1, w)) % pos_lim,
                )
            ),
            lambda p: F.struct(
                p.cast("int").alias("pos"),
                F.element_at(F.col("_h"), (p + 1).cast("int")).alias("gh"),
                F.element_at(F.col("_g"), (p + 1).cast("int")).alias("g"),
            ),
        ).alias("_sel"),
    )
    return (
        sel.select("doc_id", F.explode_outer("_sel").alias("a"))
        .filter(F.col("a").isNotNull())
        .select(
            "doc_id",
            F.col("a.pos").alias("pos"),
            F.col("a.gh").alias("gh"),
            F.col("a.g").alias("g"),
            (F.col("doc_id") * pos_lim + F.col("a.pos")).alias("k"),
        )
    )


def _winnowed_anchor_occurrences_arrow(
    docs: DataFrame, text_col: str, id_col: str, n: int, w: int
) -> DataFrame:
    """Arrow kernel of :func:`_winnowed_anchor_occurrences` —
    identical (doc_id, pos, gh, g, k) rows (set-equal; row order is
    partition order, irrelevant to every consumer: the keep-first
    aggregate, the join probe, the density rollup and the stored
    index are all order-free).

    Tokenizer parity is replicated EXACTLY as in
    :func:`_gopher_repetition_arrow`: ``tokens()`` is
    split(trim(lower(c)), "\\s+") — Python ``lower()`` →
    ``strip(' ')`` (Spark ``trim`` removes U+0020 only) → split on
    the Java ``\\s`` class ``[ \\t\\n\\x0b\\f\\r]+`` keeping
    leading/trailing empties. Hash parity: token Horner hashes and
    the B^len carries stay < 2³¹, every combine intermediate < 2⁶²
    (int64-exact, same algebra as the sql kernel's per-token
    factorization); ``ord`` == Spark ``ascii`` (first codepoint) and
    Python slicing == UTF8String substr (both codepoint-indexed).
    The per-window rightmost minimum is w−1 shifted ``minimum``
    passes over the packed ``h·2²⁰ + (2²⁰−1−pos)`` keys, masked at
    doc gram-range ends — which also yields the short-doc truncated
    window (s = 0, min over all G < w grams) for free."""
    import re as _re

    dtypes = dict(docs.dtypes)
    id_type = dtypes[id_col]
    schema = f"doc_id {id_type}, pos int, gh long, g string, k long"
    ws_re = _re.compile("[ \\t\\n\\x0b\\f\\r]+")
    B, M, pos_lim = _FP_BASE, _FP_MOD, _LINE_POS_LIM

    def kern(batches):
        import numpy as np
        import pandas as pd

        i64max = np.iinfo(np.int64).max
        cache: dict[str, tuple[int, int]] = {}

        def tok_hp(s):
            v = cache.get(s)
            if v is None:
                h = 0
                p = 1
                for ch in s:
                    h = (h * B + ord(ch)) % M
                    p = (p * B) % M
                v = (h, p)
                cache[s] = v
            return v

        cols = ["doc_id", "pos", "gh", "g", "k"]
        for pdf in batches:
            tok_lists = []
            keep_idx = []
            for i, tx in enumerate(pdf["_x"]):
                t = ws_re.split((tx or "").lower().strip(" "))
                if len(t) >= n:
                    tok_lists.append(t)
                    keep_idx.append(i)
            if not tok_lists:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].iloc[:0],
                        "pos": pd.Series(dtype="int32"),
                        "gh": pd.Series(dtype="int64"),
                        "g": pd.Series(dtype="object"),
                        "k": pd.Series(dtype="int64"),
                    },
                    columns=cols,
                )
                continue
            doc_id_vals = pdf["doc_id"].to_numpy()[keep_idx]
            nt = np.fromiter((len(t) for t in tok_lists), np.int64, len(tok_lists))
            ndocs = len(tok_lists)
            hp = np.array(
                [tok_hp(tok) for t in tok_lists for tok in t], dtype=np.int64
            )
            h, p = hp[:, 0], hp[:, 1]
            starts = np.concatenate(([0], np.cumsum(nt)))[:-1]
            G = nt - n + 1  # >= 1 by the len >= n filter
            gstarts = np.concatenate(([0], np.cumsum(G)))[:-1]
            ngrams = int(G.sum())
            gdoc = np.repeat(np.arange(ndocs), G)
            gpos = np.arange(ngrams) - gstarts[gdoc]
            gtok = starts[gdoc] + gpos
            gh = h[gtok].copy()
            for j in range(1, n):
                tj = gtok + j
                gh = ((gh * B + 32) % M * p[tj] + h[tj]) % M
            kk = gh * pos_lim + (pos_lim - 1 - gpos)
            mk = kk.copy()
            Gg = G[gdoc]
            for d in range(1, min(w, ngrams)):
                shifted = np.empty_like(kk)
                shifted[: ngrams - d] = kk[d:]
                shifted[ngrams - d :] = i64max
                np.minimum(
                    mk, np.where(gpos + d < Gg, shifted, i64max), out=mk
                )
            is_start = gpos <= np.maximum(G - w, 0)[gdoc]
            key = gdoc[is_start] * pos_lim + (
                pos_lim - 1 - (mk[is_start] % pos_lim)
            )
            uk = np.unique(key)
            udoc = uk // pos_lim
            upos = uk % pos_lim
            ghsel = gh[gstarts[udoc] + upos]
            dids = doc_id_vals[udoc]
            grams = [
                " ".join(tok_lists[di][pp : pp + n])
                for di, pp in zip(udoc.tolist(), upos.tolist())
            ]
            yield pd.DataFrame(
                {
                    "doc_id": dids,
                    "pos": upos.astype(np.int32),
                    "gh": ghsel,
                    "g": grams,
                    "k": dids.astype(np.int64) * pos_lim + upos,
                },
                columns=cols,
            )

    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_x")
    ).mapInPandas(kern, schema=schema)


def excise_winnowed_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    w: int = 8,
) -> DataFrame:
    """Keep-first substring dedup at WINNOWED-ANCHOR grain (round 11
    — the index-friendly rung of the excision family): the dedup
    unit is the winnowing-selected n-gram occurrence
    (:func:`_winnowed_anchor_occurrences`), and of all selected
    occurrences of a gram STRING across the corpus the globally
    first (by (doc_id, pos)) keeps its span while every later one's
    n-token span is excised — Lee et al. 2021 §4.1's keep-first
    policy applied to the 1/w winnowing sample instead of every
    gram. What the sample buys: the claimed-anchor INDEX a crawl-
    cadence deployment must store is ~2·len/(w+1) rows per doc
    instead of one per token (`streaming/substr_dedup.py` maintains
    exactly that), with the paper's GUARANTEED recall floor (round
    12 — per-window rightmost minima replaced the round-8 trailing
    rule whose recall was probabilistic): matching runs of ≥ n+w−1
    tokens share an anchor BY CONSTRUCTION, so every duplication of
    at least that length is caught; only duplications shorter than
    n+w−1 tokens can slip the 1-in-~w/2 sample.
    ``excise_keepfirst_spans`` is the every-gram sibling that also
    catches those (exact recall down to n tokens, at one index row
    per token). Anchors are claimed by STRING (the 31-bit portable
    hash only drives selection and join keying — a collision can
    never excise a non-duplicate span).

    Output: (doc_id, n_tokens, clean_text, n_tokens_kept,
    n_tokens_dropped) — the excision-family contract. The anchor
    table feeds both the first-occurrence aggregate and the join
    probe, so it persists LAZILY (~2·len/(w+1) narrow rows per doc; the
    handle rides ``_pwp_cached``) — without it the whole
    tokenize → gram → Horner → select chain executes once per
    consumer (measured 5.7 → 3.1 s at sf0.1, and at corpus scale a
    second full scan + hash pass)."""
    occ = _winnowed_anchor_occurrences(docs, text_col, id_col, n, w).persist()
    firsts = occ.groupBy("gh", "g").agg(F.min("k").alias("fk"))
    covered = (
        occ.join(firsts, ["gh", "g"])
        .filter(F.col("k") != F.col("fk"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("_cov"))
    )
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    kept = F.filter(
        "_t",
        lambda x, i: ~F.array_contains(
            F.coalesce(F.col("_cov"), F.array().cast("array<int>")), i
        ),
    )
    out = toks.join(covered, "doc_id", "left").select(
        "doc_id",
        F.size("_t").cast("bigint").alias("n_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).cast("bigint").alias("n_tokens_kept"),
        (F.size("_t") - F.size(kept)).cast("bigint").alias("n_tokens_dropped"),
    )
    out._pwp_cached = [occ]
    return out


def fineweb_signal_stack(
    docs: DataFrame, page_col: str = "page", id_col: str = "doc_id"
) -> DataFrame:
    """The FineWeb/RefinedWeb per-document signal stack (Penedo et
    al. 2024's pipeline order, public) over ONE scan: C4 line
    cleaning (Raffel 2020 §2.2) → Gopher quality rules (Rae 2021) →
    Gopher repetition rules (Rae 2021 §A1.1), each a per-row verdict,
    plus the md5 of the C4-CLEANED text (the recipe's dedup key —
    filter-then-dedup hashes what survives line cleaning, not the
    raw page).

    Output: (doc_id, c4_kept, quality_kept, rep_kept, h, pass) with
    ``pass`` = the three-verdict conjunction. Canonical selection is
    deliberately NOT here — it is the one cross-document step, and
    its aggregation scope differs by caller: the batch recipe
    (``pipeline_fineweb_recipe``) min-folds over the corpus, the
    curator's maintained tier min-folds over everything ingested so
    far. Sharing this stack is what makes the streamed funnel
    hash-equal to the batch recipe on the same prefix.

    Plan: C4 and quality are codegen projections; repetition rides
    the Arrow kernel with (c4_kept, quality_kept, h) passed through
    — one scan, one Python stage, ZERO joins or exchanges."""
    # cleaned coalesces to '' so h = md5('') for NULL-page ingress —
    # md5(NULL) is NULL and the funnel's inner join on h would
    # silently drop the doc, breaking the "every ingress doc" funnel
    # contract (round-12 advice fix; the DuckDB oracle's c4v CTE has
    # always coalesced, so this also aligns the NULL-page edge)
    c4 = c4_line_filters(docs, page_col=page_col, id_col=id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col("page_kept").alias("c4_kept"),
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        tokens(F.coalesce(F.col("cleaned"), F.lit(""))).alias("_qt"),
    )
    staged = c4.select(
        "doc_id",
        "c4_kept",
        "cleaned",
        (_quality_failed(_quality_signals(F.col("_qt"))) == "").alias(
            "quality_kept"
        ),
        F.md5("cleaned").alias("h"),
    )
    return gopher_repetition(
        staged, page_col="cleaned", ride=("c4_kept", "quality_kept", "h")
    ).select(
        "doc_id",
        "c4_kept",
        "quality_kept",
        F.col("keep").alias("rep_kept"),
        "h",
        (F.col("c4_kept") & F.col("quality_kept") & F.col("keep")).alias("pass"),
    )


def fineweb_full_stack(
    docs: DataFrame,
    page_col: str = "page",
    url_col: str = "url",
    id_col: str = "doc_id",
    blocked_domains: tuple[str, ...] = (),
    blocked_tlds: tuple[str, ...] = ("xyz", "click", "top"),
    max_path_depth: int = 8,
    target_lang: str = "en",
) -> DataFrame:
    """The FULL published FineWeb pipeline per document (round 12 —
    Penedo et al. 2024 runs URL filtering and fastText language ID
    around the C4/Gopher core, then anonymizes PII on the output;
    the engine had every stage, this composes them) over ONE scan:

    URL blocklist verdict (``urlops.url_screen`` — pure codegen over
    the url column) → trigram language ID on the raw page
    (``lang_id``, Arrow-batched; ``lang_kept`` = predicted ==
    ``target_lang``, the recipe's keep-English rule) → C4 line
    cleaning → Gopher quality → PII count + sequential redaction of
    the CLEANED text (codegen regexes — FineWeb anonymizes email/IP
    on what ships, so redaction runs on the post-C4 text) → Gopher
    repetition via the Arrow kernel.

    Output: (doc_id, url_kept, lang_pred, lang_kept, c4_kept,
    quality_kept, rep_kept, h, n_pii, redacted, pass) with ``h`` =
    md5 of the CLEANED text (the dedup key — filter-then-dedup) and
    ``pass`` the five-verdict conjunction. Canonical selection stays
    with the caller (the ``fineweb_signal_stack`` contract: batch
    min-folds the corpus, a maintained tier min-folds history).

    Plan: every rung is per-row, so the whole pipeline STACKS on one
    linear projection chain over the page scan — URL/C4/quality/PII
    as codegen projections, language ID and repetition as the two
    Arrow stages, verdicts riding ``c4_line_filters``' and
    ``gopher_repetition``'s ``ride`` hooks — ZERO joins, ZERO
    shuffles, no doc_id join-back. The deliberate cost: ``redacted``
    (text-sized) rides through the repetition kernel's Arrow
    transfer, ~2× text bytes through one Python stage — cheaper than
    either a second corpus scan or a corpus-wide doc_id shuffle to
    re-attach it. Filter-free like the recipe (the
    PushDownPredicate lambda-reevaluation hazard)."""
    from .pii import PII_PATTERNS, pii_count, redact_pii
    from .urlops import url_screen

    scr = url_screen(
        docs,
        url_col=url_col,
        blocked_domains=blocked_domains,
        blocked_tlds=blocked_tlds,
        max_path_depth=max_path_depth,
    )
    base = scr.select(
        F.col(id_col).alias("doc_id"),
        F.col(page_col),
        F.col("keep").alias("url_kept"),
        lang_id(F.col(page_col)).alias("lang_pred"),
    )
    c4 = c4_line_filters(
        base, page_col=page_col, id_col="doc_id",
        ride=("url_kept", "lang_pred"),
    ).select(
        "doc_id",
        "url_kept",
        "lang_pred",
        (F.col("lang_pred") == target_lang).alias("lang_kept"),
        F.col("page_kept").alias("c4_kept"),
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        tokens(F.coalesce(F.col("cleaned"), F.lit(""))).alias("_qt"),
    )
    n_pii = None
    for pat in PII_PATTERNS.values():
        c = pii_count(F.col("cleaned"), pat)
        n_pii = c if n_pii is None else n_pii + c
    staged = c4.select(
        "doc_id",
        "url_kept",
        "lang_pred",
        "lang_kept",
        "c4_kept",
        "cleaned",
        (_quality_failed(_quality_signals(F.col("_qt"))) == "").alias(
            "quality_kept"
        ),
        F.md5("cleaned").alias("h"),
        n_pii.cast("bigint").alias("n_pii"),
        redact_pii(F.col("cleaned")).alias("redacted"),
    )
    rid = (
        "url_kept", "lang_pred", "lang_kept", "c4_kept", "quality_kept",
        "h", "n_pii", "redacted",
    )
    return gopher_repetition(staged, page_col="cleaned", ride=rid).select(
        "doc_id",
        "url_kept",
        "lang_pred",
        "lang_kept",
        "c4_kept",
        "quality_kept",
        F.col("keep").alias("rep_kept"),
        "h",
        "n_pii",
        "redacted",
        (
            F.col("url_kept")
            & F.col("lang_kept")
            & F.col("c4_kept")
            & F.col("quality_kept")
            & F.col("keep")
        ).alias("pass"),
    )


def fineweb_datacard_rollup(fun: DataFrame) -> DataFrame:
    """(ord, stage, n_docs, rate) — the published-funnel data card
    over a full-pipeline funnel table (columns url_kept / lang_kept /
    c4_kept / quality_kept / rep_kept / n_pii / final_keep):
    cumulative survivor counts through the pipeline order + the
    PII-redacted keeper count, rates against ingress. Shared by the
    batch ``audit_fineweb_full_datacard`` entry and the curator's
    ``fineweb_datacard()`` so the two rollups cannot drift. ONE
    map-side-combinable aggregate of eight conditional sums — no
    per-stage rescans — unpivoted with ``stack``; the trailing
    window runs over the 8-row result only."""
    from pyspark.sql import Window

    u, lg, c4, q, rp = (
        F.col(n)
        for n in ("url_kept", "lang_kept", "c4_kept", "quality_kept",
                  "rep_kept")
    )

    def c(*conds) -> Column:
        x = conds[0]
        for cc in conds[1:]:
            x = x & cc
        return F.sum(x.cast("long"))

    agg = fun.agg(
        F.count(F.lit(1)).alias("n1"),
        c(u).alias("n2"),
        c(u, lg).alias("n3"),
        c(u, lg, c4).alias("n4"),
        c(u, lg, c4, q).alias("n5"),
        c(u, lg, c4, q, rp).alias("n6"),
        c(F.col("final_keep")).alias("n7"),
        c(F.col("final_keep"), F.col("n_pii") > 0).alias("n8"),
    )
    stages = ["ingress", "url", "language", "c4", "quality",
              "repetition", "dedup", "pii_redacted"]
    stack_expr = "stack(8, " + ", ".join(
        f"{i + 1}, '{s}', n{i + 1}" for i, s in enumerate(stages)
    ) + ") as (ord, stage, n_docs)"
    return agg.selectExpr(stack_expr).select(
        F.col("ord").cast("int").alias("ord"),
        "stage",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(
            F.col("n_docs")
            / F.first("n_docs").over(
                Window.orderBy("ord").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
            6,
        ).alias("rate"),
    )


def excise_keepfirst_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Exact-substring deduplication with Lee et al. 2021's ACTUAL
    policy ("Deduplicating Training Data Makes Language Models
    Better" §4.1 ExactSubstr, public): of all occurrences of a
    duplicated word n-gram across the corpus — including repeats
    WITHIN one document — the globally FIRST occurrence (ordered by
    (doc_id, token position)) stays in the training text, and every
    later occurrence's n-token span is excised. One copy of every
    substring survives; :func:`excise_duplicate_spans` is the
    stricter drop-ALL-copies memorization guard, this is the
    corpus-mass-preserving dedup the paper trains on. The paper's
    operative unit is ~50-token spans; ``n`` parameterizes that (the
    fixture queries use a small n so the policy fires on short docs).

    Output: (doc_id, n_tokens, clean_text, n_tokens_kept,
    n_tokens_dropped) — same contract as the sibling excisions.

    Plan: positional gram explode; the first-occurrence table is a
    map-side-combinable ``min`` of the packed (doc_id << 20 | pos)
    key per gram (an aggregate, NOT a window — a hot gram's
    occurrences combine in the map stage instead of converging on
    one window partition); one equi-join back on the xxhash64 gram
    key marks later occurrences; covered positions distinct + one
    doc-keyed group-by; the rewrite is the positional array filter
    in codegen. Corpus-scale exchanges: the gram aggregate and the
    gram join (AQE skew-split handles power-law grams), both keyed
    on the 8-byte hash, never the string.

    Hash-collision contract: aggregation and join KEY on the 8-byte
    xxhash64 (shuffle width), but every marked occurrence is
    VERIFIED against the first occurrence's gram string
    (``min_by(g, k)`` rides the aggregate; the excise condition
    requires string equality). A 2^-64-per-pair collision therefore
    can only leave a colliding gram's later copies UN-excised (its
    packed first key lost the min to the other gram) — it can never
    excise non-duplicate text. At ~10^10+ distinct grams the
    conservative miss is the right failure mode for training-data
    dedup; exact-under-collision behavior would need string keys and
    their shuffle width."""
    pos_lim = _LINE_POS_LIM  # 1 << 20 tokens per doc, the line_dedup bound
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_t") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_t"), i + j + 1) for j in range(n)]
        ),
    )
    # positional gram table materialized at ONE gh exchange (round 13,
    # guide §2.4 — the duplicate_spans/line_dedup pattern): the
    # first-occurrence aggregate reuses the partitioning outright and
    # the join probe reuses the exchange at runtime; without it BOTH
    # consumers re-run tokenize + n-wide gram concat from the scan.
    occ = (
        toks.filter(F.size("_t") >= n)
        .select("doc_id", F.posexplode(grams).alias("pos", "g"))
        .select(
            "doc_id",
            "pos",
            F.xxhash64("g").alias("gh"),
            "g",
            (F.col("doc_id") * pos_lim + F.col("pos")).alias("k"),
        )
        .repartition("gh")
    )
    firsts = occ.groupBy("gh").agg(
        F.min("k").alias("fk"), F.min_by("g", "k").alias("fg")
    )
    covered = (
        occ.join(firsts, "gh")
        .filter((F.col("k") != F.col("fk")) & (F.col("g") == F.col("fg")))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("_cov"))
    )
    kept = F.filter(
        "_t",
        lambda x, i: ~F.array_contains(
            F.coalesce(F.col("_cov"), F.array().cast("array<int>")), i
        ),
    )
    return (
        toks.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_t").cast("bigint").alias("n_tokens"),
            F.array_join(kept, " ").alias("clean_text"),
            F.size(kept).cast("bigint").alias("n_tokens_kept"),
            (F.size("_t") - F.size(kept)).cast("bigint").alias("n_tokens_dropped"),
        )
    )
