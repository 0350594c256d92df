"""Linear quality classifier for corpus filtering — train a logistic
regression on cheap surface features, score every document, filter by
threshold. This is the classic LLM-curation step (the GPT-3 / CCNet
"quality classifier": score web documents against a high-quality seed
corpus and keep the top slice — Brown et al. 2020 §2.2, Wenzek et al.
2019; both public), expressed Spark-first:

- **Features** are a pure codegen PROJECTION over the scan (token
  count, mean token length, stopword/punctuation/digit ratios — the
  same engine/oracle-proven fragments as ``text_stats``): zero
  shuffles, zero Python.
- **Training** is full-batch gradient descent where each iteration is
  ONE map-side-combinable aggregate producing D+1 doubles — the
  K·D-bounded-exchange shape of ``clustering.kmeans_fit``. The driver
  holds only the weight vector. At 100 TB each iteration streams the
  feature projection once; nothing corpus-sized ever shuffles.
- **Scoring** is a literal-weight projection (zero shuffles), so the
  trained filter composes with any downstream query plan.

Determinism protocol (the kmeans one): every gradient component is
rounded to ``grad_round`` decimals before it touches the weights and
weights stay on that grid, so float summation-order ulps (and the
~1-ulp libm ``exp`` differences between engines) cannot compound
across iterations; final scores are rounded to ``score_round`` for
rank/threshold stability. The whole fit unrolls into SQL CTEs under
this protocol, which is what gives the declared query a DuckDB hash
oracle.

Reference parity note: the reference repo has no ML surface — this
operator exists for the 100 TB training-data-pipeline mandate, not
reference parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..streaming.batch_dirs import write_json_atomic
from .textops import STOPWORDS, tokens

# feature names in weight order; w[0] is the bias
FEATURES = ["log_tokens", "mean_tok_len", "stop_ratio", "punct_ratio", "digit_ratio"]


def _ratio(num: Column, den: Column) -> Column:
    return num.cast("double") / den


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label: Column | None = None,
    round_to: int = 6,
) -> DataFrame:
    """(doc_id[, y], f1..f5) — surface quality features as one
    whole-stage-codegen projection (no shuffle, no Python). Rounded to
    ``round_to`` so both engines train on identical inputs. Documents
    tokenize to ≥1 token by construction (split of '' is ['']), so the
    ratios are never null."""
    t = tokens(text_col)
    text = F.col(text_col)
    n_tok = F.size(t)
    cols = [
        F.col(id_col).alias("doc_id"),
        F.round(F.log(F.lit(1.0) + n_tok), round_to).alias("log_tokens"),
        F.round(
            _ratio(F.aggregate(F.transform(t, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x), n_tok),
            round_to,
        ).alias("mean_tok_len"),
        F.round(
            _ratio(F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))), n_tok), round_to
        ).alias("stop_ratio"),
        F.round(
            _ratio(
                F.length(F.regexp_replace(text, r"[^.,!?;:]", "")), F.length(text)
            ),
            round_to,
        ).alias("punct_ratio"),
        F.round(
            _ratio(F.length(F.regexp_replace(text, r"[^0-9]", "")), F.length(text)),
            round_to,
        ).alias("digit_ratio"),
    ]
    if label is not None:
        cols.insert(1, label.cast("double").alias("y"))
    return docs.select(*cols)


def feature_stats(
    feats: DataFrame, stat_round: int = 9
) -> dict[str, tuple[float, float]]:
    """{feature: (mean, stddev)} from ONE D-wide aggregate — the
    driver holds 2·D floats (bounded contract). Persist these with
    the weights: a batch scored later must be standardized with the
    TRAINING corpus's stats, not its own (its own stats shift with
    the batch mix and silently move the decision boundary)."""
    row = feats.agg(
        *[F.round(F.avg(name), stat_round).alias(f"m_{name}") for name in FEATURES],
        *[
            F.round(F.stddev_samp(name), stat_round).alias(f"s_{name}")
            for name in FEATURES
        ],
    ).collect()[0]
    # avg is NULL on an empty frame and stddev_samp is NULL on a 0/1-row
    # frame — fail loudly on the former (nothing sensible to fit) and
    # fall back to unit variance on the latter, instead of the opaque
    # float(None) TypeError a degenerate seed corpus used to raise
    if any(row[f"m_{name}"] is None for name in FEATURES):
        raise ValueError(
            "feature_stats: empty training frame (column means are NULL) — "
            "the seed corpus must contain at least one document"
        )
    return {
        name: (
            float(row[f"m_{name}"]),
            float(row[f"s_{name}"]) if row[f"s_{name}"] else 1.0,
        )
        for name in FEATURES
    }


def standardize(
    feats: DataFrame,
    stats: dict[str, tuple[float, float]] | None = None,
    stat_round: int = 9,
    z_round: int = 6,
) -> DataFrame:
    """Z-score the feature columns — raw surface features live on
    wildly different scales (mean token length ~5, ratios ~0.05), and
    unnormalized full-batch GD oscillates instead of converging
    (measured: accuracy stuck at the majority class without this).
    ``stats`` defaults to :func:`feature_stats` of ``feats`` itself
    (training); pass the TRAINING stats when standardizing a new
    batch for scoring. The z-scores are a literal projection (zero
    shuffles). Zero-variance features divide by 1 (z = 0: the feature
    carries nothing). Stats are rounded to ``stat_round`` and
    z-scores to ``z_round`` so both engines train on identical
    grids."""
    if stats is None:
        stats = feature_stats(feats, stat_round)
    keep = [c for c in feats.columns if c not in FEATURES]
    z_cols = []
    for name in FEATURES:
        mu, sd = stats[name]
        z_cols.append(
            F.round((F.col(name) - F.lit(mu)) / F.lit(sd or 1.0), z_round).alias(name)
        )
    return feats.select(*keep, *z_cols)


def save_model(
    path: str, weights: list[float], stats: dict[str, tuple[float, float]]
) -> None:
    """Persist the fitted filter (weights + TRAINING standardization
    stats — both required to score a future batch) as a JSON sidecar,
    committed with the same write-temp + fsync + ``os.replace`` flip
    as every manifest in this engine: readers see the old model or
    the new one, never a torn file."""
    write_json_atomic(path, {"features": FEATURES, "weights": weights, "stats": stats})


def load_model(path: str) -> tuple[list[float], dict[str, tuple[float, float]]]:
    """(weights, stats) from :func:`save_model`; validates the feature
    list so a model trained under an older feature set fails loudly
    instead of silently mis-scoring."""
    import json

    with open(path) as f:
        m = json.load(f)
    if m.get("features") != FEATURES:
        raise ValueError(
            f"model at {path} was trained on features {m.get('features')}; "
            f"this build expects {FEATURES}"
        )
    return list(m["weights"]), {k: tuple(v) for k, v in m["stats"].items()}


def _margin(weights: list[float]) -> Column:
    m = F.lit(float(weights[0]))
    for w, name in zip(weights[1:], FEATURES):
        m = m + F.lit(float(w)) * F.col(name)
    return m


def logreg_fit(
    feats: DataFrame,
    iters: int = 3,
    lr: float = 2.0,
    grad_round: int = 9,
) -> list[float]:
    """Full-batch logistic-regression GD on a labeled feature frame
    (needs the ``y`` column of :func:`quality_features`). Returns the
    weight vector [bias, w_1..w_D] — D+1 driver floats, the documented
    bounded-driver-state contract (same as kmeans' K·D centroids).

    Each iteration runs ONE aggregate: D+1 ``avg`` columns, partially
    aggregated map-side, so the exchange carries D+1 doubles per
    partition regardless of corpus size. Gradients and weights are
    rounded to ``grad_round`` decimals per step (see module
    docstring)."""
    w = [0.0] * (1 + len(FEATURES))
    for _ in range(iters):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(w)))
        err = p - F.col("y")
        row = feats.agg(
            F.round(F.avg(err), grad_round).alias("g0"),
            *[
                F.round(F.avg(err * F.col(name)), grad_round).alias(f"g{j+1}")
                for j, name in enumerate(FEATURES)
            ],
        ).collect()[0]
        w = [round(w[j] - lr * row[f"g{j}"], grad_round) for j in range(len(w))]
    return w


def logreg_score(
    feats: DataFrame, weights: list[float], score_round: int = 6
) -> DataFrame:
    """Append the classifier probability as a literal-weight codegen
    projection — zero shuffles at any corpus size."""
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin(weights)))
    return feats.withColumn("score", F.round(p, score_round))


def quality_classifier_scores(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 10,
    lr: float = 2.0,
    keep_threshold: float = 0.5,
) -> DataFrame:
    """End-to-end curation filter: featurize → standardize → fit on
    the (weakly) labeled corpus → score every document → keep column.
    In the crawl loop the fit runs on the labeled SEED frame and the
    returned weights score each incoming batch via
    :func:`logreg_score`; the declared query trains and scores on the
    same corpus so the oracle can replay it. Corpus passes: 1 (stats)
    + ``iters`` (one aggregate each) + 1 (scoring) — every pass is a
    projection + narrow agg, nothing corpus-sized shuffles."""
    # persist the RAW feature frame BEFORE the stats collect (round
    # 13, guide §2.4/§5): feature_stats is the first action and its
    # aggregate materializes the cache, so the corpus is scanned and
    # tokenized exactly ONCE per call — the round-12 form persisted
    # the z-scored frame instead, which put the stats pass on the
    # unpersisted tree and re-tokenized the corpus a second time when
    # the first GD aggregate filled the cache. The z-scores stay a
    # literal projection over the cached raw columns (identical
    # values; D+1 rounded arithmetic ops per row per pass, nothing
    # corpus-scale recomputes).
    raw = quality_features(docs, text_col, id_col, label=label).persist()
    feats = standardize(raw)
    w = logreg_fit(feats, iters=iters, lr=lr)
    scored = logreg_score(feats, w)
    from .dedup import _register_cached

    return _register_cached(
        scored.select(
            "doc_id",
            F.col("y").cast("bigint").alias("label"),
            "score",
            (F.col("score") >= F.lit(keep_threshold)).alias("keep"),
        ),
        raw,
    )
