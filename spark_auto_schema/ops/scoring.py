"""Model-based document scoring: the Arrow batch-inference plumbing a
training-data pipeline uses to run a quality classifier over a corpus.

Production pipelines filter pretraining data with learned classifiers
(fastText-style quality models, toxicity scorers, educational-value
models).  The model itself is environment-specific; the *pipeline shape*
is universal and is what this module implements for real:

1. Featurize JVM-side — cheap per-document signals (length, token count,
   stopword ratio, alpha ratio) computed with built-in expressions inside
   whole-stage codegen, never in Python.
2. Score in Arrow batches — a ``mapInPandas`` stage receives the feature
   columns as pandas series (thousands of rows per batch, one Python
   round-trip per BATCH not per row) and applies the model vectorized
   with numpy.  The shipped model is a deterministic logistic layer
   (``sigmoid(w . x + b)``) standing in for any real classifier: swap
   ``_logistic_batch`` for an ONNX/sklearn ``predict_proba`` call and
   nothing else changes.
3. Threshold/keep decisions stay declarative — downstream filters compare
   the score column; Catalyst still prunes and pushes everything around
   the scoring stage.

Because the stand-in model is a closed-form formula, the driver's DuckDB
oracle replays it exactly (same features, same weights, same sigmoid) and
verifies the whole Arrow path value-for-value — the honest way to test
inference plumbing in an environment with no model runtime.

Scale notes (100 TB): scoring is embarrassingly parallel — a single map
stage, no shuffle, no state, no driver round-trips after the broadcast of
the (tiny) weight vector.  Batch size follows
``spark.sql.execution.arrow.maxRecordsPerBatch`` (default 10k); executor
memory per task is one Arrow batch of feature columns, independent of
corpus size.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._snap import snap
from ._tokens import _mean_word_len, _words
from .analytics import _equi_width_bin

# Stopword list shared with ops.text quality scoring: a small closed set
# keeps the ratio deterministic and cheap (broadcast as a literal array).
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# Deterministic stand-in weights: (intercept, n_tokens, mean_word_len,
# stopword_ratio, alpha_ratio).  Chosen so scores spread over (0, 1) on
# word-soup corpora; a real deployment loads these from a model artifact.
_WEIGHTS = {
    "bias": -1.0,
    "log_tokens": 0.35,
    "mean_word_len": 0.12,
    "stopword_ratio": 1.8,
    "alpha_ratio": 0.9,
}


def featurize(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """JVM-side feature projection: (id, log_tokens, mean_word_len,
    stopword_ratio, alpha_ratio) over the :func:`._tokens._words`.
    Narrow, shuffle-free, codegen-friendly — the features a lightweight
    quality classifier consumes.  A ratio over zero words or characters
    is NULL, so a NULL, empty or blank text has a NULL
    :func:`classifier_score`."""
    t = F.col(text_col)
    words = _words(t)
    n_tokens = F.size(words)
    n_stop = F.size(
        F.filter(words, lambda w: F.lower(w).isin(*_STOPWORDS))
    )
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    return df.select(
        F.col(id_col),
        F.log(n_tokens + F.lit(1.0)).alias("log_tokens"),
        _mean_word_len(t).alias("mean_word_len"),
        F.try_divide(n_stop, n_tokens).alias("stopword_ratio"),
        F.try_divide(n_alpha, F.length(t)).alias("alpha_ratio"),
    )


def _logistic_batch(pdf: pd.DataFrame) -> pd.Series:
    """The model: a vectorized logistic layer over the feature frame.
    Swap this for any ``predict_proba``-shaped callable."""
    import numpy as np

    z = (
        _WEIGHTS["bias"]
        + _WEIGHTS["log_tokens"] * pdf["log_tokens"]
        + _WEIGHTS["mean_word_len"] * pdf["mean_word_len"]
        + _WEIGHTS["stopword_ratio"] * pdf["stopword_ratio"]
        + _WEIGHTS["alpha_ratio"] * pdf["alpha_ratio"]
    )
    return 1.0 / (1.0 + np.exp(-z))


def classifier_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Score every document with the quality classifier via Arrow batch
    inference: (id, score) with score rounded to 4 decimals (rounding makes
    the float bit-stable across numpy/SQL replay).

    The ``mapInPandas`` stage is the industry-standard batch-inference
    shape: model state loads once per Python worker (here: nothing to
    load), each Arrow batch is scored vectorized, and only (id, score)
    crosses back — document text never round-trips through Python.
    """
    feats = featurize(df, text_col, id_col)

    def score_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # model initialization would happen here, once per worker
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "score": _logistic_batch(pdf).round(4),
                }
            )

    return feats.mapInPandas(
        score_batches, schema=f"{id_col} long, score double"
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    nbins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probabilistic classifier: fixed [0, 1)
    equal-width score bins, per-bin ``(bin, n, mean_score, frac_pos)`` —
    a well-calibrated model has ``frac_pos ~ mean_score`` in every bin.
    The eval-side complement of :func:`classifier_score`: before a score
    threshold gates a corpus, calibration says what the scores MEAN.

    Scores are assumed in [0, 1] (probabilities); 1.0 clamps into the top
    bin.  Empty bins are emitted with n = 0 and NULL means (full spine,
    like the drift operators).  Means are snapped through DECIMAL(18,12)
    then rounded to 6 so engines agree.  One nbins-key hash aggregate +
    a spine join of an nbins-row frame — nothing else wide."""
    s = F.col(score_col).cast("double")
    # both edges clamp: scores are documented [0, 1] but a defensive clamp
    # keeps a stray out-of-range score IN the spine instead of silently
    # dropping it at the join
    b = _equi_width_bin(s, nbins, F.lit(0.0), F.lit(1.0))
    counts = (
        scored.where(s.isNotNull())
        .select(b.alias("bin"), s.alias("__s"), F.col(label_col).cast("int").alias("__y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            snap(F.avg("__s")).alias("mean_score"),
            snap(F.avg("__y")).alias("frac_pos"),
        )
    )
    spine = scored.sparkSession.range(nbins).select(
        F.col("id").cast("int").alias("bin")
    )
    return spine.join(F.broadcast(counts), ["bin"], "left").select(
        "bin",
        F.coalesce("n", F.lit(0)).alias("n"),
        "mean_score",
        "frac_pos",
    )


def binned_roc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    nbins: int = 20,
) -> DataFrame:
    """Binned ROC curve + trapezoidal AUC terms, computed without a
    global sort: fixed [0, 1) score bins, cumulative TPR/FPR sweeping the
    threshold from HIGH scores down, ``(bin, n_pos, n_neg, tpr, fpr,
    auc_term)`` with AUC = ``sum(auc_term)``.  The exact AUC is a global
    rank statistic (a data-sized sort); binning trades resolution for a
    plan that is one nbins-key aggregate plus windows over the NBINS-ROW
    frame — at 100 TB the sweep costs the same as at 100 MB.

    ``bin`` descends score order in the cumulative sense: row for bin b
    holds the TPR/FPR of the classifier that predicts positive when
    ``score >= b / nbins`` (bin b's lower edge).  The last row (bin 0) is
    always (1, 1).  Fractions snapped through DECIMAL(18,12) to 6
    decimals; degenerate single-class inputs read NULL on the undefined
    side (``try_divide``)."""
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    b = _equi_width_bin(s, nbins, F.lit(0.0), F.lit(1.0))
    y = F.col(label_col).cast("int")
    counts = (
        scored.where(s.isNotNull())
        .select(b.alias("bin"), y.alias("__y"))
        .groupBy("bin")
        .agg(
            F.sum("__y").alias("n_pos"),
            F.sum(F.lit(1) - F.col("__y")).alias("n_neg"),
        )
    )
    spine = scored.sparkSession.range(nbins).select(
        F.col("id").cast("int").alias("bin")
    )
    full = spine.join(F.broadcast(counts), ["bin"], "left").select(
        "bin",
        F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
        F.coalesce("n_neg", F.lit(0)).alias("n_neg"),
    )
    # windows over the nbins-row frame only (bins, never data)
    desc = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tpr = snap(F.try_divide(F.sum("n_pos").over(desc), F.sum("n_pos").over(tot)))
    fpr = snap(F.try_divide(F.sum("n_neg").over(desc), F.sum("n_neg").over(tot)))
    curve = full.select("bin", "n_pos", "n_neg", tpr.alias("tpr"), fpr.alias("fpr"))
    lag_w = Window.orderBy(F.col("bin").desc())
    prev_tpr = F.coalesce(F.lag("tpr").over(lag_w), F.lit(0.0))
    prev_fpr = F.coalesce(F.lag("fpr").over(lag_w), F.lit(0.0))
    auc_term = snap(
        (F.col("fpr") - prev_fpr) * (F.col("tpr") + prev_tpr) / F.lit(2.0)
    )
    return curve.select(
        "bin", "n_pos", "n_neg", "tpr", "fpr", auc_term.alias("auc_term")
    )


def agreement_kappa(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Cohen's kappa between two boolean labelers: one row
    ``(n, po, pe, kappa)`` — observed agreement, chance agreement from the
    labelers' marginals, and the chance-corrected kappa, each snapped to 6
    decimals.

    The standard check before trusting cheap labels at scale: two quality
    heuristics (or a heuristic vs. a model, or two annotator pools) that
    agree 90% of the time sound aligned, but if both pass ~90% of
    documents, chance alone explains most of it — kappa reads near 0 and
    says the second labeler adds no signal.  Runs as ONE aggregation pass
    (four confusion counts as conditional sums); nulls in either label are
    excluded rows.  kappa = (po - pe) / (1 - pe); when pe = 1 (both
    labelers constant) kappa is NULL — undefined, not 0 — via try_divide."""
    a, b = F.col(a_col), F.col(b_col)
    base = df.where(a.isNotNull() & b.isNotNull())
    cnt = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((a & b).cast("long")).alias("n11"),
        F.sum((a & ~b).cast("long")).alias("n10"),
        F.sum((~a & b).cast("long")).alias("n01"),
        F.sum((~a & ~b).cast("long")).alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    pa1 = (F.col("n11") + F.col("n10")) / F.col("n")
    pb1 = (F.col("n11") + F.col("n01")) / F.col("n")
    pe = pa1 * pb1 + (1 - pa1) * (1 - pb1)
    kappa = F.try_divide(po - pe, F.lit(1.0) - pe)

    return cnt.select(
        "n", snap(po).alias("po"), snap(pe).alias("pe"), snap(kappa).alias("kappa")
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    grid: int = 11,
) -> DataFrame:
    """Cross-group quantile normalization (batch-effect correction):
    ``(id, group, value, p, normalized)`` — each row's value is replaced
    by the GLOBAL distribution's value at the row's within-group
    percent-rank, so every group's normalized scores share one reference
    distribution.

    The classifier-score harmonizer for multi-source corpora: two
    sources scored by the same quality model still differ in score
    DISTRIBUTION (domain shift), so a single global threshold keeps
    different fractions per source; after quantile normalization a
    threshold cuts every source at the same quantile.  The bioinformatics
    quantile-normalization trick applied to data curation.

    Mechanics: within-group percent_rank (ties broken by id for
    determinism), then linear interpolation into a ``grid``-point exact
    global percentile grid.  Scale: the rank window partitions by group
    (group-sized state); the grid is ONE aggregate row broadcast to every
    row — no global sort, no global window.  At extreme scale swap the
    exact grid for ``approx_percentile`` (sketch) without touching the
    interpolation.  p and normalized are decimal-snapped to 6."""
    from pyspark.sql.window import Window

    probs = [i / (grid - 1) for i in range(grid)]
    gvals = df.agg(
        F.percentile(value_col, F.array(*[F.lit(p) for p in probs])).alias("__g")
    )
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(value_col),
        F.percent_rank().over(w).alias("__p"),
    ).crossJoin(F.broadcast(gvals))
    pos = F.col("__p") * (grid - 1)
    i = F.floor(pos).cast("int")
    frac = pos - i
    lo = F.element_at(F.col("__g"), i + 1)
    hi = F.element_at(F.col("__g"), F.least(i + F.lit(2), F.lit(grid)))
    interp = lo + (hi - lo) * frac
    return ranked.select(
        F.col(id_col),
        F.col(group_col),
        F.col(value_col),
        snap(F.col("__p")).alias("p"),
        snap(interp).alias("normalized"),
    )


def score_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    group_col: str,
    grid: int = 11,
) -> DataFrame:
    """Per-group distribution drift of a score between two snapshots:
    ``(grp, n_a, n_b, max_qdiff, avg_qdiff)`` — each snapshot's exact
    percentile grid of ``value_col`` (``grid`` points, the
    :func:`quantile_normalize` grid), compared pointwise; ``max_qdiff``
    is a Kolmogorov-style distance on the quantile function.

    The release-acceptance dial for score drift: two snapshots scored by
    the same quality model should produce near-identical per-source
    quantile grids — a source whose max_qdiff jumps changed its content
    mix (or the upstream site template changed), even when its mean
    score held still.  Only groups present in BOTH snapshots are scored
    (appearing/disappearing sources are corpus-membership drift —
    corpus_diff territory, not score drift).

    Scale: one exact-percentile aggregate per snapshot — |groups|-row
    outputs, map-side partials; the grid join is |groups| x |groups|
    equi-join on the group key; the pointwise compare runs in array
    built-ins on the |groups|-row frame.  At extreme scale swap
    ``F.percentile`` for ``approx_percentile`` (sketch merge instead of
    per-group value buffers) without touching the comparison."""
    probs = [i / (grid - 1) for i in range(grid)]
    parr = F.array(*[F.lit(p) for p in probs])

    def grids(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count(F.lit(1)).alias(f"n_{side}"),
            F.percentile(value_col, parr).alias(f"q_{side}"),
        )

    diffs = F.zip_with("q_a", "q_b", lambda x, y: F.abs(x - y))
    return (
        grids(df_a, "a")
        .join(grids(df_b, "b"), "grp")
        .select(
            "grp",
            "n_a",
            "n_b",
            snap(F.array_max(diffs)).alias("max_qdiff"),
            snap(
                F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)
                / F.lit(float(grid))
            ).alias("avg_qdiff"),
        )
    )


def quantile_sketch_contract(
    df: DataFrame,
    value_col: str,
    group_col: str,
    grid: int = 11,
    accuracy: int = 1000,
    eps: float = 0.05,
) -> DataFrame:
    """Error-bound contract for the 100 TB percentile swap: per group,
    the ``approx_percentile`` sketch grid must land inside the EXACT
    quantile envelope ``[percentile(p - eps), percentile(p + eps)]`` at
    every grid point — ``(grp, n, grid_within_bound)``.

    :func:`score_drift` and :func:`quantile_normalize` document "swap
    ``F.percentile`` for ``approx_percentile`` at extreme scale" as the
    path that replaces per-group value buffers with mergeable
    Greenwald-Khanna sketches; this makes that claim a CHECKED contract
    rather than a docstring.  GK guarantees rank error <= n/accuracy, so
    any sketch value must sit between the exact quantiles at probs
    ``p -/+ eps`` whenever ``eps >= 1/accuracy`` (the default leaves a
    50x margin for interpolation-vs-nearest-rank semantics and tiny
    groups, while still pinning the sketch to the right 5% rank band) —
    a violation means the sketch path would silently bend every drift /
    normalization threshold built on it.

    Scale: ONE hash aggregate to |groups| rows computing the exact
    envelope and the sketch side by side (both map-side partial, both
    mergeable); the array compare runs in built-ins on the |groups|-row
    frame.  In production only the sketch agg runs — the exact envelope
    exists to certify the swap on sampled slices."""
    if grid < 2:
        raise ValueError(
            f"grid must be >= 2 (the probs ladder spans [0, 1]), got {grid}"
        )
    if not 0 < eps < 1:
        raise ValueError(f"eps must be in (0, 1), got {eps}")
    if accuracy < 1:
        raise ValueError(f"accuracy must be >= 1, got {accuracy}")
    if eps < 1.0 / accuracy:
        raise ValueError(
            f"eps {eps} is below the sketch's rank-error bound "
            f"1/accuracy = {1.0 / accuracy}; the contract would flag "
            "correct sketches"
        )
    probs = [i / (grid - 1) for i in range(grid)]
    lo = F.array(*[F.lit(max(0.0, p - eps)) for p in probs])
    hi = F.array(*[F.lit(min(1.0, p + eps)) for p in probs])
    # backtick-quote so names needing escaping (dots, spaces, hyphens)
    # resolve as one identifier on BOTH sides: bare strings are parsed as
    # multi-part paths by F.percentile and F.expr alike
    vq = "`" + value_col.replace("`", "``") + "`"
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile(F.col(vq), lo).alias("__ql"),
        F.percentile(F.col(vq), hi).alias("__qh"),
        F.expr(
            f"approx_percentile({vq}, array({', '.join(map(str, probs))}), {accuracy})"
        ).alias("__qa"),
    )
    tol = F.lit(1e-9)  # float slack: envelope ends are interpolated values
    ok = F.forall(
        F.zip_with(
            F.zip_with("__qa", "__ql", lambda a, l: a >= l - tol),
            F.zip_with("__qa", "__qh", lambda a, h: a <= h + tol),
            lambda x, y: x & y,
        ),
        lambda b: b,
    )
    return agg.select("grp", "n", ok.alias("grid_within_bound"))
