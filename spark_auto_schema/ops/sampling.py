"""Deterministic sampling operators for training-data pipelines.

Sampling at 100 TB must be (a) reproducible across runs and engines (so
downstream stages and audits agree on the exact row set), and (b) shuffle-free
where possible.  Spark's ``df.sample`` is seed-deterministic but
partitioning-dependent; these operators key off a *content hash* instead, so
the sample is a pure function of the data.

* :func:`hash_sample` — keep a row iff a hex prefix of ``md5(key)`` falls
  under the fraction threshold.  A narrow per-row filter: no shuffle, pushes
  into the scan stage, identical row set in any engine with md5 (the DuckDB
  oracle replays it exactly).
* :func:`stratified_sample` — exact ``ceil(fraction * n_h)`` rows per
  stratum, chosen by rank over the same content hash: deterministic,
  per-stratum proportional, one shuffle (the per-stratum window sort).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._cache import persist, release_caches  # noqa: F401 re-export

# Width of the hex prefix compared against the threshold: 4 hex chars = a
# uniform draw from [0, 65536) per key.  Threshold comparisons (hash_sample,
# mix_by_column, split ordering) keep 4 digits — fraction resolution of
# 1/65536 is ample and the short prefix keeps oracle SQL simple.
_HEX_DIGITS = 4
_SPACE = 16**_HEX_DIGITS

# The *integer* uniform draw is wider: 8 hex chars = [0, 2^32).  At 4 digits
# only 65,536 distinct u values exist, so at billions of rows ties dominate
# within equal-weight classes and weighted_sample's key_col tie-break skews
# toward low keys; 2^32 values make equal-u ties vanishingly rare.
_UNIFORM_HEX_DIGITS = 8
_UNIFORM_SPACE = 16**_UNIFORM_HEX_DIGITS

def _hash_prefix(key: Column) -> Column:
    return F.substring(F.md5(key.cast("string")), 1, _HEX_DIGITS)


def fraction_threshold(fraction: float) -> str:
    """Hex threshold string t such that P[md5-prefix < t] ~= fraction.

    The comparison is lexicographic on a ``_HEX_DIGITS``-char lowercase hex
    prefix, so fraction 1.0 must NOT produce the 5-char string "10000":
    4-char prefixes starting with any digit > '1' sort *above* it, silently
    keeping only ~6.25% of rows.  "g" sorts after every hex character, so
    every prefix is below it — fraction >= 1.0 keeps everything."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(int(fraction * _SPACE), f"0{_HEX_DIGITS}x")


def realized_fraction(fraction: float) -> float:
    """The keep probability the hex threshold ACTUALLY realizes under
    uniform keys: ``int(fraction * _SPACE) / _SPACE``.  The 4-hex-digit
    threshold quantizes the request to 1/65536 steps (0.15 ->
    0.14999...), so audits that compare a realized rate against the
    nominal ``fraction`` would report a small systematic nonzero
    deviation on every group even with perfectly uniform keys —
    compare against THIS value instead (r10-advice fix)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return 1.0
    return int(fraction * _SPACE) / _SPACE


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic ~``fraction`` sample: rows whose md5(key) 4-hex-digit
    prefix is below the threshold.  Content-keyed, so the same keys are kept
    on every run, engine, and partitioning — and the filter is a narrow
    projection that pipelines inside the scan (no shuffle, no state)."""
    return df.where(_hash_prefix(F.col(key_col)) < F.lit(fraction_threshold(fraction)))


def stratified_sample(
    df: DataFrame, stratum_col: str, key_col: str, fraction: float
) -> DataFrame:
    """Exact-size proportional sample: the ``ceil(fraction * n_h)`` rows of
    each stratum with the smallest (md5(key), key) rank.

    The hash-rank makes the choice deterministic and content-keyed like
    :func:`hash_sample`, but with exact per-stratum counts (hash thresholding
    only hits the fraction in expectation).  Cost: one shuffle on the stratum
    key for the window sort + a window count — at scale prefer
    :func:`hash_sample` unless exact stratum sizes are required."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    order = Window.partitionBy(stratum_col).orderBy(
        _hash_prefix(F.col(key_col)), F.col(key_col)
    )
    whole = Window.partitionBy(stratum_col)
    return (
        df.withColumn("__rk", F.row_number().over(order))
        .withColumn("__n", F.count(F.lit(1)).over(whole))
        .where(F.col("__rk") <= F.ceil(F.col("__n") * F.lit(fraction)))
        .drop("__rk", "__n")
    )


def split_train_eval(
    df: DataFrame, key_col: str, eval_fraction: float = 0.1
) -> tuple[DataFrame, DataFrame]:
    """Deterministic disjoint train/eval split on the same content hash.

    Returns (train, eval); every key lands in exactly one side, stable across
    runs — the property training pipelines need so examples never leak
    between splits when data is re-read or re-partitioned."""
    t = F.lit(fraction_threshold(eval_fraction))
    pref = _hash_prefix(F.col(key_col))
    return df.where(pref >= t), df.where(pref < t)


def weighted_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Deterministic weight-proportional sample of ``k`` rows without
    replacement (Efraimidis-Spirakis A-ES): each row draws a reproducible
    uniform u from its content hash and ranks by u^(1/weight); the top-k
    ranks win.  P[row in sample] increases with weight exactly as for true
    weighted sampling without replacement.

    Content-keyed like :func:`hash_sample` — the same rows win on every run,
    engine, and partitioning — and the plan is a TakeOrdered (k-heap per
    partition, k*partitions rows to the driver-side merge), never a full
    sort: at 100 TB this is one scan plus a k-sized heap.  Rows with
    non-positive weights are excluded (they can never win)."""
    u = (_hash_prefix_int(F.col(key_col)) + F.lit(1.0)) / F.lit(float(_UNIFORM_SPACE))
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(key_col))
        .limit(k)
        .drop("__wkey")
    )


def _hash_prefix_int(key: Column) -> Column:
    """The 8-hex-digit md5 prefix as an integer in [0, 2^32) — the shared
    uniform-draw primitive (Spark: conv(hex,16,10); the DuckDB oracle
    rebuilds it as CAST('0x' || prefix AS BIGINT))."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, _UNIFORM_HEX_DIGITS), 16, 10
    ).cast("long")


def kfold_assign(df: DataFrame, key_col: str, k: int = 5) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: ``df`` plus a
    ``fold`` column in ``[0, k)`` — ``fold = md5-uniform(key) mod k``.

    Fold membership is a pure function of the content key (the same 8-hex
    md5 draw as :func:`weighted_sample`), so every engine, run, and
    partitioning agrees on the exact fold of every row, and train/validate
    rotations (``fold != i`` / ``fold == i``) are disjoint and exhaustive by
    construction.  Row-local projection: no shuffle, no state, pipelines
    inside the scan at any scale.  For corpora with near-duplicate clusters
    use :func:`cluster_safe_split`'s representative key as ``key_col`` so a
    cluster cannot straddle folds."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        "fold", (_hash_prefix_int(F.col(key_col)) % k).cast("int")
    )


def time_embargo_split(
    df: DataFrame,
    ts_col: str,
    cutoff: str,
    embargo: str = "0 days",
) -> DataFrame:
    """Temporal train/eval split with an embargo gap: rows strictly before
    ``cutoff - embargo`` are 'train', rows at/after ``cutoff`` are 'eval',
    and rows inside the gap are 'embargo' (excluded from both sides).

    The group/cluster splits stop *identity* leakage; this stops *temporal*
    leakage — autocorrelated signals (user behavior, market data, trending
    topics) bleed across an instant boundary, so models validated without a
    gap look better than they deploy.  The embargo discards the boundary
    band outright, the standard purge in time-series cross-validation.

    ``cutoff`` is an ISO timestamp string, ``embargo`` an INTERVAL literal
    (e.g. ``'7 days'``).  Row-local projection against two literals — no
    shuffle, no state; at 100 TB the split predicate pushes into the scan
    and partition-prunes a date-partitioned layout."""
    cut = F.lit(cutoff).cast("timestamp")
    train_end = cut - F.expr(f"INTERVAL {embargo}")
    t = F.col(ts_col)
    return df.withColumn(
        "split",
        F.when(t < train_end, F.lit("train"))
        .when(t >= cut, F.lit("eval"))
        .otherwise(F.lit("embargo")),
    )


def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    eval_fraction: float = 0.1,
) -> DataFrame:
    """Leakage-safe train/eval assignment: every near-duplicate CLUSTER
    lands wholly on one side, so no eval document has a near-copy in train.

    :func:`split_train_eval` hashes each document independently — correct
    for exact-deduped corpora, but after *near*-dup analysis two documents
    that are 95% identical are distinct keys and can straddle the split,
    silently inflating eval scores (the classic benchmark-leakage failure
    train/eval splits exist to prevent).  The fix is to draw once per
    cluster, not once per document: join the corpus to its cluster
    assignment (``(id, cluster_id)`` from :func:`~.dedup.dedup_clusters`),
    treat unclustered documents as singleton clusters
    (``rep = coalesce(cluster_id, id)``), and assign each row by the md5
    draw of its representative.  Documents sharing a representative share a
    draw, so a cluster cannot straddle sides *by construction*.

    Returns ``df`` plus a ``split`` column ('train' | 'eval').  Scale: one
    left equi-join on the id key — the cluster table holds only ids that
    appeared in a near-dup pair (typically a few percent of the corpus), so
    AQE broadcasts it when small and hash-co-partitions otherwise; the
    draw and assignment are row-local projections.  Nothing else shuffles,
    and the assignment is a pure function of content ids — stable across
    runs, engines, and partitionings."""
    t = F.lit(fraction_threshold(eval_fraction))
    cl = clusters.select(
        F.col("id").alias("__cl_id"), F.col("cluster_id").alias("__cl_rep")
    )
    rep = F.coalesce(F.col("__cl_rep"), F.col(id_col))
    return (
        df.join(cl, df[id_col] == cl["__cl_id"], "left")
        .withColumn(
            "split",
            F.when(_hash_prefix(rep) < t, F.lit("eval")).otherwise(F.lit("train")),
        )
        .drop("__cl_id", "__cl_rep")
    )


def exact_k_per_group(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Deterministic exactly-k-per-group sample: each group's k rows with
    the smallest ``(md5(key), key)`` rank (all rows when the group has
    fewer than k).

    The eval-set construction primitive — "exactly 100 held-out documents
    per language" — where :func:`stratified_sample`'s proportional
    fractions would track group SIZE instead of pinning group COUNT.
    Content-keyed like every sampler here: the same rows win on every
    run, engine, and partitioning, and a group's k-sample is a subset of
    its (k+1)-sample, so growing the eval set never churns it.

    Cost: one shuffle on the group key + the per-group window sort.  With
    k << group size the right 100 TB plan is still this one — row_number
    windows sort locally per group and stream; no global sort, no
    all-groups driver state."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = Window.partitionBy(group_col).orderBy(
        _hash_prefix(F.col(key_col)), F.col(key_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def contrastive_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    num_buckets: int = 64,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: ``(id,
    neg_rank, neg_id)`` — up to ``k`` pseudo-random negatives per anchor,
    a pure function of ``(id, neg_rank)`` so re-runs (and grown corpora,
    for surviving representatives) reproduce the same pairs.

    Construction: every row hashes into one of ``num_buckets`` buckets;
    each bucket elects a REPRESENTATIVE (its md5-smallest member) — a
    ``num_buckets``-row relation.  Anchor ``i``'s j-th negative is the
    representative of bucket md5(i ':' j), skipping self-matches.

    Scale: the anchors never join each other — the only join is against
    the broadcast representative table (num_buckets rows), so cost is one
    aggregate over the corpus plus a narrow map side.  The uniform md5
    draw makes collisions with the anchor's own bucket (dropped rows)
    rare and deterministic.  In-batch negatives at training time are a
    complement, not a substitute: these PRE-COMPUTED pairs survive
    shuffling, resharding, and epoch re-runs."""
    h = F.md5(F.col(id_col).cast("string"))
    bucket_of = lambda c: F.conv(F.substring(c, 1, 8), 16, 10).cast("long") % num_buckets
    reps = (
        df.select(F.col(id_col).alias("rep_id"), h.alias("__h"))
        .withColumn("bucket", bucket_of(F.col("__h")))
        .groupBy("bucket")
        .agg(F.min_by("rep_id", F.col("__h")).alias("neg_id"))
    )
    anchors = df.select(F.col(id_col).alias("id")).select(
        "id",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, k + 1)])
        ).alias("neg_rank"),
    )
    probe = anchors.withColumn(
        "bucket",
        bucket_of(F.md5(F.concat_ws(":", F.col("id").cast("string"), F.col("neg_rank").cast("string")))),
    )
    return (
        probe.join(F.broadcast(reps), on="bucket")
        .where(F.col("neg_id") != F.col("id"))
        .select(F.col("id").alias(id_col), "neg_rank", "neg_id")
    )


def dsir_importance_sample(
    df: DataFrame,
    target: Column,
    n: int,
    num_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit hashed-n-gram
    bag-of-features unigram models over the TARGET slice (rows where the
    ``target`` boolean column is true) and over the RAW pool (all rows),
    weight every raw document by its log importance ratio
    ``sum_f ln(p_target(h(f)) / p_raw(h(f)))``, and resample ``n``
    documents by Gumbel top-k — ``score = logw + g`` with
    ``g = -ln(-ln(u))`` and u a reproducible md5 uniform of the doc id,
    so the draw is importance-weighted yet deterministic across engines,
    runs, and partitionings (the repo's md5-draw convention).

    Features are unigrams + adjacent bigrams hashed into ``num_buckets``
    buckets via the md5-prefix integer (DuckDB-replayable); both models
    are add-one smoothed over the bucket space, so the weight of a
    feature unseen in either slice is defined and the ratio is bounded.

    Returns the selected rows: ``(id, log_weight, gumbel_score)`` with
    both snapped to 4 decimals (ln involved).

    Scale: the feature stream is one explode (row-local bigram zip — no
    self-join); BOTH models are ``num_buckets``-row aggregates off one
    persisted pass of that stream (map-side combined, broadcast back);
    per-doc weights ride one doc-keyed aggregate; the final cut is a
    TakeOrdered k-heap, never a full sort.  Nothing downstream of the
    feature aggregate touches corpus-sized data except the one weight
    shuffle."""
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
        lambda w: F.length(w) > 0,
    )
    # zip_with pads the shorter side with NULL and concat_ws would fold
    # that into a spurious trailing unigram — slice the pair array to n-1
    n_pairs = F.greatest(F.size(words) - 1, F.lit(0))
    grams = F.concat(
        words,
        F.slice(
            F.zip_with(
                words,
                F.slice(words, 2, n_pairs),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            1,
            n_pairs,
        ),
    )
    feats = persist(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(target.cast("boolean"), F.lit(False)).alias("is_t"),
            F.explode(grams).alias("f"),
        ).select(
            "id",
            "is_t",
            (_hash_prefix_int(F.col("f")) % num_buckets).alias("b"),
        )
    )
    model = feats.groupBy("b").agg(
        F.sum(F.col("is_t").cast("long")).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    totals = model.agg(
        F.sum("ct").cast("double").alias("nt"),
        F.sum("cr").cast("double").alias("nr"),
    )
    scored = model.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + num_buckets))
            - F.log((F.col("cr") + 1) / (F.col("nr") + num_buckets))
        ).alias("lw"),
    )
    per_doc = (
        feats.join(F.broadcast(scored), "b")
        .groupBy("id")
        .agg(F.sum("lw").alias("logw"))
    )
    u = (
        _hash_prefix_int(F.concat(F.lit("dsir:"), F.col("id").cast("string")))
        + F.lit(1.0)
    ) / F.lit(
        float(_UNIFORM_SPACE) + 1.0
    )
    g = -F.log(-F.log(u))
    snapped = lambda c: F.round(c.cast("decimal(18,10)"), 4).cast("double")
    return (
        per_doc.select(
            F.col("id").alias(id_col),
            snapped(F.col("logw")).alias("log_weight"),
            snapped(F.col("logw") + g).alias("gumbel_score"),
        )
        .orderBy(F.col("gumbel_score").desc(), F.col(id_col))
        .limit(n)
    )


def sample_bias_audit(
    df: DataFrame,
    key_col: str,
    group_col: str,
    fraction: float,
) -> DataFrame:
    """Stratification audit for :func:`hash_sample`: per group, the
    corpus count, the count the hash threshold actually kept, the
    realized rate, and the relative deviation from the target fraction —
    ``(grp, n_corpus, n_sampled, rate, rel_deviation)``.  Hash
    thresholding only hits ``fraction`` in expectation; a group whose
    realized rate sits far off target is either small (binomial noise —
    read it next to ``n_corpus``) or, the failure this audit exists to
    catch, carries NON-UNIFORM KEYS: sequential ids fed through a broken
    key cast, duplicated keys, or a key column correlated with the group
    all bias md5 prefixes and silently over/under-sample that group.

    One pass: the keep flag is the same in-scan md5-prefix comparison
    hash_sample applies (threshold from the shared
    :func:`fraction_threshold`), aggregated per group — no join against
    a separately-materialized sample, so the audit can never disagree
    with the sampler about who was kept.  ``rel_deviation`` is measured
    against :func:`realized_fraction` (the probability the quantized hex
    threshold actually implements), not the nominal ``fraction`` —
    otherwise every group carries a small systematic offset from
    threshold quantization alone."""
    thr = fraction_threshold(fraction)
    target = realized_fraction(fraction)
    if target == 0.0:
        raise ValueError(
            f"fraction {fraction} realizes a zero keep probability at "
            f"{_HEX_DIGITS} hex digits — rel_deviation is undefined"
        )
    keep = (_hash_prefix(F.col(key_col)) < F.lit(thr)).cast("long")
    snap = lambda c: F.round(c.cast("decimal(18,12)"), 6).cast("double")
    return (
        df.select(F.col(group_col).alias("grp"), keep.alias("__k"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.sum("__k").cast("long").alias("n_sampled"),
            snap(F.sum("__k") / F.count(F.lit(1))).alias("rate"),
            snap(
                (F.sum("__k") / F.count(F.lit(1)) - F.lit(target))
                / F.lit(target)
            ).alias("rel_deviation"),
        )
    )
