"""Behavioral / statistical analytics operators: cohort retention, ordered
funnels, fixed-width histograms, and z-score outlier detection.

The reference library (RedshiftAutoSchema.py, 363 LoC) has no analytics
operators at all — it stops at schema inference.  These extend the engine
for the event-log workloads a warehouse schema tool feeds: once a table is
landed and typed, retention/funnel/distribution questions are the first
queries users run against it.

Scale design (100 TB):

* :func:`cohort_retention` — two hash aggregates (first-touch per user,
  distinct user-bucket activity) joined on the user key.  The first-touch
  side is |users| rows — orders of magnitude smaller than the event log —
  so AQE broadcasts it; the distinct-activity aggregate does map-side
  partial dedup before its single shuffle.  No windows, no global sort.
* :func:`funnel_counts` — ONE hash aggregate keyed on user (conditional
  ``min(CASE)`` per stage, map-side combined), then an O(|users|)
  projection of per-stage booleans and a final tiny unpivot.  The event
  log is scanned exactly once regardless of stage count.
* :func:`value_histogram` — global min/max is a 1-row aggregate broadcast
  back via cross join (a literal-sized build side, not a shuffle); binning
  is a stream-side projection feeding one hash aggregate on ``nbins``
  keys.  Two scans total (stats + bin), the classic two-pass equi-width
  histogram; a single-pass sketch (t-digest) trades exactness when even
  two scans are too dear.
* :func:`zscore_outliers` — per-key moments are a hash aggregate of
  |keys| rows broadcast back onto the fact stream; outlier flagging is a
  row-local expression.  No per-row window, no second shuffle of facts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .._cache import persist, release_caches  # noqa: F401 re-export
from .._snap import snap

_BUCKET_DAYS = {"week": 7, "day": 1}


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    bucket: str = "week",
) -> DataFrame:
    """Classic cohort-retention triangle: users are cohorted by the
    ``bucket`` (week/day) of their FIRST event; for every later bucket in
    which a cohort member is active, count the distinct members.

    Returns ``(cohort_<bucket> date, <bucket>_offset int, n_users)`` —
    offset 0 is the cohort bucket itself, so every cohort's offset-0 row
    equals its size.
    """
    if bucket not in _BUCKET_DAYS:
        raise ValueError(f"bucket must be one of {sorted(_BUCKET_DAYS)}")
    days = _BUCKET_DAYS[bucket]
    b = F.to_date(F.date_trunc(bucket, F.col(ts_col)))
    first = events.groupBy(F.col(user_col).alias("__u")).agg(
        F.min(b).alias("__cohort")
    )
    active = events.select(
        F.col(user_col).alias("__u"), b.alias("__w")
    ).distinct()
    return (
        active.join(first, "__u")
        .groupBy(
            F.col("__cohort").alias(f"cohort_{bucket}"),
            (F.datediff("__w", "__cohort") / days)
            .cast("int")
            .alias(f"{bucket}_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def funnel_counts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered-funnel conversion: a user reaches stage *i* when their
    earliest occurrence of every stage ``0..i`` exists and the earliest
    timestamps are STRICTLY increasing stage-over-stage (the canonical
    "did the steps in order" funnel on first touches).

    Returns one row per stage: ``(stage_idx, stage, n_users)``.
    """
    if len(stages) < 2:
        raise ValueError("a funnel needs at least two stages")
    mins = events.groupBy(F.col(user_col).alias("__u")).agg(
        *[
            F.min(F.when(F.col(type_col) == s, F.col(ts_col))).alias(f"__t{i}")
            for i, s in enumerate(stages)
        ]
    )
    reached = F.col("__t0").isNotNull()
    flags = [reached]
    for i in range(1, len(stages)):
        reached = reached & (F.col(f"__t{i}") > F.col(f"__t{i - 1}"))
        flags.append(reached)
    # coalesce each flag: an unreached stage's comparison is NULL (ts vs
    # missing min), and an all-NULL sum would report NULL users, not 0
    counted = mins.agg(
        *[
            F.coalesce(
                F.sum(F.coalesce(f, F.lit(False)).cast("long")), F.lit(0)
            ).alias(f"__n{i}")
            for i, f in enumerate(flags)
        ]
    )
    # stage names are interpolated into the stack() literal — escape
    # quotes so a name like "o'clock" cannot break (or inject into) the
    # expression
    stack_args = ", ".join(
        "{}, '{}', __n{}".format(i + 1, s.replace("'", "''"), i)
        for i, s in enumerate(stages)
    )
    return counted.select(
        F.expr(
            f"stack({len(stages)}, {stack_args}) AS (stage_idx, stage, n_users)"
        )
    )


def _equi_width_bin(x: Column, nbins: int, lo: Column, hi: Column) -> Column:
    """The int bin of ``x`` among ``nbins`` equal-width bins over
    ``[lo, hi]``: ``floor((x - lo) * nbins / (hi - lo))`` clamped into
    ``[0, nbins - 1]``, so ``hi`` lands in the last bin and values outside
    the range in the edge bins.  A zero-width range divides to NULL
    (``try_divide``, DuckDB's NULL on double/0) and the NULL-skipping
    ``least`` puts every row in the last bin."""
    pos = F.try_divide((x - lo) * nbins, hi - lo)
    return F.greatest(F.least(F.floor(pos), F.lit(nbins - 1)), F.lit(0)).cast("int")


def value_histogram(df: DataFrame, col: str, nbins: int = 20) -> DataFrame:
    """Equi-width histogram of ``col`` over its observed [min, max] range:
    ``(bin, lo, hi, n)`` with the max value clamped into the last bin.

    Bin edges derive from the same double arithmetic everywhere
    (``(x - mn) * nbins / (mx - mn)``), so an external oracle evaluating
    the identical expression bit-matches the assignment.

    Degenerate all-constant input (``mx == mn``): ``try_divide`` yields a
    NULL raw bin (DuckDB's NULL on double/0), and both engines' NULL-
    skipping ``least`` clamp every row into the last bin with zero-width
    edges — consistent, if not meaningful.
    """
    # NULL values are excluded up front — without the filter the NULL-
    # skipping least() would silently count them in the last bin
    df = df.where(F.col(col).isNotNull())
    stats = df.agg(
        F.min(col).cast("double").alias("__mn"),
        F.max(col).cast("double").alias("__mx"),
    )
    x = F.col(col).cast("double")
    binned = df.crossJoin(F.broadcast(stats)).select(
        _equi_width_bin(x, nbins, F.col("__mn"), F.col("__mx")).alias("bin"),
        F.col("__mn"),
        F.col("__mx"),
    )
    width = (F.col("__mx") - F.col("__mn")) / nbins
    return binned.groupBy("bin").agg(
        F.round(F.min(F.col("__mn") + F.col("bin") * width), 4).alias("lo"),
        F.round(F.min(F.col("__mn") + (F.col("bin") + 1) * width), 4).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


def zscore_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    threshold: float = 2.5,
) -> DataFrame:
    """Per-key z-score outlier summary: ``(key, n, n_outliers, avg_value,
    stddev_value)`` where a row is an outlier when ``|x - mean| / stddev``
    (sample stddev, rounded to 4 decimals before the comparison so the
    boundary is engine-stable) exceeds ``threshold``.

    A constant-valued key has stddev 0, so every z is NULL — such keys
    report 0 outliers (per-row coalesce; an all-NULL sum would otherwise
    report NULL), matching a ``count(*) FILTER`` oracle.
    """
    stats = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.avg(F.col(value_col).cast("double")).alias("__mu"),
        F.stddev_samp(F.col(value_col).cast("double")).alias("__sd"),
    )
    # try_divide: a zero stddev yields NULL z (matching DuckDB's NULL on
    # double/0) instead of an ANSI-mode DIVIDE_BY_ZERO error
    z = F.round(
        F.try_divide(
            F.abs(F.col(value_col).cast("double") - F.col("__mu")), F.col("__sd")
        ),
        4,
    )
    return (
        df.join(F.broadcast(stats), F.col(key_col) == F.col("__k"))
        .groupBy(F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce((z > threshold).cast("long"), F.lit(0))).alias(
                "n_outliers"
            ),
            F.round(F.min("__mu"), 4).alias("avg_value"),
            F.round(F.min("__sd"), 4).alias("stddev_value"),
        )
    )


def threshold_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    quantile: float = 0.5,
    approx: bool = False,
) -> DataFrame:
    """Per-group quantile filter: keep rows whose score is >= their group's
    ``quantile``-th score — the CCNet-style gate where each language (or
    source, or domain) is filtered against ITS OWN quality distribution
    rather than one global cutoff that would wipe out low-resource groups.

    Two-step plan, both steps group-parallel: (1) one hash aggregate
    computes the per-group threshold; (2) the |groups|-row threshold table
    is broadcast back onto the fact stream and the comparison is a
    row-local filter.  The fact table is scanned twice but never shuffled
    — at 100 TB the group-threshold aggregate is the only exchange, and it
    carries |groups| rows.

    ``approx=False`` uses exact ``percentile`` (linear interpolation,
    identical to DuckDB's ``quantile_cont`` — the oracle-checkable path);
    its aggregation buffer holds one group's values on one reducer, fine
    for group cardinalities like languages x sources but not for
    million-row groups.  ``approx=True`` swaps in ``percentile_approx``
    (a bounded-memory KLL-style sketch, map-side combinable) — the 100 TB
    path, same plan shape, threshold within sketch accuracy.  The
    threshold is rounded to 4 decimals before the comparison so the
    boundary decision is engine-stable."""
    score = F.col(score_col).cast("double")
    agg = (
        F.percentile_approx(score, quantile)
        if approx
        else F.percentile(score, F.lit(quantile))
    )
    thresholds = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.round(agg, 4).alias("__thr")
    )
    return (
        df.join(F.broadcast(thresholds), F.col(group_col) == F.col("__g"))
        .where(F.round(score, 4) >= F.col("__thr"))
        .drop("__g", "__thr")
    )


def sharded_distinct_counts(
    df: DataFrame,
    shard_col: str,
    key_col: str,
    lg_k: int = 14,
) -> DataFrame:
    """Distinct-key counts per shard AND overall from ONE pass of
    mergeable HLL sketches: ``(shard, n_unique)`` rows plus an
    ``'__all__'`` row whose count comes from *unioning the per-shard
    sketches*, never re-scanning the data.

    This is the sketch-rollup pattern that makes "daily uniques -> monthly
    uniques" tractable at 100 TB: exact distinct-count rollups cannot be
    combined (distinct is not additive across shards), so naive pipelines
    re-scan the whole history per rollup window.  DataSketches HLL
    sketches union losslessly-in-error: build one bounded-size sketch per
    shard (``hll_sketch_agg``, map-side combinable, 2^lg_k registers),
    then ``hll_union_agg`` over the |shards|-row sketch table — a
    driver-scale second aggregate.  Error is ~1.04/sqrt(2^lg_k)
    (~0.8% at the default lg_k=14); the estimate path's accuracy
    contract is driver-checked against exact counts in
    ``q:hll_sharded_uniques``."""
    sketches = df.groupBy(F.col(shard_col).cast("string").alias("shard")).agg(
        F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(lg_k)).alias("__sk")
    )
    per_shard = sketches.select(
        "shard", F.hll_sketch_estimate(F.col("__sk")).alias("n_unique")
    )
    overall = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("__sk"))).alias("n_unique")
    ).select(F.lit("__all__").alias("shard"), "n_unique")
    return per_shard.unionByName(overall)


def winsorize(
    df: DataFrame,
    key_col: str,
    value_col: str,
    lo_q: float = 0.01,
    hi_q: float = 0.99,
    approx: bool = False,
) -> DataFrame:
    """Per-key winsorization: clip ``value_col`` into its key's
    [``lo_q``, ``hi_q``] quantile band — the standard heavy-tail taming
    step before means/regressions, applied per key so one group's scale
    does not clip another's.

    Same two-step shape as :func:`threshold_by_group`: one hash aggregate
    produces the |keys|-row (lo, hi) band table (exact ``percentile`` for
    the oracle path, ``percentile_approx`` sketches at scale), broadcast
    back onto the fact stream; the clip is a row-local
    ``least(greatest(...))``.  Facts are never shuffled.  Bounds are
    rounded to 4 decimals so the clip boundary is engine-stable; the
    clipped value is returned rounded to 4 alongside the original."""
    v = F.col(value_col).cast("double")
    lo_agg = (
        F.percentile_approx(v, lo_q) if approx else F.percentile(v, F.lit(lo_q))
    )
    hi_agg = (
        F.percentile_approx(v, hi_q) if approx else F.percentile(v, F.lit(hi_q))
    )
    bands = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.round(lo_agg, 4).alias("__lo"), F.round(hi_agg, 4).alias("__hi")
    )
    clipped = F.round(F.least(F.greatest(v, F.col("__lo")), F.col("__hi")), 4)
    return (
        df.join(F.broadcast(bands), F.col(key_col) == F.col("__k"))
        .withColumn(f"{value_col}_winsorized", clipped)
        .drop("__k", "__lo", "__hi")
    )


def collapse_bursts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    id_col: str | None = None,
) -> DataFrame:
    """Collapse per-key event bursts: consecutive events of the same key
    closer than ``gap_seconds`` apart merge into one burst row — the batch
    debounce that turns retry storms, double-clicks, and sensor chatter
    into single logical events before downstream counting.

    A burst opens at any event whose predecessor (same key, time order) is
    ``>= gap_seconds`` away or absent, and absorbs every following event
    until the next such break — i.e. bursts are the gap-based sessions of
    ``session_windows`` and the output keeps one row per burst:
    (key, burst_start, burst_end, n_events).  Ties at the same timestamp
    order by ``id_col`` (when given) so burst boundaries are deterministic
    under duplicate timestamps.

    Scale (100 TB): one shuffle on the key; the lag + running-sum windows
    and the final first-per-burst aggregate all share that partitioning,
    so Spark plans a single Exchange and sorts per key in parallel.  A
    pathologically hot key bounds one task at that key's event count —
    the same bound (and the same daily/hourly pre-split remedy) as any
    per-entity sessionization.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    # full-precision epoch seconds (micros / 1e6 as an IEEE double — the
    # identical arithmetic DuckDB's epoch() performs, so the >= boundary
    # is engine-stable; unix_timestamp would truncate to seconds and
    # disagree with any sub-second oracle within 1 s of the gap)
    is_break = (
        prev.isNull()
        | (
            F.col(ts_col).cast("double") - prev.cast("double")
            >= F.lit(float(gap_seconds))
        )
    ).cast("long")
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bursts = df.withColumn("__burst", F.sum(is_break).over(wb))
    return bursts.groupBy(F.col(key_col), F.col("__burst")).agg(
        F.min(ts_col).alias("burst_start"),
        F.max(ts_col).alias("burst_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("__burst")


def _binned_drift_counts(
    base: DataFrame, curr: DataFrame, col: str, nbins: int
) -> tuple[DataFrame, DataFrame]:
    """The binned counts both drift tests read: ``(counts, totals)`` with
    ``counts`` = ``(bin, base_n, curr_n)`` on the full ``nbins``-row spine
    and ``totals`` the 1-row non-null side totals ``(__bt, __ct)``.  NULL
    values drop first; the BASELINE's [min, max] owns the bin edges."""
    base = base.where(F.col(col).isNotNull())
    curr = curr.where(F.col(col).isNotNull())
    stats = base.agg(
        F.min(col).cast("double").alias("__mn"),
        F.max(col).cast("double").alias("__mx"),
        F.count(F.lit(1)).alias("__bt"),
    )
    edges = F.broadcast(stats.select("__mn", "__mx"))
    x = F.col(col).cast("double")
    b = _equi_width_bin(x, nbins, F.col("__mn"), F.col("__mx"))

    def binned(df: DataFrame, out: str) -> DataFrame:
        # <= nbins rows BY CONSTRUCTION (the aggregate key is the bin), so
        # broadcasting it is safe at any data scale: the spine join never
        # shuffles
        return F.broadcast(
            df.crossJoin(edges)
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(out))
        )

    spine = base.sparkSession.range(nbins).select(F.col("id").cast("int").alias("bin"))
    counts = (
        spine.join(binned(base, "base_n"), ["bin"], "left")
        .join(binned(curr, "curr_n"), ["bin"], "left")
        .select(
            "bin",
            F.coalesce("base_n", F.lit(0)).alias("base_n"),
            F.coalesce("curr_n", F.lit(0)).alias("curr_n"),
        )
    )
    totals = stats.select("__bt").crossJoin(
        curr.agg(F.count(F.lit(1)).alias("__ct"))
    )
    return counts, totals


def psi_drift(
    base: DataFrame,
    curr: DataFrame,
    col: str,
    nbins: int = 10,
    floor: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a baseline snapshot and a current
    snapshot of the same column: one row per bin ``(bin, base_n, curr_n,
    base_p, curr_p, psi_term)``; total PSI = ``sum(psi_term)`` (rule of
    thumb: < 0.1 stable, 0.1-0.25 shifting, > 0.25 drifted).

    This is the distribution-level sibling of the schema diff: schema_diff
    answers "did the columns change", psi_drift answers "did the DATA in a
    column change" — the monitoring gate production pipelines run between
    corpus snapshots before retraining.

    Bin edges come from the BASELINE's observed [min, max] (standard PSI:
    the reference distribution owns the binning) via the same double
    arithmetic as :func:`value_histogram`, so an oracle evaluating the
    identical expression bit-matches the assignment.  Current-snapshot
    values outside the baseline range clamp into the edge bins
    (greatest/least).  Proportions are floored at ``floor`` before the
    log-ratio so empty bins contribute a finite term (the standard PSI
    epsilon correction); ``psi_term`` is snapped through DECIMAL(18,12)
    then rounded to 6 decimals so engines whose ``ln`` differs in the last
    ulp agree on the reported value.  Degenerate EMPTY baseline: with no
    reference rows there are no bin edges (NULL min/max), every row on
    both sides bins to NULL and falls off the spine, and all counts read
    0 — an empty baseline defines no distribution to compare against;
    validate non-emptiness upstream if that state is reachable.

    Scale: one 1-row min/max/count aggregate over the baseline (broadcast
    back via cross join), a 1-row count over the current side, one
    stream-side binning projection + ``nbins``-key hash aggregate per
    side, and a bin-spine join of two nbins-row frames.  Side totals ride
    the 1-row stats aggregates rather than re-summing the bin counts —
    every non-null row lands in exactly one bin (the clamp guarantees it),
    so the values are identical and the counts subtree is planned ONCE
    instead of being duplicated under a second aggregate.  The event data
    is scanned once per side (plus the baseline stats pass); nothing
    data-sized is collected, sorted, or windowed.
    """
    counts, totals = _binned_drift_counts(base, curr, col, nbins)
    pa = F.greatest(F.try_divide(F.col("base_n"), F.col("__bt")), F.lit(floor))
    pb = F.greatest(F.try_divide(F.col("curr_n"), F.col("__ct")), F.lit(floor))
    term = (pa - pb) * F.log(pa / pb)
    return counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "base_n",
        "curr_n",
        snap(pa).alias("base_p"),
        snap(pb).alias("curr_p"),
        snap(term).alias("psi_term"),
    )


def mad_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    threshold: float = 3.5,
    approx: bool = False,
) -> DataFrame:
    """Per-key ROBUST outlier summary via the median/MAD modified z-score:
    ``(key, n, n_outliers, median_value, mad_value)`` where a row is an
    outlier when ``0.6745 * |x - median| / MAD > threshold`` (Iglewicz &
    Hoaglin's rule; 3.5 is their recommended cut).

    The robust complement of :func:`zscore_outliers`: mean/stddev are
    themselves dragged by the outliers they're meant to find (masking),
    while median and MAD (median absolute deviation) have a 50 %
    breakdown point — the right default for heavy-tailed event values.

    Dataflow: TWO per-key aggregates by necessity (MAD needs the median
    first) — a |keys|-row median table broadcast back onto the facts, a
    second |keys|-row MAD aggregate broadcast likewise, then a row-local
    flag + one final per-key count aggregate.  Facts are shuffled at most
    once (the final aggregate); both stat tables ride broadcasts.  Exact
    ``percentile`` for the oracle path, ``percentile_approx`` at scale
    (``approx=True``).  An all-constant key has MAD 0 — every z is NULL
    (``try_divide``) and the key reports 0 outliers, matching the
    zscore convention.  Medians/MAD are rounded to 4 decimals so the
    boundary is engine-stable."""
    v = F.col(value_col).cast("double")

    def _median(col):
        return (
            F.percentile_approx(col, 0.5)
            if approx
            else F.percentile(col, F.lit(0.5))
        )

    med = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.round(_median(v), 4).alias("__med")
    )
    joined = df.join(F.broadcast(med), F.col(key_col) == F.col("__k")).drop(
        "__k"
    )
    mad = joined.groupBy(F.col(key_col).alias("__k")).agg(
        F.round(_median(F.abs(v - F.col("__med"))), 4).alias("__mad")
    )
    z = F.round(
        F.try_divide(F.lit(0.6745) * F.abs(v - F.col("__med")), F.col("__mad")),
        4,
    )
    return (
        joined.join(F.broadcast(mad), F.col(key_col) == F.col("__k"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce((z > threshold).cast("long"), F.lit(0))).alias(
                "n_outliers"
            ),
            F.min("__med").alias("median_value"),
            F.min("__mad").alias("mad_value"),
        )
    )


def equidepth_histogram(
    df: DataFrame, col: str, nbins: int = 10, approx: bool = False
) -> DataFrame:
    """Equi-DEPTH histogram: ``nbins`` buckets holding ~equal row counts,
    ``(bin, lo, hi, n)`` — the quantile-binned complement of
    :func:`value_histogram` (equi-width), and the summary query optimizers
    and drift monitors prefer for skewed columns, where equi-width packs
    everything into one bar.

    NO global sort and NO ntile window: the ``nbins - 1`` interior edges
    come from one exact interpolating ``percentile`` aggregate (1 row,
    broadcast back via cross join; ``percentile_approx`` sketches at
    scale with ``approx=True``), and bin assignment is the row-local
    count of edges below the value — ``size(filter(edges, e -> v > e))``
    — so values equal to an edge land in the LOWER bin (inclusive upper
    edges).  Duplicate-heavy columns make some buckets fatter than n/k;
    that is inherent to equi-depth on ties, not an error.  Edges are
    rounded to 4 decimals so the bucket boundary is engine-stable; lo/hi
    report min/edge/max per bin.
    """
    df = df.where(F.col(col).isNotNull())
    v = F.col(col).cast("double")
    qs = [i / nbins for i in range(1, nbins)]
    pct = (
        F.percentile_approx(v, qs) if approx else F.percentile(v, F.array(*[F.lit(q) for q in qs]))
    )
    stats = df.agg(
        F.transform(pct, lambda e: F.round(e, 4)).alias("__edges"),
        F.round(F.min(v), 4).alias("__mn"),
        F.round(F.max(v), 4).alias("__mx"),
    )
    binned = df.crossJoin(F.broadcast(stats)).select(
        F.size(F.filter(F.col("__edges"), lambda e: v > e)).alias("bin"),
        F.col("__edges"),
        F.col("__mn"),
        F.col("__mx"),
    )
    lo = F.when(F.col("bin") == 0, F.col("__mn")).otherwise(
        F.element_at(F.col("__edges"), F.col("bin"))
    )
    hi = F.when(F.col("bin") == nbins - 1, F.col("__mx")).otherwise(
        F.element_at(F.col("__edges"), F.col("bin") + 1)
    )
    return binned.groupBy("bin").agg(
        F.min(lo).alias("lo"),
        F.min(hi).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )


def ks_drift(
    base: DataFrame,
    curr: DataFrame,
    col: str,
    nbins: int = 20,
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov drift between a baseline and a
    current snapshot of the same column: one row per bin ``(bin, base_n,
    curr_n, base_cum_p, curr_cum_p, ks_term)``; the KS statistic is
    ``max(ks_term)`` (sup-norm distance between the two empirical CDFs,
    discretized at the bin edges).

    The CDF-distance sibling of :func:`psi_drift`: PSI sums density
    log-ratios per bin, so it is sensitive to mass *reallocation* but blind
    to *direction*; KS reads the cumulative gap, so a consistent one-sided
    shift (every value slightly larger) shows up even when per-bin densities
    barely move.  Monitoring suites run both.

    Binning mirrors psi_drift exactly: the BASELINE owns the ``nbins``
    equal-width edges over its observed [min, max]; current values outside
    that range clamp into the edge bins, so every non-null row lands in
    exactly one bin on both sides and the last cumulative fraction is 1 by
    construction.  Cumulative fractions are snapped through DECIMAL(18,12)
    then rounded to 6 decimals so engines agree bit-for-bit.  Empty
    baseline degenerates like psi_drift (no edges, empty output); an
    empty CURRENT side has no ECDF, so curr_cum_p and ks_term read NULL
    (``try_divide`` by a zero total) — validate non-emptiness upstream
    if either state is reachable.

    Scale: psi_drift's counts (:func:`_binned_drift_counts`) — one 1-row
    stats aggregate on the baseline (broadcast back), one nbins-key hash
    aggregate per side, a bin-spine join of two nbins-row frames.  The cumulative sum is a
    window over the nbins-row RESULT frame (bins, not data) — tiny by
    construction, so its single-partition sort is a constant, never a
    data-sized global sort.
    """
    from pyspark.sql.window import Window

    counts, totals = _binned_drift_counts(base, curr, col, nbins)
    # the window frame is the nbins-row counts table, never the data
    cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pa = snap(F.try_divide(F.sum("base_n").over(cum), F.col("__bt")))
    pb = snap(F.try_divide(F.sum("curr_n").over(cum), F.col("__ct")))
    return counts.crossJoin(F.broadcast(totals)).select(
        "bin",
        "base_n",
        "curr_n",
        pa.alias("base_cum_p"),
        pb.alias("curr_cum_p"),
        F.round(F.abs(pa - pb), 6).alias("ks_term"),
    )


def rank_transform(
    df: DataFrame, key_col: str, value_col: str, out_col: str = "pct_rank"
) -> DataFrame:
    """Per-key percent-rank transform: ``df`` plus ``out_col`` =
    ``percent_rank()`` of ``value_col`` within its ``key_col`` partition,
    rounded to 6 decimals — the distribution-free normalization feature
    pipelines use when raw scales differ per group (per-language quality
    scores, per-source lengths) and outliers make z-scores unstable.

    Ties share a rank (standard SQL percent_rank), a single-row group
    reads 0, and the transform is invariant to any monotone rescaling of
    the values.  One shuffle (the per-key window sort); nothing else wide.
    For heavy-tailed KEY cardinality the window partitions are key-sized,
    not data-sized — skew in one key is bounded by that key's rows.
    (30x probe slope 0.718, BASELINE.md r11.)  The ceiling is LOW key
    cardinality at extreme scale: with a handful of keys each partition
    sorts ~n/|keys| rows on one task.  Past that, compute the rank via a
    per-(key, value) count aggregate + a distinct-values-sized cumsum
    window joined back (exact for tied-heavy values), or a range-partition
    sort with per-partition offsets (the global-sort machinery) for
    near-unique values — both keep every task's slice bounded."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(F.col(value_col))
    return df.withColumn(out_col, F.round(F.percent_rank().over(w), 6))


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of the given numeric columns in ONE
    aggregate pass: ``(col_a, col_b, corr)`` for every a < b pair, rounded
    to 4 decimals.  The profiling complement of
    :func:`~spark_auto_schema.ops.corpus.profile_table`: per-column stats
    say what each column looks like, the correlation matrix says which
    columns move together (redundant features, leaking identifiers,
    derived-value suspects).

    All k*(k-1)/2 ``corr`` expressions ride a single 1-row aggregate —
    one scan, map-side partial co-moments, a single-row exchange — then a
    tiny literal unpivot.  Constant columns have undefined correlation
    and read NULL — computed as ``try_divide(covar_samp, sa * sb)``
    rather than ``F.corr``, whose final division throws under ANSI mode
    when a column is constant (DIVIDE_BY_ZERO); the quotient is the same
    Pearson r."""
    aggs = []
    names = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
            r = F.try_divide(
                F.covar_samp(ca, cb), F.stddev_samp(ca) * F.stddev_samp(cb)
            )
            aggs.append(F.round(r, 4).alias(f"__c{len(names)}"))
            names.append((a, b))
    row = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__c{i}").alias("corr"),
            )
            for i, (a, b) in enumerate(names)
        ]
    )
    return row.select(F.explode(pairs).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr"
    )


def transition_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event sequences:
    ``(prev_state, next_state, n, p)`` where ``n`` counts adjacent
    (prev -> next) transitions within a key's time-ordered sequence and
    ``p`` is the row-normalized transition probability (6 decimals,
    decimal-snapped).  The sequence-structure complement of
    :func:`funnel_counts`: funnels check ONE prescribed path, the
    transition matrix surfaces ALL observed paths — the standard first
    look at navigation flows, bot loops, and broken-funnel leaks.

    Each key's first event has no predecessor and contributes nothing;
    a key with one event contributes nothing.  ``tiebreak_col`` breaks
    equal timestamps deterministically (defaults to the state itself).

    Scale: ONE shuffle (the per-key lag window, partitions bounded by the
    key's own rows), then a |states|^2-key hash aggregate; the
    normalization rides a window over the states^2-row COUNTS frame,
    never the data."""
    from pyspark.sql.window import Window

    tie = tiebreak_col or state_col
    w = Window.partitionBy(key_col).orderBy(ts_col, tie)
    prev = F.lag(state_col).over(w)
    counts = (
        df.select(
            prev.alias("prev_state"), F.col(state_col).alias("next_state")
        )
        .where(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "next_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_state")
    p = snap(F.try_divide(F.col("n"), F.sum("n").over(norm)))
    return counts.select("prev_state", "next_state", "n", p.alias("p"))


def expectation_suite(df: DataFrame, expectations: list[tuple]) -> DataFrame:
    """Deequ-style data-quality gate: evaluate a list of declarative
    expectations over ``df`` in ONE aggregation pass and return one
    ``(constraint, observed, passed)`` row per expectation.

    Supported specs (tuples):
      ``("not_null", col)``            — observed = null fraction, pass if 0
      ``("unique", col)``              — observed = distinct/total, pass if 1
      ``("min_at_least", col, bound)`` — observed = min(col)
      ``("max_at_most", col, bound)``  — observed = max(col)
      ``("accepted_values", col, vals)`` — observed = fraction of rows whose
        value is in ``vals`` (nulls count as violations), pass if 1
      ``("row_count_at_least", n)``    — observed = count(*)

    The pipeline circuit-breaker that runs between ingest and training:
    a constraint regression (nulls appearing in a key, an enum growing a
    typo'd value, a truncated delivery) fails the batch BEFORE it poisons
    downstream joins or a tokenizer run.  Scale: every metric reduces in
    the same single hash-aggregate scan — adding expectations adds agg
    expressions, not passes; nothing shuffles row data.  The observed
    metric travels with the verdict so a failed gate is diagnosable from
    the report alone.

    Verdicts are derived from EXACT counts (sum of violations == 0,
    count_distinct == count(*)), never from the rounded ratio the report
    shows: at billions of rows a violation fraction below 5e-7 rounds to
    0.0/1.0, and a circuit breaker that passes on a rounded metric would
    wave real violations through."""
    aggs: list[Column] = []
    metas: list[tuple[str, float | None, str]] = []  # (name, bound, kind)
    for i, spec in enumerate(expectations):
        kind = spec[0]
        a, v = f"m{i}", f"v{i}"
        if kind == "not_null":
            col = spec[1]
            aggs.append(
                snap(F.avg(F.col(col).isNull().cast("double"))).alias(a)
            )
            # exact violation count — the verdict source (never the
            # rounded ratio above, which saturates at ~2M rows)
            aggs.append(
                F.coalesce(
                    F.sum(F.col(col).isNull().cast("long")), F.lit(0)
                ).alias(v)
            )
            metas.append((f"not_null({col})", None, kind))
        elif kind == "unique":
            col = spec[1]
            aggs.append(
                snap(F.count_distinct(F.col(col)) / F.count(F.lit(1))).alias(a)
            )
            aggs.append(
                (F.count(F.lit(1)) - F.count_distinct(F.col(col))).alias(v)
            )
            metas.append((f"unique({col})", None, kind))
        elif kind == "min_at_least":
            col, bound = spec[1], float(spec[2])
            aggs.append(F.min(F.col(col)).cast("double").alias(a))
            metas.append((f"min_at_least({col},{spec[2]})", bound, kind))
        elif kind == "max_at_most":
            col, bound = spec[1], float(spec[2])
            aggs.append(F.max(F.col(col)).cast("double").alias(a))
            metas.append((f"max_at_most({col},{spec[2]})", bound, kind))
        elif kind == "accepted_values":
            col, vals = spec[1], list(spec[2])
            # isin is NULL for NULL input; snap to False so a null row
            # counts as a violation (the docstring's contract), not a skip
            ok = F.coalesce(F.col(col).isin(vals), F.lit(False))
            aggs.append(
                snap(F.avg(ok.cast("double"))).alias(a)
            )
            aggs.append(
                F.coalesce(F.sum((~ok).cast("long")), F.lit(0)).alias(v)
            )
            metas.append(
                (f"accepted_values({col},[{','.join(map(str, vals))}])", None, kind)
            )
        elif kind == "row_count_at_least":
            bound = float(spec[1])
            aggs.append(F.count(F.lit(1)).cast("double").alias(a))
            metas.append((f"row_count_at_least({spec[1]})", bound, kind))
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")
    row = df.agg(*aggs)
    checks = []
    for i, (name, bound, kind) in enumerate(metas):
        m = F.col(f"m{i}")
        if kind in ("not_null", "unique", "accepted_values"):
            passed = F.col(f"v{i}") == 0
        elif kind in ("min_at_least", "row_count_at_least"):
            passed = m >= bound
        else:  # max_at_most
            passed = m <= bound
        checks.append(
            F.struct(
                F.lit(name).alias("constraint"),
                m.alias("observed"),
                passed.alias("passed"),
            )
        )
    exploded = row.select(F.explode(F.array(*checks)).alias("c"))
    return exploded.select("c.constraint", "c.observed", "c.passed")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "n",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over an edge list: ``(node, rank)``
    after ``iters`` power iterations from the uniform start, rank snapped
    to 6 decimals.

    rank'(v) = (1-d)/N + d * (sum over in-edges u->v of rank(u) *
    w(u,v)/out_w(u) + dangling_mass/N), where dangling_mass is the total
    rank parked on nodes with no out-edges — the standard correction that
    keeps ranks summing to 1.

    Scale: the expensive part of graph centrality on 100 TB of logs is
    DERIVING the edge relation (one shuffle over the raw events — see
    transition_counts); the iteration itself runs on the aggregated
    |V|+|E| graph, each step one broadcast-size join + hash aggregate.
    Fixed ``iters`` keeps the plan static and oracle-replayable (an
    unrolled CTE chain); convergence-driven variants belong behind a
    driver loop like kmeans_lloyd."""
    src, dst, w = F.col(src_col), F.col(dst_col), F.col(weight_col)
    # persist the |E|-row edge aggregate: nodes/outw/trans and every
    # iteration derive from it, and each rank update references the prior
    # rank TWICE (dangling + inflow) — un-persisted, the upstream edge
    # derivation (at 100 TB: a full event-log window shuffle) re-executes
    # O(2^iters) times through the growing lineage (guide §5; measured
    # 6.16 -> 3.18 s fresh-process median on pagerank_event_types at
    # sf0.1 together with the per-iteration rank persist below)
    e = persist(
        edges.select(src.alias("src"), dst.alias("dst"), w.cast("double").alias("w"))
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # Edge transition probabilities: tiny relative to the raw data the
    # edges were derived from; broadcast onto each iteration's rank frame.
    trans = e.join(outw, on="src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("p")
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    rank = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for _ in range(iters):
        dangling = (
            rank.join(outw.select(F.col("src").alias("node")), on="node", how="left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
        )
        inflow = (
            rank.join(F.broadcast(trans), rank["node"] == trans["src"])
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("p")).alias("r"))
            .groupBy("node")
            .agg(F.sum("r").alias("inflow"))
        )
        # per-iteration persist: the next iteration reads this frame twice
        # (dangling + inflow); the frame is |V| rows — model-sized
        rank = persist(
            nodes.join(inflow, on="node", how="left")
            .crossJoin(F.broadcast(n_nodes))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n_nodes")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dangling") / F.col("n_nodes")
                    )
                ).alias("rank"),
            )
        )
    return rank.select(
        "node",
        snap(F.col("rank")).alias("rank"),
    )


def recency_weighted_stats(
    df: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: float = 7.0,
) -> DataFrame:
    """Per-group recency weighting with exponential half-life decay:
    every row weighs ``w = 2^(-age_days / half_life)`` against the
    corpus's newest timestamp (NOT wall-clock — deterministic and
    replayable), rolled up to ``(grp, n_events, weighted_count,
    weighted_value, effective_fraction)``; weighted_value is the
    recency-weighted mean of ``value_col`` and effective_fraction =
    weighted_count / n (1.0 = everything brand-new, ->0 = stale).  All
    doubles snapped to 6 decimals.

    The freshness dial for per-domain mixing: two sources with equal
    volume but different recency profiles should NOT get equal mixture
    weight when the objective favors current data — this is the
    aggregate that turns "prefer recent" into a number per domain.

    Scale: the reference timestamp is a single-row aggregate broadcast
    back (no second pass logic on the driver); the decay weight is a
    per-row JVM expression inside the scan; the only exchange is the
    |groups|-row hash aggregate."""
    ref = df.agg(F.max(F.unix_micros(F.col(ts_col))).alias("__tmax"))
    age_days = (F.col("__tmax") - F.unix_micros(F.col(ts_col))) / F.lit(
        86400.0 * 1e6
    )
    w = F.pow(F.lit(2.0), -age_days / F.lit(float(half_life_days)))
    # weighted_count is an UNBOUNDED corpus-growing sum (unlike the repo's
    # usual decimal(18,12) fractions): 18,12 leaves 6 integer digits, so a
    # group with >= 1e6 recent events would overflow — NULL on Spark's
    # non-ANSI cast, an error on DuckDB's.  38,12 holds 26 integer digits.
    return (
        df.crossJoin(F.broadcast(ref))
        .select(
            F.col(group_col).alias("grp"),
            F.col(value_col).alias("__v"),
            w.alias("__w"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            snap(F.sum("__w"), precision=38).alias("weighted_count"),
            snap(
                F.sum(F.col("__v") * F.col("__w")) / F.sum("__w")
            ).alias("weighted_value"),
            snap(F.sum("__w") / F.count(F.lit(1))).alias(
                "effective_fraction"
            ),
        )
    )
