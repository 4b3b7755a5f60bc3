"""Corpus-level operators: data profiling, snapshot diff, epoch sharding,
and domain mix weights — the bookkeeping layer of a training-data pipeline.

A 100 TB corpus is not a static file; it is versioned (crawl refreshes,
filter re-runs), audited (per-column quality profiles), re-weighted
(domain temperature mixing), and re-ordered (per-epoch shuffles) between
training runs.  These operators cover that lifecycle with the same
determinism contract as the rest of the package: every output is a pure
function of the input data, reproducible across runs, engines, and
partitionings, and each driver query is verified value-for-value against
a DuckDB oracle.

Scale notes (100 TB):

* :func:`profile_table` is one full scan producing ONE row (a partial→final
  hash aggregate, the same shape as the schema-inference flagship), then a
  constant-size ``stack`` unpivot of that row.  No wide shuffle, no second
  scan, cost independent of column count beyond the agg expressions.
* :func:`corpus_diff` is a single co-partitioned full-outer equi-join on
  the id — both sides shuffle once on the same key, nothing is broadcast,
  and the md5 fingerprints reduce row width to 32 bytes before the join.
* :func:`epoch_shuffle` deliberately does NOT build a global row_number
  (a single-partition window is a driver-sized bottleneck at any scale).
  It hashes rows into ``num_shards`` balanced shards and numbers rows
  *within* each shard — the window sort is shard-local, so parallelism is
  ``num_shards`` and no task ever sees more than ``n / num_shards`` rows.
  (shard, pos_in_shard) is exactly the addressing a sharded training
  loader consumes.
* :func:`mix_weights` aggregates to one row per domain (thousands at
  most), then broadcasts the 1-row normalizer — no data-sized shuffle
  beyond the count aggregate.

Reference parity: the reference engine (mikethoun/redshift-auto-schema)
has no corpus-versioning surface — these extend the §2B LLM-pipeline
layer mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .._cache import persist, release_caches  # noqa: F401 re-export
from .._snap import snap
from ._tokens import _hex_int

# ASCII unit separator: joins fingerprint columns without colliding with
# text content (documents are word-soup; real corpora could contain any
# printable delimiter).
_FS = "\x1f"

# ---------------------------------------------------------------- profiling
def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """Per-column data-quality profile: (column, n_rows, n_nulls,
    n_distinct, min_value, max_value), one output row per column.

    The profile is computed in ONE pass: a single aggregate row holding
    every column's stats (partial aggregation map-side, one 1-row
    exchange — machine-asserted for the same plan shape in
    ``tests/test_plans.py`` for inference), then a ``stack`` unpivot into
    the long format.  min/max are computed in the column's native type
    (numeric min, not lexicographic) and cast to string afterwards so one
    schema fits every column.  ``n_distinct`` is exact and ignores nulls
    (``count(DISTINCT c)`` semantics, identical in ANSI SQL).

    ``exact=False`` swaps ``count(DISTINCT c)`` for HLL++
    ``approx_count_distinct`` (~5 % rsd) — at 100 TB the exact variant
    Expands the input once per profiled column before its distinct
    aggregates, while the sketch keeps the single-pass plan with O(1)
    state per column; use approx for routine profiling, exact when the
    numbers feed an audit (or a DuckDB oracle).
    """
    cols = list(columns) if columns is not None else list(df.columns)
    distinct_of = F.count_distinct if exact else F.approx_count_distinct
    # TWO single-row aggregate passes, not one: count/null/distinct
    # buffers are all longs/sketches, so that pass stays a map-side
    # HashAggregate even through the multi-distinct Expand; min/max over
    # STRING columns carry variable-length agg buffers, which force the
    # whole aggregate into SortAggregate — mixed into one pass they
    # dragged the Expand-multiplied relation through a sort (measured
    # 3.6 s -> 1.4 s on 150k x 6 at sf0.1).  Both passes are
    # column-pruned scans with partial aggregation; the join of two
    # 1-row frames is free (guide §1.2: fix the algorithm, not the
    # config).
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
        aggs.append(distinct_of(F.col(c)).alias(f"__distinct_{c}"))
    minmax = []
    for c in cols:
        minmax.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        minmax.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    row = df.agg(*aggs).crossJoin(df.agg(*minmax))
    stack_args = ", ".join(
        f"'{c}', `__nulls_{c}`, `__distinct_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return row.selectExpr(
        "__n_rows AS n_rows",
        f"stack({len(cols)}, {stack_args}) AS "
        "(column, n_nulls, n_distinct, min_value, max_value)",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


# ------------------------------------------------------------ snapshot diff
def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    fingerprint_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Row-level diff between two corpus snapshots: (id, status, old_fp,
    new_fp) with status ADDED / REMOVED / CHANGED (and UNCHANGED when
    ``include_unchanged``).

    The data-level sibling of the schema-level
    ``SparkAutoSchema.evaluate_table_ddl_diffs`` (SURVEY §2A rows 23-26):
    the same full-outer-join + CASE dataflow, applied to content
    fingerprints instead of column types.  Each side is reduced to
    (id, md5(fingerprint columns)) before the join, so the shuffle moves
    32-byte digests, not documents.
    """
    fcols = (
        list(fingerprint_cols)
        if fingerprint_cols is not None
        else [c for c in old_df.columns if c != id_col]
    )

    def fp(df: DataFrame, out: str) -> DataFrame:
        digest = F.md5(
            F.concat_ws(_FS, *[F.col(c).cast("string") for c in fcols])
        )
        return df.select(F.col(id_col).alias("id"), digest.alias(out))

    o, n = fp(old_df, "old_fp"), fp(new_df, "new_fp")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("ADDED"))
        .when(F.col("new_fp").isNull(), F.lit("REMOVED"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("CHANGED"))
        .otherwise(F.lit("UNCHANGED"))
    )
    out = o.join(n, "id", "full_outer").select(
        F.col("id").alias(id_col), status.alias("status"), "old_fp", "new_fp"
    )
    if not include_unchanged:
        out = out.where(F.col("status") != "UNCHANGED")
    return out


# ------------------------------------------------------------ epoch shuffle
def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    num_shards: int = 64,
) -> DataFrame:
    """Deterministic per-epoch shuffle as sharded addressing: (id, shard,
    pos_in_shard), a pure function of (id, seed).

    Training loaders consume data as "shard file k, position p", and every
    epoch wants a different — but exactly reproducible — permutation.
    Hash (seed, id) once: the top bits pick the shard (uniform, balanced),
    the full digest orders rows within the shard.  The row_number window is
    partitioned BY SHARD, never global — a global ordering would serialize
    the corpus through one task, while this plan's parallelism equals
    ``num_shards`` (size it at ~4x the target cluster's core count).
    """
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    shard = (_hex_int(h, 1, 4) % F.lit(num_shards)).alias("shard")
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.select(F.col(id_col), shard, h.alias("__h"))
        .withColumn("pos_in_shard", F.row_number().over(w))
        .select(id_col, "shard", "pos_in_shard")
    )


# --------------------------------------------------------------- mix weights
def mix_weights(
    df: DataFrame,
    domain_col: str = "source",
    alpha: float = 0.7,
    budget: int = 100_000,
) -> DataFrame:
    """Temperature-based domain mixing weights: (domain, n_docs, weight,
    target_docs) with ``weight ∝ n_docs ** alpha`` normalized to 1.

    The standard multilingual/multi-domain re-balancing rule (alpha=1
    keeps natural proportions, alpha=0 is uniform, 0<alpha<1 up-weights
    the tail — alpha≈0.7 is the conventional default).  ``target_docs``
    is the per-domain document budget a sampler (``ops.sampling``) then
    enforces.  Cost: one count aggregate to domain granularity, then a
    broadcast of the single normalizer row.
    """
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    powed = counts.withColumn(
        "__p", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    )
    z = powed.agg(F.sum("__p").alias("__z"))
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "domain",
            "n_docs",
            F.round(F.col("__p") / F.col("__z"), 4).alias("weight"),
            # floor() over a 6-decimal pre-round: pow() may differ by 1 ulp
            # between engines, and a bare floor flips on exact-integer
            # boundaries (uniform domain counts put budget*w exactly there)
            F.floor(F.round(F.lit(float(budget)) * F.col("__p") / F.col("__z"), 6))
            .cast("long")
            .alias("target_docs"),
        )
    )


# ----------------------------------------------------------- materialize mix
def materialize_mix(
    df: DataFrame,
    targets: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Physically realize a domain mix: emit each document ``copies`` times
    so every domain hits its ``target_docs`` budget exactly — the step that
    turns :func:`mix_weights` output into an actual training corpus.

    ``targets`` is (domain, target_docs) — typically the
    :func:`mix_weights` result.  Per domain with n documents and target t:
    every document gets ``t // n`` full copies, and the ``t % n`` documents
    ranked first by ``md5(domain:id)`` get one extra — so the output has
    EXACTLY t rows per domain, the same multiset on every engine and every
    partitioning (the hash rank is content-addressed, not partition-order).
    Upsampling (t > n, epochs over a small domain) and downsampling (t < n,
    ``t // n = 0`` and only the hash-ranked prefix survives) are the same
    formula.

    Output: (id, domain, copy_idx) with copy_idx in [0, copies) — the
    loader-facing addressing; join back to content by id downstream.

    Scale: one domain-partitioned row_number window (the same shape as
    stratified sampling — parallelism = domain count, no task sees more
    than one domain's rows; salt upstream if one domain dominates) plus a
    broadcast of the domain-sized target table; the explode is row-local.
    Never a global sort, never a driver-side loop over domains.
    """
    h = F.md5(
        F.concat_ws(":", F.col(domain_col).cast("string"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(domain_col).orderBy("__h", id_col)
    t = targets.select(
        F.col("domain").alias("__dom"), F.col("target_docs").alias("__t")
    )
    ranked = (
        df.select(F.col(id_col), F.col(domain_col), h.alias("__h"))
        .withColumn("__rk", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(domain_col)))
        .join(F.broadcast(t), F.col(domain_col) == F.col("__dom"))
    )
    copies = (F.col("__t") / F.col("__n")).cast("long") + F.when(
        F.col("__rk") <= F.col("__t") % F.col("__n"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ranked.withColumn("__c", copies)
        .where(F.col("__c") > 0)
        .select(
            id_col,
            domain_col,
            F.explode(F.sequence(F.lit(0), F.col("__c") - 1)).alias("copy_idx"),
        )
    )


# ------------------------------------------------------- token-budget select
def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    score_col: str = "score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    bucket_decimals: int = 3,
) -> DataFrame:
    """Select the highest-scoring documents whose token counts fit a budget:
    greedy by score, deterministic, WITHOUT a global sort of the corpus.

    The naive plan — sort by score desc, running-sum window, cut at the
    budget — funnels the whole corpus through one task (a global window has
    a single partition).  Instead the score is quantized into fixed integer
    buckets (``floor(score * 10^bucket_decimals + 0.5)`` — floor-plus-half
    rather than round(): engines disagree on round-half doubles, while this
    is identical IEEE arithmetic everywhere): per-bucket token totals are a
    small aggregate, the running sum OVER BUCKETS is a window on that
    bucket-sized table (thousands of rows, not billions), whole buckets
    above the boundary are kept via a broadcast semi-join, and only the ONE
    boundary bucket — ~1/10^bucket_decimals of the corpus — pays a
    bucket-local rank-and-cumsum to fill the remaining budget.  Ties inside
    the boundary bucket break by ``md5(id)`` then id: content-addressed,
    so the selected SET is identical on every engine and partitioning.

    Output: (id, score bucket, n_tokens) for every selected document.
    """
    b = (
        F.floor(
            F.col(score_col) * F.lit(float(10**bucket_decimals)) + F.lit(0.5)
        )
        .cast("long")
        .alias("bucket")
    )
    docs = df.select(F.col(id_col), b, F.col(tokens_col))
    tot = docs.groupBy("bucket").agg(F.sum(tokens_col).alias("__bt"))
    wb = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = tot.withColumn("__cum", F.sum("__bt").over(wb)).withColumn(
        "__before", F.col("__cum") - F.col("__bt")
    )
    full = cum.where(F.col("__cum") <= budget_tokens).select("bucket")
    boundary = cum.where(
        (F.col("__before") < budget_tokens) & (F.col("__cum") > budget_tokens)
    ).select("bucket", (F.lit(budget_tokens) - F.col("__before")).alias("__rem"))
    kept_full = docs.join(F.broadcast(full), "bucket", "left_semi")
    h = F.md5(F.col(id_col).cast("string"))
    wd = Window.partitionBy("bucket").orderBy("__h", id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    kept_boundary = (
        docs.join(F.broadcast(boundary), "bucket")
        .withColumn("__h", h)
        .withColumn("__run", F.sum(tokens_col).over(wd))
        .where(F.col("__run") <= F.col("__rem"))
        .select("bucket", id_col, tokens_col)
    )
    return kept_full.select("bucket", id_col, tokens_col).unionByName(
        kept_boundary
    ).select(id_col, "bucket", tokens_col)


def domain_cap(
    df: DataFrame,
    domain_col: str,
    cap: int,
    id_col: str = "doc_id",
    priority_col: str | None = None,
) -> DataFrame:
    """Cap the number of documents kept per domain at ``cap`` — the
    per-domain frequency ceiling every web-scale corpus applies so a
    handful of boilerplate-heavy hosts cannot dominate the training mix
    (RefinedWeb/C4-style "top-domain capping").

    Which rows survive an over-cap domain is deterministic and
    content-addressed: highest ``priority_col`` first when given (quality
    scores — keep the best), then ``md5(id)``, then id — so the selected
    SET is identical across engines, partitionings, and reruns.

    Scale (100 TB): the naive plan — one row_number window over every
    domain — sorts the ENTIRE corpus, even though in a real crawl the
    overwhelming majority of domains sit far under any sane cap.  Instead
    a first count aggregate (map-side combined, one row per domain) finds
    the over-cap domains; there are at most ``n / cap`` of them, so that
    list broadcasts.  Under-cap rows pass through with a broadcast
    ANTI-join — no sort, no shuffle beyond the count.  Only rows of
    over-cap domains (a broadcast SEMI-join selects them) pay the
    partitionBy(domain) row_number, and that window's sort is per-domain,
    parallel across domains.  A pathologically hot single domain bounds a
    task at that domain's row count; cap skew there with a pre-filter on a
    cheap per-row hash rank if needed (keep ~2x cap by hash bucket first).
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    over = counts.where(F.col("__n") > cap).select(domain_col)
    under_rows = df.join(F.broadcast(over), domain_col, "left_anti")
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    if priority_col is not None:
        order.insert(0, F.col(priority_col).desc())
    w = Window.partitionBy(domain_col).orderBy(*order)
    over_rows = (
        df.join(F.broadcast(over), domain_col, "left_semi")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .drop("__rk")
    )
    return under_rows.unionByName(over_rows)


def suggest_keys(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """Data-driven key discovery over one table: per column ``(column,
    n_rows, n_nulls, n_distinct, uniqueness, is_unique,
    distkey_rank)`` — the evidence behind PRIMARY KEY / DISTKEY choices
    the reference leaves to the user (its DDL emitter takes them as
    arguments; RAS.py:120-137 renders whatever it is told).

    ``is_unique`` marks strict PK candidates (no nulls, every value
    distinct).  ``distkey_rank`` orders columns by distribution quality
    for a hash-distributed warehouse: null-free columns first, then
    highest cardinality (high-cardinality keys spread rows evenly;
    a low-cardinality DISTKEY concentrates data on few slices) —
    rank 1 is the recommended DISTKEY.  ``uniqueness`` =
    n_distinct / (n_rows - n_nulls), rounded to 6 decimals.

    Cost: exactly :func:`profile_table`'s single-pass aggregate (it IS the
    input), plus a window over the |columns|-row profile — driver-sized,
    never data-sized.  ``exact=False`` uses the HLL++ sketch profile: the
    cardinality RANKING tolerates the ~5 % sketch error (candidates are
    separated by orders of magnitude in practice), but strict PK
    candidacy cannot be asserted from an estimate, so ``is_unique``
    reports NULL — confirm the chosen key with one exact pass."""
    from pyspark.sql.window import Window

    prof = profile_table(df, columns, exact=exact)
    is_unique = (
        (F.col("n_nulls") == 0) & (F.col("n_distinct") == F.col("n_rows"))
        if exact
        else F.lit(None).cast("boolean")
    )
    uniq = F.round(
        F.try_divide(F.col("n_distinct"), F.col("n_rows") - F.col("n_nulls")), 6
    )
    w = Window.orderBy(
        (F.col("n_nulls") > 0).cast("int"),
        F.col("n_distinct").desc(),
        F.col("column"),
    )
    return prof.select(
        "column",
        "n_rows",
        "n_nulls",
        "n_distinct",
        uniq.alias("uniqueness"),
        is_unique.alias("is_unique"),
        F.row_number().over(w).alias("distkey_rank"),
    )


def fk_candidates(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
) -> DataFrame:
    """Foreign-key containment check: does every (non-null) value of
    ``child.child_col`` exist in ``parent.parent_col``?  One row:
    ``(n_child_rows, n_child_nulls, n_child_distinct, n_orphan_values,
    containment)`` where orphans are distinct child values absent from the
    parent and containment = 1 - orphans/distinct (rounded to 6; 1.0 means
    the FK holds).  NULL children are excluded, matching SQL FK semantics.

    Scale: both sides reduce to their distinct value sets FIRST (map-side
    combined hash aggregates on the key — |keys| rows, not |rows|), then
    one LEFT ANTI join between the two distinct sets.  The parent's
    distinct keys are usually dimension-sized, so AQE broadcasts the anti
    join; the child table itself is scanned once and never shuffled whole.
    """
    c = child.select(F.col(child_col).alias("__v"))
    stats = c.agg(
        F.count(F.lit(1)).alias("n_child_rows"),
        F.sum(F.col("__v").isNull().cast("long")).alias("n_child_nulls"),
        F.count_distinct(F.col("__v")).alias("n_child_distinct"),
    )
    cd = c.where(F.col("__v").isNotNull()).distinct()
    pd_ = parent.select(F.col(parent_col).alias("__v")).distinct()
    orphans = cd.join(pd_, ["__v"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_orphan_values")
    )
    return stats.crossJoin(F.broadcast(orphans)).select(
        "n_child_rows",
        "n_child_nulls",
        "n_child_distinct",
        "n_orphan_values",
        F.round(
            F.lit(1.0)
            - F.try_divide(F.col("n_orphan_values"), F.col("n_child_distinct")),
            6,
        ).alias("containment"),
    )


def table_checksum(
    df: DataFrame, cols: list[str] | None = None, n_shards: int = 16
) -> DataFrame:
    """Order-independent content checksum of a table, sharded:
    ``(shard, n_rows, digest_sum)`` where each row's digest is
    ``md5(col1 || 0x1f || col2 || ...)`` (NULLs as a sentinel), the shard
    is the digest's top hex nibbles mod ``n_shards``, and ``digest_sum``
    is the BIGINT sum of a 20-bit digest word within the shard —
    commutative, so ANY partitioning, ordering, or engine produces the
    identical value.

    The cheap reproducibility gate :func:`corpus_diff` is too heavy for:
    after a migration, a re-shuffle, or a replay, two materializations of
    the same logical table must agree on every (shard, n_rows,
    digest_sum) row — one number per shard instead of a row-level diff,
    computed in ONE scan with no sort.  A mismatch then localizes to the
    disagreeing shard(s), cutting the follow-up diff to 1/n_shards of
    the table.

    The summed word is hex chars 5-12 of the digest mod 2^20 —
    deliberately disjoint from the shard nibbles (chars 1-4), so shard
    assignment and checksum word are independent md5 output bits.  The
    sum stays int64 on every engine (DuckDB would promote an integer
    sum to HUGEINT/decimal128 without an explicit BIGINT cast, and
    decimal canonical forms differ across engines — proven divergence in
    round 7); overflow needs >2^43 rows PER SHARD (~8.8e12, two orders
    past a 100 TB table sharded 16 ways).  Caller chooses ``cols`` to
    pin the canonical string forms (timestamps/floats stringify
    differently across engines; cast them explicitly upstream)."""
    cols = cols or df.columns
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols
    ]
    digest = F.md5(F.concat_ws("\x1f", *parts))
    word = _hex_int(digest, 5, 8) % (1 << 20)
    shard = (_hex_int(digest, 1, 4) % n_shards).cast("int")
    return (
        df.select(shard.alias("shard"), word.alias("__w"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__w").alias("digest_sum"),
        )
    )


def waterfill_allocation(
    sizes: DataFrame,
    group_col: str,
    size_col: str,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Water-filling cap allocation over group sizes: ``(group, n_tokens,
    allocation, capped)`` where ``allocation = min(n_tokens, L)`` and the
    water level ``L`` is the unique solution of ``sum min(n_tokens, L) =
    budget_frac * total`` — the balanced-mixture primitive that caps
    dominant sources while leaving small ones untouched (the continuous
    form of the max-per-domain cap; cf. domain_cap's count form).

    Algorithm: sort groups ascending by size; for boundary i ("groups
    before i are fully kept, i.. are capped"), the candidate level is
    ``L_i = (B - cum_{i-1}) / (n - i + 1)``, valid iff it lands between
    the neighboring sizes — a closed form, no iteration.  Exactly one
    boundary is valid when B < total; when B >= total no row validates
    and every group keeps its full size (level = +inf conceptually).

    Scale: ``sizes`` is already the aggregated per-group frame (|groups|
    rows — the corpus-wide token count that produced it was the 100 TB
    scan).  The sort window, the cumulative sum, and the level selection
    all run on that small frame; the level is a 1-row broadcast back.
    Level and allocation are decimal-snapped to 6 (the level division is
    the only non-integer arithmetic — ordered window cumsums are exact)."""
    g = sizes.select(
        F.col(group_col).alias("grp"), F.col(size_col).cast("double").alias("t")
    )
    w = Window.orderBy("t", "grp")
    ranked = g.select(
        "grp",
        "t",
        F.row_number().over(w).alias("rn"),
        F.sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("cum_prev"),
        F.lag("t").over(w).alias("t_prev"),
    ).crossJoin(
        F.broadcast(
            g.agg(
                F.sum("t").alias("total"), F.count(F.lit(1)).alias("n_grps")
            ).select("total", "n_grps", (F.col("total") * budget_frac).alias("budget"))
        )
    )
    cand = (
        F.col("budget") - F.coalesce(F.col("cum_prev"), F.lit(0.0))
    ) / (F.col("n_grps") - F.col("rn") + 1)
    valid = (cand <= F.col("t")) & (
        F.col("t_prev").isNull() | (cand >= F.col("t_prev"))
    )
    level = ranked.agg(
        F.min(F.when(valid, cand)).alias("level")  # unique when budget < total
    )
    return (
        g.crossJoin(F.broadcast(level))
        .select(
            F.col("grp").alias(group_col),
            F.col("t").cast("long").alias("n_tokens"),
            snap(F.least(F.col("t"), F.coalesce(F.col("level"), F.col("t")))).alias(
                "allocation"
            ),
            (F.col("level").isNotNull() & (F.col("t") > F.col("level"))).alias(
                "capped"
            ),
        )
    )


def filter_funnel(
    df: DataFrame, rules: list[tuple[str, "F.Column"]]
) -> DataFrame:
    """Curation-filter rejection funnel: apply named keep-predicates in
    order and report, per rule, ``(stage, rule, n_input, n_rejected_alone,
    n_survivors)`` — how many rows the rule rejects on its own, and how
    many survive the cumulative chain up to and including it.

    The audit layer every multi-stage quality pipeline needs: when a
    filter re-run drops 40% of the corpus, this says WHICH rule did it
    and whether it overlaps earlier rules (``n_rejected_alone`` large but
    survivors barely moved = redundant rule; survivors collapse at stage
    k = that rule is the cliff).  A NULL predicate result counts as a
    rejection (filters must affirmatively keep a row), matching the
    expectation_suite convention.

    Scale: every counter reduces in ONE hash-aggregate pass over ONE
    scan — adding rules adds agg expressions, not passes; the explode at
    the end unpivots a single driver-sized row.  This is the profiled
    (counting) twin of a chained ``.where``; the actual filtering stays a
    plain conjunctive ``where`` that Catalyst pushes down."""
    if not rules:
        # explode of a zero-element array would raise an opaque
        # AnalysisException; an empty funnel is a caller bug
        raise ValueError("filter_funnel needs at least one (name, predicate) rule")
    aggs = [F.count(F.lit(1)).alias("n_total")]
    cum = None
    for i, (name, pred) in enumerate(rules):
        keep = F.coalesce(pred, F.lit(False))
        cum = keep if cum is None else (cum & keep)
        # coalesce: sum over ZERO rows is NULL, but an empty corpus must
        # report 0-valued counters (the DuckDB oracle twin coalesces too)
        aggs.append(
            F.coalesce(F.sum((~keep).cast("long")), F.lit(0)).alias(f"alone{i}")
        )
        aggs.append(
            F.coalesce(F.sum(cum.cast("long")), F.lit(0)).alias(f"cum{i}")
        )
    row = df.agg(*aggs)
    stages = []
    for i, (name, _) in enumerate(rules):
        n_input = F.col("n_total") if i == 0 else F.col(f"cum{i - 1}")
        stages.append(
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(name).alias("rule"),
                n_input.alias("n_input"),
                F.col(f"alone{i}").alias("n_rejected_alone"),
                F.col(f"cum{i}").alias("n_survivors"),
            )
        )
    return (
        row.select(F.explode(F.array(*stages)).alias("s"))
        .select("s.stage", "s.rule", "s.n_input", "s.n_rejected_alone", "s.n_survivors")
    )


def gini_concentration(
    df: DataFrame, group_col: str, weight_col: "F.Column | str | None" = None
) -> DataFrame:
    """Corpus concentration over groups: one row ``(n_groups, total,
    gini, top1_share, top5_share)`` measuring how unevenly weight (docs,
    tokens, bytes) is spread across sources/domains/languages.

    gini = (2 * sum_i i*w_(i)) / (n * sum w) - (n + 1) / n over weights
    sorted ascending (1-based i) — 0 is perfectly balanced, ->1 is one
    group holding everything.  The drift sentinel for mixture health:
    a crawl refresh that doubles one domain moves gini/top-shares before
    it moves any per-query metric.  Shares and gini snapped to 6
    decimals.

    Scale: one hash aggregate to group granularity, then windows over
    the |groups|-sized frame (thousands at most — the documented
    aggregate-frame exception to the no-global-window rule)."""
    # coalesce: a group whose weights are entirely NULL sums to NULL; it
    # carries zero weight, and leaving it NULL would both put its rank at
    # an engine-dependent position (Spark sorts NULLS FIRST ascending,
    # DuckDB NULLS LAST) and exclude it from the weight sums while still
    # counting in n — pinning it to 0 keeps the sorted-index formula exact
    w = (
        F.count(F.lit(1)).alias("w")
        if weight_col is None
        else F.coalesce(
            F.sum(
                F.col(weight_col) if isinstance(weight_col, str) else weight_col
            ),
            F.lit(0),
        ).alias("w")
    )
    g = df.groupBy(F.col(group_col).alias("grp")).agg(w)
    # aggregate-sized frame: |groups| rows, window sort is fine
    ranked = g.select(
        F.col("w").cast("double").alias("w"),
        F.row_number().over(Window.orderBy(F.col("w").asc(), F.col("grp"))).alias("i"),
        F.row_number()
        .over(Window.orderBy(F.col("w").desc(), F.col("grp")))
        .alias("ri"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_groups"),
        # round() first: Spark's double->long cast truncates, and DuckDB's
        # bare CAST(DOUBLE AS BIGINT) is half-to-EVEN — both diverge from
        # this half-away F.round, so the oracle rounds (half-away) before
        # its cast too; identical for integral weights below 2^53
        F.round(F.sum("w")).cast("long").alias("total"),
        snap(
            F.lit(2.0) * F.sum(F.col("i") * F.col("w"))
            / (F.count(F.lit(1)) * F.sum("w"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1))
        ).alias("gini"),
        snap(
            F.sum(F.when(F.col("ri") <= 1, F.col("w")).otherwise(F.lit(0.0)))
            / F.sum("w")
        ).alias("top1_share"),
        snap(
            F.sum(F.when(F.col("ri") <= 5, F.col("w")).otherwise(F.lit(0.0)))
            / F.sum("w")
        ).alias("top5_share"),
    )


def mix_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Per-group categorical-mix drift between two snapshots: ``(grp,
    n_a, n_b, n_cats, l1_distance)`` where ``l1_distance = sum over
    categories |share_a - share_b|`` (= 2x total-variation distance) of
    the within-group category shares.  The categorical sibling of
    ``scoring.score_drift``: a source whose language (or license, or
    format) mix moves between releases changed WHAT it contributes even
    if its volume held still — the dial mix_weights/materialize_mix
    consumers watch before retraining the sampling weights.  Only groups
    present in both snapshots are scored.

    Scale: one (group, category)-keyed count per snapshot (map-side
    combined), a full-outer join on that |groups| x |cats| frame, a
    |groups|-row totals rejoin — nothing downstream of the first
    aggregates touches row data."""

    def counts(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(
            F.col(group_col).alias("grp"), F.col(cat_col).alias("cat")
        ).agg(F.count(F.lit(1)).alias(f"c_{side}"))

    j = (
        counts(df_a, "a")
        .join(counts(df_b, "b"), ["grp", "cat"], "full_outer")
        .select(
            "grp",
            "cat",
            F.coalesce("c_a", F.lit(0)).alias("ca"),
            F.coalesce("c_b", F.lit(0)).alias("cb"),
        )
    )
    tot = j.groupBy("grp").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    return (
        j.join(tot, "grp")
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy("grp")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.count(F.lit(1)).alias("n_cats"),
            snap(
                F.sum(
                    F.abs(
                        F.col("ca") / F.col("na") - F.col("cb") / F.col("nb")
                    )
                )
            ).alias("l1_distance"),
        )
    )


def curriculum_phases(
    df: DataFrame,
    score_col: str,
    n_phases: int = 4,
) -> DataFrame:
    """Quality-curriculum phase assignment: split the corpus into
    ``n_phases`` score-quantile bands and report per band ``(phase,
    n_docs, share, min_score, max_score, avg_score)`` — phase 1 holds the
    lowest-scoring quantile, phase ``n_phases`` the highest (the standard
    easy/noisy-first -> clean-last curriculum ordering used when a
    training run anneals its data quality; the per-phase stats are the
    handoff to a sharded loader that consumes phases in order).

    Boundary rule: phase = 1 + |{interior quantile boundaries b_i :
    score > b_i}| with exact interpolated percentiles at i/n_phases
    (i = 1..n_phases-1), each snapped to 6 decimals BEFORE the compare so
    the band edges are engine-stable — ties at a boundary always fall to
    the lower phase.  Heavy score ties can leave a phase empty; empty
    phases are simply absent from the output rather than padded.

    Scale: one exact-percentile aggregate to a single (n_phases-1)-point
    boundary row (swap ``F.percentile`` for ``approx_percentile`` at
    extreme scale, same note as score_drift), broadcast back as a 1-row
    frame; assignment is an in-scan array expression (no join key, no
    shuffle); the rollup is an |n_phases|-row hash aggregate, and the
    share normalizer is a window over that |n_phases|-row frame."""
    if n_phases < 2:
        raise ValueError(f"n_phases must be >= 2, got {n_phases}")
    probs = [i / n_phases for i in range(1, n_phases)]
    bounds = df.agg(
        F.transform(
            F.percentile(F.col(score_col), F.array(*[F.lit(p) for p in probs])),
            lambda b: snap(b),
        ).alias("__bs")
    )
    v = F.col(score_col)
    phase = (
        (F.lit(1) + F.size(F.filter(F.col("__bs"), lambda b: v > b)))
        .cast("long")
        .alias("phase")
    )
    per = (
        df.select(v.alias(score_col))
        .crossJoin(F.broadcast(bounds))
        .select(phase, v.alias("__v"))
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("__v").alias("min_score"),
            F.max("__v").alias("max_score"),
            snap(F.avg("__v")).alias("avg_score"),
        )
    )
    w_all = Window.partitionBy()
    return per.select(
        "phase",
        "n_docs",
        snap(F.col("n_docs") / F.sum("n_docs").over(w_all)).alias("share"),
        "min_score",
        "max_score",
        "avg_score",
    )


def post_dedup_mix_weights(
    survivorship: DataFrame,
    target_shares: dict[str, float],
    group_col: str = "source",
    tokens_col: str = "tokens_kept_near",
) -> DataFrame:
    """Post-dedup mixture realization: given per-source SURVIVING token
    counts (:func:`~.dedup.token_survivorship` output) and target token
    SHARES, the largest corpus that honors the shares with sampling
    rates <= 1 — ``(source, surviving_tokens, target_share, take_tokens,
    rate, binding)``.

    Mixture weights are set in tokens and dedup changes the token
    supply unevenly per source (that is token_survivorship's whole
    point); sampling at pre-dedup rates afterwards silently bends the
    realized mixture.  The exact fixed-proportions solution: the total
    budget is ``B = min over s of surviving_s / share_s`` (the BINDING
    source is taken whole), every source contributes ``floor(B *
    share_s)`` tokens, and ``rate = take / surviving``.  Up-weighting
    beyond supply (rate > 1, i.e. repeating data) is a policy decision
    this op deliberately refuses to make silently — the binding flag
    shows exactly which source constrains the corpus and by how much.

    Shares must be positive and sum to ~1 (validated); sources in the
    survivorship frame but not in ``target_shares`` get share 0 (take 0,
    never binding); a target source MISSING from the frame raises —
    a mixture spec naming an absent source is a config bug, not a 0.

    Scale: |sources|-row input; the binding minimum is one scalar
    aggregate broadcast back (AQE converts) — nothing here touches the
    corpus itself."""
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    if any(v <= 0 for v in target_shares.values()):
        raise ValueError("target shares must all be positive")
    tot = sum(target_shares.values())
    if abs(tot - 1.0) > 1e-6:
        raise ValueError(f"target shares must sum to 1, got {tot}")
    # the survivorship frame is typically the full exact+near dedup
    # pipeline; three actions read it below (presence validation, the
    # budget scalar, the output) — persist once or pay the pipeline 3x
    survivorship = persist(survivorship)
    spark = survivorship.sparkSession
    shares = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(target_shares.items())],
        f"{group_col} string, target_share double",
    )
    present = {
        r[0]
        for r in survivorship.select(group_col)
        .join(shares, on=group_col, how="left_semi")
        .collect()
    }
    missing = sorted(set(target_shares) - present)
    if missing:
        raise ValueError(
            f"target_shares name sources absent from survivorship: {missing}"
        )
    s = survivorship.select(
        F.col(group_col),
        F.col(tokens_col).cast("long").alias("surviving_tokens"),
    ).join(shares, on=group_col, how="left")
    s = s.withColumn(
        "target_share", F.coalesce("target_share", F.lit(0.0))
    )
    # the ONE ratio expression both the budget min and the binding
    # compare evaluate — sharing the Column object (not just the text)
    # makes it impossible for a future edit to perturb one side and
    # silently empty the binding set; guarded by
    # test_mix_weights_binding_is_exact_recomputation (r13-ADVICE)
    ratio = F.col("surviving_tokens") / F.col("target_share")
    budget = s.where(F.col("target_share") > 0).agg(
        F.min(ratio).alias("__b")
    )
    out = s.crossJoin(F.broadcast(budget)).select(
        group_col,
        "surviving_tokens",
        snap(F.col("target_share")).alias("target_share"),
        F.floor(F.col("__b") * F.col("target_share"))
        .cast("long")
        .alias("take_tokens"),
        snap(
            F.when(
                F.col("surviving_tokens") > 0,
                F.floor(F.col("__b") * F.col("target_share"))
                / F.col("surviving_tokens"),
            ).otherwise(F.lit(0.0))
        ).alias("rate"),
        # EXACT-recomputation semantics: the min was computed over the
        # SHARED `ratio` Column above, so the binding source's ratio
        # equals __b bit-for-bit — no epsilon (an absolute 1e-9 at ~1e12
        # token magnitudes sits far below one ulp, so it could only ever
        # match the exact recomputation anyway, while READING as if
        # near-ties were detected; they are not — a near-tie is reported
        # only via the per-source rate column)
        ((F.col("target_share") > 0) & (ratio == F.col("__b"))).alias(
            "binding"
        ),
    )
    return out
