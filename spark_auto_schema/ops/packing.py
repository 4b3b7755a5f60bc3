"""Sequence packing and corpus mixing: the operators that turn a cleaned,
deduplicated document corpus into training-ready sequences.

``pack_sequences`` groups documents into fixed token-budget packs (the unit
an LLM trainer consumes); ``mix_by_column`` subsamples domains of a corpus
to target proportions.  Both are deterministic and content-keyed — the same
inputs produce the same packs/mix on every run, engine, and partitioning —
and both are exactly reproducible in ANSI SQL so the driver's DuckDB oracle
verifies them value-for-value.

Scale notes (100 TB):

* ``pack_sequences`` shuffles once, on a bounded hash-bucket key (default
  1024 buckets — raise to ~4x the executor-core count of the target
  cluster), then packs with a window cumsum inside each bucket.  Packing is
  bucket-local by construction: no global coordination, no driver state, and
  bucket sizes are balanced because the bucket key is a uniform content
  hash.  The window sort is the only per-bucket cost.
* ``mix_by_column`` is a narrow per-row filter (CASE over the domain column
  against an md5-prefix threshold) — it pipelines inside the scan, no
  shuffle, no state, exactly like ``ops.sampling.hash_sample``.

Reference parity: the reference engine (mikethoun/redshift-auto-schema) has
no packing/mixing surface — these extend the §2B LLM-pipeline layer mandated
by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .._snap import snap
from ._tokens import _hex_int, _words
from .sampling import _hash_prefix, _hash_prefix_int, fraction_threshold

# Bucket-local pack ids are composed as bucket * _PACK_STRIDE + local_seq so
# a single BIGINT names the pack globally; 2^32 local packs per bucket is
# unreachable (it would require 2^32 * budget tokens in one bucket).
_PACK_STRIDE = 1 << 32


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "tokens",
    budget: int = 512,
    n_buckets: int = 1024,
) -> DataFrame:
    """Assign each document to a fixed-token-budget training pack.

    Documents are hashed into ``n_buckets`` balanced buckets, ordered within
    each bucket by content hash (a deterministic global shuffle — exactly
    the training-order randomization a pipeline wants), and packed
    greedily by running token count: a document starts a new pack when the
    budget is exhausted.  ``pack_id`` is globally unique; ``pack_pos`` is
    the document's position within its pack.

    Boundary semantics: a pack may overflow ``budget`` by at most one
    document's tokens (the straddling document joins the pack its prefix
    sum started in).  Bound document size with
    :func:`spark_auto_schema.ops.text.chunk_documents` first to cap the
    overflow at the chunk size; trainers that hard-truncate can drop the
    tail tokens of the straddler.

    One shuffle (the bucket window); everything else is narrow.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    key = F.col(id_col)
    bucket = (_hash_prefix_int(key) % F.lit(n_buckets)).alias("bucket")
    w = Window.partitionBy("bucket").orderBy(_hash_prefix(key), key)
    cum = F.sum(token_col).over(w)
    local = F.floor((cum - F.col(token_col)) / F.lit(budget))
    return (
        df.select(key, F.col(token_col), bucket)
        .withColumn("pack_id", (F.col("bucket") * F.lit(_PACK_STRIDE) + local))
        .withColumn(
            "pack_pos",
            F.row_number().over(
                Window.partitionBy("bucket", "pack_id").orderBy(_hash_prefix(key), key)
            ),
        )
        .drop("bucket")
    )


def pack_stats(packed: DataFrame, token_col: str = "tokens") -> DataFrame:
    """Per-pack rollup of :func:`pack_sequences` output: document count,
    token total, and fill ratio against a budget implied by the caller.

    One hash aggregate on ``pack_id`` (map-side combine; pack ids are
    already bucket-clustered so the shuffle is near-local)."""
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).cast("long").alias("pack_tokens"),
    )


def mix_by_column(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
) -> DataFrame:
    """Deterministic domain re-weighting: keep a content-hash sample of each
    domain at its target fraction (domains absent from ``fractions`` keep
    ``default_fraction``).

    This is the corpus-mixing step of a training pipeline — e.g. downsample
    web crawl to 30% while keeping code and books at 100% — expressed as a
    single narrow filter: a CASE over ``domain_col`` picks the threshold,
    and the row survives iff its md5-prefix (of ``key_col``) is below it.
    Per-domain membership is nested: a domain's 20% sample is a subset of
    its 50% sample, so mixtures are monotone and reproducible across runs.

    No shuffle, no per-domain pass — one scan regardless of domain count.
    """
    for dom, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {dom!r} must be in [0,1], got {frac}")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError(f"default_fraction must be in [0,1], got {default_fraction}")
    thr: Column = F.lit(fraction_threshold(default_fraction))
    for dom, frac in sorted(fractions.items()):
        thr = F.when(F.col(domain_col) == F.lit(dom), F.lit(fraction_threshold(frac))).otherwise(thr)
    return df.where(_hash_prefix(F.col(key_col)) < thr)


def length_buckets(
    df: DataFrame,
    token_col: str,
    max_len: int = 2048,
    min_bucket: int = 32,
) -> DataFrame:
    """Power-of-two length bucketing for batched inference/training: each
    document rounds UP to the smallest bucket in {min_bucket, 2*min_bucket,
    ..., max_len} holding its (truncation-capped) token count, and the
    output reports per-bucket padding economics — ``(bucket, n_docs,
    token_sum, padded_sum, waste_pct)`` where ``padded_sum = n_docs *
    bucket`` and ``waste_pct`` is the fraction of padded positions that are
    padding.  Serving stacks batch same-bucket sequences so one graph
    compilation serves each shape; this operator answers "how many shapes,
    and what does the padding cost".

    The bucket is picked from a LITERAL candidate array
    (``array_min(filter(candidates, c -> c >= t))``) — exact integer
    comparison, no float log2 whose last-ulp could flip a boundary between
    engines.  Row-local projection + one ~log2(max_len/min_bucket)-key hash
    aggregate: no shuffle beyond the tiny final agg at any scale.
    """
    if max_len < min_bucket or max_len & (max_len - 1) or min_bucket & (min_bucket - 1):
        raise ValueError(
            f"min_bucket/max_len must be powers of two with max_len >= min_bucket,"
            f" got {min_bucket}/{max_len}"
        )
    cands = []
    b = min_bucket
    while b <= max_len:
        cands.append(b)
        b *= 2
    t = F.least(F.col(token_col).cast("long"), F.lit(max_len))
    bucket = F.array_min(
        F.filter(
            F.array(*[F.lit(c) for c in cands]), lambda c: c >= F.greatest(t, F.lit(1))
        )
    )
    # NULL counts are dropped explicitly: Spark's least() propagates NULL
    # but DuckDB's skips it, so a NULL row would bucket differently per
    # engine if it ever reached the arithmetic
    return (
        df.where(F.col(token_col).isNotNull())
        .select(bucket.alias("bucket"), t.alias("__t"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("token_sum"),
        )
        .select(
            "bucket",
            "n_docs",
            "token_sum",
            (F.col("n_docs") * F.col("bucket")).alias("padded_sum"),
            F.round(
                F.lit(1.0) - F.try_divide(F.col("token_sum"), F.col("n_docs") * F.col("bucket")),
                4,
            ).alias("waste_pct"),
        )
    )


def assemble_sequences(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    payload_col: str,
    sep: str = "|",
    max_items: int | None = None,
) -> DataFrame:
    """Ordered per-key payload assembly: one row per key with
    ``(key_cols..., n_items, sequence)`` where ``sequence`` is the
    key's ``payload_col`` values in ``order_cols`` order joined by
    ``sep``.

    The conversation-construction step of a chat/agent training
    pipeline: an event log (one row per turn) becomes one training
    example per session, turns in wall-clock order.  ``collect_list``
    alone is partitioning-dependent, so the items are gathered as
    structs of ``(order_cols..., payload)`` and ``array_sort``-ed —
    struct comparison orders by field position, giving a total,
    engine-independent order as long as ``order_cols`` (plus the
    payload as final tie-break) are unique per key.

    ``max_items`` truncates each assembled sequence AFTER the sort
    (keep-first semantics, like context-window truncation).  One
    shuffle (the groupBy); per-key state is the session's turn list —
    bounded by session length, the same O(session) envelope the
    stateful-streaming sibling keeps.  Keys with pathologically long
    histories should be capped upstream (sessionize first: the 30-min
    gap rule bounds any key) — truncation here saves output width, not
    aggregation memory.
    """
    struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(payload_col).alias("__p")
    )
    items = F.array_sort(F.collect_list(struct))
    if max_items is not None:
        if max_items <= 0:
            raise ValueError(f"max_items must be positive, got {max_items}")
        items = F.slice(items, 1, max_items)
    return (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(items.alias("__items"))
        .select(
            *key_cols,
            F.size("__items").alias("n_items"),
            F.array_join(
                F.transform("__items", lambda x: x["__p"].cast("string")), sep
            ).alias("sequence"),
        )
    )


def fim_transform(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fim_rate_mod: int = 2,
    min_tokens: int = 8,
) -> DataFrame:
    """Fill-in-the-middle training transform (PSM format): ``(doc_id,
    fim_applied, prefix, middle, suffix)`` where a deterministic
    md5(doc_id)-derived draw selects ~1/``fim_rate_mod`` of documents for
    FIM and, for those, two hash-derived cut points split the
    :func:`._tokens._words` into prefix | middle | suffix, each span's
    words joined by single spaces.  Non-selected (and too-short: fewer
    than ``max(min_tokens, 3)`` words) documents pass through with the
    full text as ``prefix`` and empty middle/suffix — the causal-LM share
    of the mix.

    The objective-level data prep for code/infilling models (Bavarian et
    al.): downstream packing consumes the three spans in PSM order.  Cut
    points are pure functions of the document id — re-running the
    pipeline on a grown corpus never re-cuts existing documents
    differently (the same property the split/sample operators guarantee).

    Scale: a single narrow projection — words, two slices, three joins —
    no shuffle, no Python; pipelines inside the scan like the text
    operators.  Cut derivation: c1 = h1 % (n-2) + 1 and c2 = c1 + (h2 %
    (n - c1 - 1)) + 1 with h1/h2 from disjoint md5 hex slices, so
    1 <= c1 < c2 <= n-1 and all three spans are non-empty."""
    # the words in a column of their own: each gated span below would
    # otherwise split the text again
    words = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        _words(F.col(text_col)).alias("__w"),
    )
    toks = F.col("__w")
    n = F.size(toks)
    h = F.md5(F.col(id_col).cast("string"))
    apply_fim = (_hex_int(h, 1, 4) % fim_rate_mod == 0) & (n >= max(min_tokens, 3))
    h1 = _hex_int(h, 5, 8)
    h2 = _hex_int(h, 13, 8)
    c1 = h1 % (n - 2) + 1
    c2 = c1 + (h2 % (n - c1 - 1)) + 1
    join_ = lambda arr: F.array_join(arr, " ")
    return words.select(
        F.col(id_col),
        apply_fim.alias("fim_applied"),
        F.when(apply_fim, join_(F.slice(toks, 1, c1)))
        .otherwise(F.col("__t"))
        .alias("prefix"),
        F.when(apply_fim, join_(F.slice(toks, c1 + 1, c2 - c1)))
        .otherwise(F.lit(""))
        .alias("middle"),
        F.when(apply_fim, join_(F.slice(toks, c2 + 1, n - c2)))
        .otherwise(F.lit(""))
        .alias("suffix"),
    )


def span_corruption(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_mod: int = 4,
) -> DataFrame:
    """T5-style span-corruption prep: ``(doc_id, input, target, n_spans)``
    — ~1/``mask_mod`` of the :func:`._tokens._words` are masked by a pure
    md5(doc_id:pos) draw (``pos`` counts words), consecutive masked
    tokens merge into ONE span, the input replaces each span with its
    ``<extra_id_k>`` sentinel, and the target lists every sentinel
    followed by the tokens it hides; both streams are single-spaced.  A
    text with no word has no row.

    The denoising-objective complement of :func:`fim_transform` (which
    rearranges, never hides): masking is positional-hash-pure, so the
    same document always corrupts identically — pipeline re-runs, corpus
    growth, and resharding reproduce the examples byte-for-byte.
    Documents with no masked token pass through with their words as
    ``input`` and an empty ``target`` (n_spans = 0).

    Scale: one posexplode + per-document lag/cumsum windows (partitions
    are document-sized) + one (doc) aggregate that reassembles both
    streams order-invariantly via array_sort over (pos, priority)
    structs — the same partitioning end to end, no data-sized state."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "tok"),
    )
    pos_key = F.concat_ws(
        ":", F.col("id").cast("string"), F.col("pos").cast("string")
    )
    masked = _hex_int(F.md5(pos_key), 1, 8) % mask_mod == 0
    w = Window.partitionBy("id").orderBy("pos")
    flagged = toks.select("id", "pos", "tok", masked.alias("m")).select(
        "id",
        "pos",
        "tok",
        "m",
        (F.col("m") & ~F.coalesce(F.lag("m").over(w), F.lit(False))).alias(
            "run_head"
        ),
    )
    spanned = flagged.select(
        "id",
        "pos",
        "tok",
        "m",
        "run_head",
        (
            F.sum(F.col("run_head").cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - 1
        ).alias("span_k"),
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("span_k"), F.lit(">"))
    # input stream: unmasked tokens (priority 1) + one sentinel per run at
    # the run head's position (priority 0 so it sorts before any token)
    in_piece = F.when(~F.col("m"), F.col("tok")).when(F.col("run_head"), sentinel)
    # target stream: run-head sentinel (priority 0) then the span's tokens
    tgt_piece = F.when(F.col("m"), F.col("tok"))

    def in_order(pieces: Column) -> Column:
        # (pos, prio, piece) structs sorted, their pieces space-joined
        return F.array_join(F.transform(F.array_sort(pieces), lambda s: s.piece), " ")

    assembled = spanned.groupBy("id").agg(
        in_order(
            F.collect_list(
                F.when(
                    in_piece.isNotNull(),
                    F.struct(
                        F.col("pos"),
                        F.when(F.col("run_head") & F.col("m"), F.lit(0))
                        .otherwise(F.lit(1))
                        .alias("prio"),
                        in_piece.alias("piece"),
                    ),
                )
            )
        ).alias("input"),
        in_order(
            F.flatten(
                F.collect_list(
                    # a run head contributes TWO target pieces — its
                    # sentinel (prio 0) then its own token (prio 1) — so
                    # rows emit ARRAYS of structs
                    F.when(
                        F.col("run_head"),
                        F.array(
                            F.struct(
                                F.col("pos"),
                                F.lit(0).alias("prio"),
                                sentinel.alias("piece"),
                            ),
                            F.struct(
                                F.col("pos"),
                                F.lit(1).alias("prio"),
                                tgt_piece.alias("piece"),
                            ),
                        ),
                    ).when(
                        F.col("m"),
                        F.array(
                            F.struct(
                                F.col("pos"),
                                F.lit(1).alias("prio"),
                                tgt_piece.alias("piece"),
                            )
                        ),
                    ),
                )
            )
        ).alias("target"),
        (F.max(F.col("span_k")) + 1).cast("long").alias("n_spans"),
    )
    return assembled.select(
        F.col("id").alias(id_col), "input", "target", "n_spans"
    )


def packing_length_sweep(
    df: DataFrame,
    budgets: "tuple[int, ...] | list[int]" = (256, 512, 1024),
    id_col: str = "doc_id",
    token_col: str = "tokens",
    n_buckets: int = 1024,
) -> DataFrame:
    """Packing-efficiency curve: for each candidate sequence budget, the
    pack count and the wasted-token fraction the greedy
    :func:`pack_sequences` policy would produce — ``(budget, n_packs,
    total_tokens, waste_pct)`` — from ONE window pass.  The
    sequence-length tuning dial: shorter budgets waste less per pack but
    fragment documents more (pair this with chunk_reconstruction_check's
    overhead number); the sweep shows where waste elbows without running
    the packer once per candidate.

    ``waste_pct = sum over packs of max(budget - pack_tokens, 0) /
    (n_packs * budget)`` — overflow packs (the straddler semantics) count
    as zero waste, matching how a hard-truncating trainer treats them.

    Scale: the running cumsum over (bucket, hash-order) is computed ONCE
    (it is budget-independent); each budget is then a pure projection
    ``floor((cum - tokens)/budget)`` — the explode is |budgets| x the
    |docs|-row token frame, never token- or corpus-sized; two hash
    aggregates roll it up."""
    bs = sorted(int(b) for b in budgets)
    if not bs or bs[0] <= 0:
        raise ValueError("budgets must be positive and non-empty")
    key = F.col(id_col)
    bucket = (_hash_prefix_int(key) % F.lit(n_buckets)).alias("bucket")
    w = Window.partitionBy("bucket").orderBy(_hash_prefix(key), key)
    base = (
        df.select(key, F.col(token_col), bucket)
        .withColumn("cum", F.sum(token_col).over(w))
        .select(
            F.col(token_col),
            "bucket",
            "cum",
            F.explode(F.array(*[F.lit(b) for b in bs])).alias("budget"),
        )
    )
    packs = (
        base.withColumn(
            "local",
            F.floor((F.col("cum") - F.col(token_col)) / F.col("budget")),
        )
        .groupBy("budget", "bucket", "local")
        .agg(F.sum(token_col).alias("pt"))
    )
    return packs.groupBy("budget").agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("pt").cast("long").alias("total_tokens"),
        snap(
            F.sum(F.greatest(F.col("budget") - F.col("pt"), F.lit(0)))
            / (F.count(F.lit(1)) * F.first("budget"))
        ).alias("waste_pct"),
    )
