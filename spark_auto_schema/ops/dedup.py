"""Deduplication operators: exact, content-hash, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (100 TB):

* exact / hash dedup — one hash-partitioned groupBy on the content key
  (map-side partial aggregation first); no all-pairs work.
* MinHash+LSH — shingle explode -> per-doc signatures (one shuffle on doc id)
  -> band buckets -> candidate pairs only *within* buckets.  Never an
  all-pairs cross join; candidate count scales with collision rate, not n^2.
  Exact verify scores each candidate pair from the two docs' shingle sets,
  collected by that same doc-id shuffle.  The pair call runs one bounded
  collect (:func:`_driver_local`): a pair set under
  ``_DRIVER_CC_EDGE_BUDGET // 2`` rows comes back as a local frame, so the
  caller's reads and :func:`dedup_clusters` on it run no Spark job; above
  the budget the lazy frame comes back, and the caller's action repeats
  the candidate and verify stages from the cached signatures.  Each step
  is one SQL text, so the signature and band widths cost no JVM round
  trip per hash.
* SimHash — 64-bit signatures via one explode + groupBy; near-dup pairs by
  pigeonhole chunk bucketing (hamming <= 3 guarantees one of 4 equal 16-bit
  chunks -> 65,536 buckets), exact hamming check only inside buckets.
* n-gram Jaccard — pairs generated only for docs *sharing a shingle*
  (equi-join on the shingle; hot shingles capped by document frequency via
  ``max_df``), then exact |intersection| / |union|.

All hashing is Spark's ``xxhash64`` — deterministic across runs/executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._cache import local_checkpoint, persist, release_caches  # noqa: F401
from .._snap import snap
from ..io import local_df, sql_name
from ._tokens import _hex_int, _word_ngrams, _word_rows, _words


# ------------------------------------------------------------------ exact
def _content_digest(text: str) -> str:
    """The exact-content key of every exact-dedup operator, as SQL text
    over the SQL text ``text``: ``md5(coalesce(text, ''))``, so NULL and
    empty texts are one content and the key is never NULL."""
    return f"md5(coalesce({text}, ''))"


def hash_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-hash dedup: the :func:`_content_digest` md5 fingerprint as
    the group key (NULL and empty texts are one content).

    Hashing first keeps the shuffle key small (16 bytes instead of full
    documents) — at 100 TB the shuffle moves hashes, not texts."""
    i = sql_name(id_col)
    return (
        df.selectExpr(i, f"{_content_digest(sql_name(content_col))} AS content_hash")
        .groupBy("content_hash")
        .agg(F.expr(f"min({i}) AS keep_id"), F.expr("count(1) AS dup_count"))
    )


# ------------------------------------------------------------- shingling
def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built-ins only: one ``regexp_extract_all`` (:func:`_word_ngrams`) ->
    array_distinct -> explode.
    With ``hashed=True`` the shingle column is its xxhash64 (a long): joins
    and set sizes are collision-free w.h.p. while the shuffle moves 8-byte
    keys instead of strings — the 100 TB configuration.
    """
    grams = _word_ngrams(sql_name(text_col), n)
    out = df.selectExpr(
        f"{sql_name(id_col)} AS id", f"explode(array_distinct({grams})) AS shingle"
    ).where("length(shingle) > 0")
    if hashed:
        out = out.selectExpr("id", "xxhash64(shingle) AS shingle")
    return out


# ------------------------------------------------------------- minhash+LSH
def _minhash_sig(
    sh: DataFrame, num_hashes: int, md5_grade: bool, with_set: bool = False
) -> DataFrame:
    """(id, h0..h{H-1}) minhash signature over a shingle relation.

    Production form: h_i = min over shingles of xxhash64(i, shingle).
    ``md5_grade``: h_i = min 16-hex-char prefix of md5("i:shingle")
    (lexicographic min over uniform strings is a valid minhash) — every step
    reproducible in any engine with md5, so DuckDB oracles can verify it.

    ``with_set`` appends ``set``, the doc's exact-verify shingle set, built
    by the same ``groupBy("id")``: the raw shingles on the md5 grade (what
    the oracles replay), else their xxhash64 (8-byte set members).

    One SQL text: a ``named_struct`` of every aggregate, so building the
    plan costs the same few JVM calls at any ``num_hashes``."""
    h = (
        "min(substring(md5(concat('{i}:', shingle)), 1, 16))"
        if md5_grade
        else "min(xxhash64({i}, shingle))"
    )
    fields = [f"'h{i}', " + h.format(i=i) for i in range(num_hashes)]
    if with_set:
        key = "shingle" if md5_grade else "xxhash64(shingle)"
        fields.append(f"'set', collect_set({key})")
    sig = F.expr(f"named_struct({', '.join(fields)}) AS sig")
    return sh.groupBy("id").agg(sig).selectExpr("id", "sig.*")


def _band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, md5_grade: bool
) -> DataFrame:
    """(id, band, bucket) LSH entries: one bucket hash per signature band,
    from one SQL-text ``inline`` of the band structs."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands

    def _bucket(b: int) -> str:
        hs = ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        return f"md5(concat_ws('|', {hs}))" if md5_grade else f"xxhash64({hs})"

    entries = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_bucket(b)})" for b in range(bands)
    )
    return sig.selectExpr("id", f"inline(array({entries}))")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: (id, h0..h{H-1}).

    h_i(doc) = min over shingles of xxhash64(i, shingle).  One explode + one
    groupBy(id) shuffle; signature width is constant."""
    return _minhash_sig(shingles(df, text_col, id_col, shingle_n), num_hashes, False)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH, optionally
    verified with exact shingle Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b.  Docs land in the same
    bucket iff one band of their signatures matches exactly; candidates are
    generated by an equi-join on (band index, band hash) — bucket-local, not
    all-pairs.

    Not plan-only: the call runs one bounded collect of the pairs
    (:func:`_driver_local`).  A pair set under the driver budget comes back
    as a local frame, so collecting it and :func:`dedup_clusters` on it run
    no Spark job.  Above the budget the lazy frame comes back, and the
    caller's action repeats the candidate and verify stages from the cached
    signatures."""
    return _driver_local(
        _lsh_plan(
            df, text_col, id_col, num_hashes, bands, shingle_n, verify_threshold,
            md5_grade=False,
        )
    )


def _band_candidates(buckets: DataFrame) -> DataFrame:
    """(id_a, id_b) with id_a < id_b for every pair of docs sharing a band
    bucket: an equi-join on (band index, band hash) — bucket-local, never
    all-pairs — deduplicated across bands."""
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .where("a.id < b.id")
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def _lsh_plan(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    verify_threshold: float | None,
    md5_grade: bool,
) -> DataFrame:
    """The lazy plan of the one banded MinHash-LSH pipeline behind
    :func:`minhash_lsh_pairs` and :func:`minhash_lsh_pairs_md5`;
    ``md5_grade`` picks the hash construction of every step."""
    verify = verify_threshold is not None
    # the one cached frame: both sides of the band self-join read it, and
    # so do both set joins of the verify; under a cached child AQE's
    # exchange reuse is not reliable (A/B on the md5 grade at sf0.1:
    # 3.60 -> 3.20 s); |docs| x (num_hashes + |set|) values
    sig = persist(
        _minhash_sig(
            shingles(df, text_col, id_col, shingle_n), num_hashes, md5_grade,
            with_set=verify,
        )
    )
    cand = _band_candidates(_band_buckets(sig, num_hashes, bands, md5_grade))
    if not verify:
        return cand
    return _pair_jaccard(cand, sig).where(F.col("jaccard") >= verify_threshold)


def _jaccard() -> Column:
    """``jaccard`` of a frame with the columns ``inter`` (an intersection
    size) and ``sz_a``, ``sz_b`` (the two set sizes), snapped through
    DECIMAL(18,12) before the 4-decimal round: plain round(double, 4)
    half-rounds differently from DuckDB on half-ulp boundaries (the
    dup_frac divergence class), and a bounded fraction cannot overflow
    18,12.  The one formula of every exact-Jaccard path, so they stay in
    lockstep with the oracles."""
    return snap(F.expr("inter / (sz_a + sz_b - inter)"), 4).alias("jaccard")


def _pair_jaccard(
    pairs: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Exact shingle Jaccard for EXACTLY the ``(a_col, b_col)`` pairs given:
    ``(a_col, b_col, jaccard)``, inner — pairs sharing zero shingles are
    absent (identical to joining the co-shingle engine's full output
    against the pair set).

    ``sets_a``/``sets_b`` carry ``(id, set)``: each doc's shingle set, as
    :func:`_minhash_sig` builds it with ``with_set``; ``sets_b=None`` means
    both ids draw from ``sets_a``.  The pair set drives the work: one join
    per side attaches the two sets, and ``size(array_intersect)`` scores
    the pair in the row — no shingle explode, no pair aggregate — so
    verify cost tracks the CANDIDATE count.  Rows that share a doc id
    merge into one set, as they merge into one signature.  Joins are
    unhinted — AQE picks broadcast when a side is actually small."""
    sets_b = sets_a if sets_b is None else sets_b
    qa, qb = sql_name(a_col), sql_name(b_col)
    a = sets_a.selectExpr(f"id AS {qa}", "`set` AS __a")
    b = sets_b.selectExpr(f"id AS {qb}", "`set` AS __b")
    return (
        pairs.join(a, on=a_col)
        .join(b, on=b_col)
        .selectExpr(
            qa,
            qb,
            "size(array_intersect(__a, __b)) AS inter",
            "size(__a) AS sz_a",
            "size(__b) AS sz_b",
        )
        .where("inter > 0")
        .select(a_col, b_col, _jaccard())
    )


# ------------------------------------------------------------ ngram jaccard
def _persisted_capped_shingles(
    sh: DataFrame, max_df: int | None
) -> DataFrame:
    """Persist a shingle relation and apply the ``max_df`` hot-shingle cap
    to it — the head of :func:`_co_shingle_pairs`.

    The cap exists to stop a hot shingle going quadratic in the pair
    self-join; on a corpus with NO shingle over the cap (the common
    case — the testdata's max df is 25 against a 10,000 cap) the
    anti-join is an identity that still cost a broadcast build, a second
    full pass, and a SECOND persisted copy of the engine's largest
    relation.  One cheap probe of the (by-construction tiny, persisted)
    hot aggregate decides at plan-build time — the dedup_clusters
    data-dependent-cutover precedent; values are identical on both
    branches (anti-join against an empty set is the identity).  Wall
    time at sf0.1 is a wash (interleaved A/B on the survivorship shape:
    old med 4.82 s / min 4.53 vs new med 4.95 / min 4.33 — the skipped
    pass trades against the probe job); the change is kept for the
    CACHE-FOOTPRINT half of guide §5: it halves the persisted bytes of
    this engine whenever the cap does not fire, which at corpus scale is
    the difference between one and two cached copies of the full shingle
    relation.  The returned relation is persisted either way (its three
    downstream consumers — sizes + both self-join sides — are why;
    released by ``spark_auto_schema.release_caches``)."""
    sh = persist(sh)
    if max_df is None:
        return sh
    # persisted so the non-empty branch's anti-join broadcast build reads
    # the probe's result instead of re-running the aggregate
    hot = persist(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    if hot.isEmpty():
        return sh
    return persist(sh.join(F.broadcast(hot), on="shingle", how="left_anti"))


def _co_shingle_pairs(sh: DataFrame, max_df: int | None) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b), id_a < id_b, for every pair in
    ``sh`` sharing a shingle: the co-shingle self-join behind
    :func:`_jaccard_from_shingles` and :func:`containment_pairs`.

    ``max_df`` drops shingles occurring in more than that many documents
    BEFORE the self-join (standard fuzzy-dedup practice): one hot shingle
    shared by m documents alone generates m^2/2 pairs, so without a cap a
    single boilerplate phrase goes quadratic at corpus scale.  The dropped
    shingles are excluded from both the intersection and the set sizes, so
    every score over this aggregate is exact over the capped shingle
    space.  The hot-shingle set (shingles with df > max_df) is tiny by
    construction and is removed with a broadcast anti-join (skipped via a
    plan-build-time probe when no shingle exceeds the cap — see
    :func:`_persisted_capped_shingles`)."""
    # persisted + capped: the relation is consumed THREE times below — the
    # per-id sizes and both sides of the self-join — and its producer
    # (scan + split/transform explode + xxhash64) is the expensive part
    # (guide §5: reused AND expensive to recompute)
    sh = _persisted_capped_shingles(sh, max_df)
    # persisted: the per-id size relation is probed by BOTH enrichment
    # joins below (one per self-join side) — without it the |shingles|
    # aggregation pass runs twice; the relation itself is |docs| rows
    sizes = persist(sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz")))
    # Carry each side's set size THROUGH the pair aggregation instead of
    # joining the (much larger) pair relation against `sizes` twice
    # afterwards: the enrichment join touches |shingles| rows once per
    # side (cached scan + a join AQE sizes at runtime — sizes is |docs|
    # rows, so no hard broadcast hint), while the former tail re-joined
    # the pair relation — the largest relation in this pipeline — twice.
    # sz is constant within an (id_a, id_b) group, so min() recovers it
    # exactly; the widened pair shuffle costs 16 bytes/row against two
    # eliminated joins over every candidate pair.
    shz = sh.join(sizes, on="id")
    a, b = shz.alias("a"), shz.alias("b")
    return (
        a.join(b, on="shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min(F.col("a.sz")).alias("sz_a"),
            F.min(F.col("b.sz")).alias("sz_b"),
        )
    )


def _jaccard_from_shingles(
    sh: DataFrame, threshold: float = 0.0, max_df: int | None = None
) -> DataFrame:
    """(id_a, id_b, jaccard) for every pair in ``sh`` sharing a shingle,
    over the ``max_df``-capped shingle space of :func:`_co_shingle_pairs`."""
    return (
        _co_shingle_pairs(sh, max_df)
        .select("id_a", "id_b", _jaccard())
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    hashed: bool = True,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram-Jaccard similarity for every pair of documents sharing at
    least one shingle: (id_a, id_b, jaccard >= threshold), id_a < id_b.

    The pair space is generated by the shingle equi-join (co-partitioned
    hash join), so cost tracks shingle co-occurrence, not n^2.  ``hashed``
    joins on 8-byte shingle hashes instead of strings (identical Jaccard
    w.h.p., much smaller shuffle).  ``max_df`` (default 10,000) caps the
    document frequency of join-eligible shingles so a single hot shingle
    cannot go quadratic — see :func:`_co_shingle_pairs`; pass ``None``
    for the uncapped exact semantics.  Not plan-only: the call persists the
    shingles and, with ``max_df`` set, runs one Spark job (the
    ``hot.isEmpty()`` probe of :func:`_persisted_capped_shingles`)."""
    sh = shingles(df, text_col, id_col, n, hashed=hashed)
    return _jaccard_from_shingles(sh, threshold, max_df=max_df)


def minhash_lsh_pairs_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs built ENTIRELY from md5 — every step
    (shingling, signatures, band buckets, exact Jaccard verify) is
    reproducible in any engine with md5, so the driver's DuckDB oracle
    verifies the full fuzzy-dedup pipeline value-for-value.

    h_i(doc) = min over shingles of the 16-hex-char prefix of
    ``md5(i:shingle)`` (lexicographic min over uniform strings is a valid
    minhash); a band's bucket is ``md5(h_j || '|' || ...)``.  Same dataflow
    and scale shape as :func:`minhash_lsh_pairs` (one explode, one
    groupBy(id), bucket-local candidate join); xxhash64 stays the fast
    default for production, this variant is the verification-grade twin.

    Not plan-only, as :func:`minhash_lsh_pairs`: one bounded collect; a
    pair set under the driver budget comes back as a local frame, and
    above it the caller's action repeats the candidate and verify stages
    from the cached signatures.
    """
    return _driver_local(
        _lsh_plan(
            df, text_col, id_col, num_hashes, bands, shingle_n, verify_threshold,
            md5_grade=True,
        )
    )


# ------------------------------------------------------ incremental dedup
def incremental_exact_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup of a new batch AGAINST an existing corpus: one surviving
    (content_hash, keep_id) row per batch content value that does not
    already exist in the corpus.

    The incremental form a continuously-ingesting pipeline needs — new data
    arrives, the corpus is already deduplicated, and only novel content
    should pass.  Batch-internal duplicates collapse to the min id first
    (:func:`hash_dedup`), then a left-anti join on the 16-byte content hash
    removes anything the corpus already holds; a NULL text is the empty
    content on both sides.  Both sides shuffle compact hashes, never texts:
    at 100 TB the anti-join is a shuffled hash join on md5 keys (store the
    corpus hash set as a bucketed table on ``content_hash`` and the corpus
    side needs no shuffle at all)."""
    batch = hash_dedup(new_df, content_col, id_col).drop("dup_count")
    return _absent_from(batch, corpus_df, content_col)


def _absent_from(
    batch: DataFrame, corpus_df: DataFrame, content_col: str
) -> DataFrame:
    """The ``batch`` rows whose ``content_hash`` the corpus does not hold:
    a left-anti join on the corpus's distinct :func:`_content_digest`
    hashes."""
    corpus = corpus_df.select(
        F.expr(_content_digest(sql_name(content_col))).alias("content_hash")
    ).distinct()
    return batch.join(corpus, on="content_hash", how="left_anti")


def prepare_corpus_index(
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    md5_grade: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build the reusable corpus side of :func:`incremental_near_dedup`:
    ``(band_buckets, verify_sets)``.

    ``verify_sets`` is ``(id, set)``: one row per corpus doc holding its
    exact-verify shingle set (raw shingles on the md5 grade, else their
    xxhash64).  Before this format it was an ``(id, shingle)`` row per
    shingle; an index written in that format must be rebuilt.

    This is the "compute once, persist, reuse per batch" half of the
    incremental workflow: write both frames out (band_buckets bucketed on
    ``(band, bucket)``, verify_sets on ``id``) and pass them back via
    ``corpus_index=`` on every ingest — each increment then only shingles
    the NEW batch, the 100 TB cost model the operator's docstring
    promises.  Arguments must match the ones later passed to
    :func:`incremental_near_dedup` (band layout and hash construction are
    baked into the frames)."""
    # one aggregate feeds BOTH outputs — persisted so the corpus-wide
    # scan+explode+groupBy runs once across the caller's two reads
    sig = persist(
        _minhash_sig(
            shingles(corpus_df, text_col, id_col, shingle_n), num_hashes,
            md5_grade, with_set=True,
        )
    )
    buckets = _band_buckets(sig, num_hashes, bands, md5_grade)
    return buckets, sig.select("id", "set")


def incremental_near_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
    md5_grade: bool = False,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Rows of ``new_df`` with no verified near-duplicate in ``corpus_df``.

    The fuzzy analogue of :func:`incremental_exact_dedup` (which it
    subsumes: an exact clone matches every band and verifies at jaccard
    1.0).  Candidates come from an equi-join of the batch's LSH band
    buckets against the corpus's — bucket-local, never batch x corpus — and
    are exact-Jaccard-verified on the candidate pairs only, so cost tracks
    the collision count, not corpus size.  At 100 TB the corpus band-bucket
    relation is computed once and persisted (bucketed on (band, bucket));
    each increment only shingles the new batch.

    ``md5_grade=True`` switches every hash to the md5 construction of
    :func:`minhash_lsh_pairs_md5` so a DuckDB oracle can replay the whole
    pipeline; xxhash64 is the production default (8-byte shuffle keys).

    ``corpus_index`` supplies the persisted output of
    :func:`prepare_corpus_index` (built with the SAME band/hash
    arguments); the corpus is then never re-shingled here — the per-batch
    cost is the batch's own shingling plus bucket-local joins."""
    verify = verify_threshold is not None

    def index(d: DataFrame) -> tuple[DataFrame, DataFrame | None]:
        # with verify, each side's one signature+set aggregate is read by
        # its band buckets and by _pair_jaccard: prepare_corpus_index
        # persists it
        if verify:
            return prepare_corpus_index(
                d, text_col, id_col, num_hashes, bands, shingle_n, md5_grade
            )
        sig = _minhash_sig(
            shingles(d, text_col, id_col, shingle_n), num_hashes, md5_grade
        )
        return _band_buckets(sig, num_hashes, bands, md5_grade), None

    bk_new, sets_new = index(new_df)
    bk_cor, sets_cor = corpus_index or index(corpus_df)
    cand = (
        bk_new.alias("n")
        .join(bk_cor.alias("c"), on=["band", "bucket"])
        .select(F.col("n.id").alias("id_new"), F.col("c.id").alias("id_cor"))
        .distinct()
    )
    if not verify:
        dup_ids = cand.select("id_new").distinct()
    else:
        dup_ids = (
            _pair_jaccard(cand, sets_new, sets_cor, a_col="id_new", b_col="id_cor")
            .where(F.col("jaccard") >= verify_threshold)
            .select("id_new")
            .distinct()
        )
    return new_df.join(
        dup_ids.withColumnRenamed("id_new", id_col), on=id_col, how="left_anti"
    )


def repeated_ngram_coverage(
    df: DataFrame,
    gram_chars: int = 40,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level repeated-substring signal — the shuffle-join
    approximation of exact substring dedup (suffix-array dedup a la "
    Deduplicating Training Data Makes Language Models Better", Lee et al.
    2022, github.com/google-research/deduplicate-text-datasets): for every
    overlapping ``gram_chars``-character gram, find grams occurring in >=
    ``min_docs`` distinct documents, and report per document the fraction
    of gram start positions covered by such cross-document repeats:
    (doc_id, n_grams, n_dup_grams, dup_frac).

    A true suffix array is sequential; the distributed formulation is two
    hash aggregates keyed on the gram fingerprint: (1) md5(gram) ->
    distinct-doc count, filtered to repeats; (2) a semi-join flagging each
    position whose gram repeats, then a per-document rollup.  Both shuffles
    move 16-byte fingerprints (never the gram text), so the exchange volume
    is ~16 bytes per character position — linear in corpus size, no pair
    generation anywhere.  Documents shorter than ``gram_chars`` contribute
    one whole-text gram (substr clamps identically in Spark and the DuckDB
    oracle)."""
    t = F.col(text_col)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(t) - (gram_chars - 1), F.lit(1))
    )
    pos = df.select(
        F.col(id_col).alias("id"), F.explode(starts).alias("i"), t.alias("__t")
    ).select(
        "id",
        F.md5(F.substring(F.col("__t"), F.col("i"), F.lit(gram_chars))).alias("g"),
    )
    if min_docs == 2:
        # single-pass formulation: a gram repeats across >=2 DISTINCT docs
        # iff min(id) != max(id) within its fingerprint partition — one
        # window over ONE shuffle of the position relation.  The groupBy +
        # semi-join + totals-join alternative evaluates the (per-character
        # md5 explode) position relation three times: partial aggregation
        # specializes each exchange, so none of the three is reusable.
        w = Window.partitionBy("g")
        marked = pos.withColumn(
            "__rep", F.min("id").over(w) != F.max("id").over(w)
        )
        return marked.groupBy(F.col("id").alias(id_col)).agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__rep").cast("long")).alias("n_dup_grams"),
            snap(
                F.sum(F.col("__rep").cast("long")) / F.count(F.lit(1)), 4
            ).alias("dup_frac"),
        )
    rep = (
        pos.groupBy("g")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("g")
    )
    flagged = pos.join(rep, "g", "left_semi").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_grams")
    )
    totals = pos.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        totals.join(flagged, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            snap(
                F.coalesce("n_dup_grams", F.lit(0)) / F.col("n_grams"), 4
            ).alias("dup_frac"),
        )
    )


# ------------------------------------------------- segment-level dedup
def _word_segments(
    df: DataFrame, text: Column, seg_words: int, *keep: Column
) -> DataFrame:
    """Fixed ``seg_words``-word segments of the :func:`._tokens._words` of
    ``text``, each segment's words joined by single spaces: ``(*keep, __s,
    __seg)`` with ``__s`` the 0-based segment index, one row per segment
    and at least one per input row (a text with no word yields segment
    0 = '').  One narrow explode, no shuffle."""
    words = _words(text)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil(F.size(words) / F.lit(seg_words)).cast("int") - 1, F.lit(0)
        ),
    )
    return (
        df.select(*keep, F.explode(starts).alias("__s"), words.alias("__w"))
        .withColumn(
            "__seg",
            F.concat_ws(
                " ", F.slice(F.col("__w"), F.col("__s") * seg_words + 1, seg_words)
            ),
        )
        .drop("__w")
    )


def segment_dedup(
    df: DataFrame,
    seg_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup: split every document
    into fixed ``seg_words``-word segments, drop each segment that already
    occurred earlier in the corpus (first occurrence wins, ordered by
    (doc_id, segment index)), and reassemble the surviving text:
    (doc_id, n_segments, n_kept, clean_text).

    Pretraining pipelines dedup below document granularity — boilerplate
    paragraphs (headers, license blocks, navigation) repeat across
    distinct pages that are NOT document-level duplicates.  On real
    corpora the segment boundary is the paragraph split; this corpus is
    newline-free word-soup, so the operator uses fixed word windows — the
    dataflow (explode positioned segments -> global first-occurrence ->
    ordered reassembly) is identical.

    Scale: one explode (narrow), ONE shuffle — the first-occurrence window
    partitions by the segment's md5 fingerprint, so the exchange moves
    16-byte digests with uniform keys — then a per-document rollup that
    re-shuffles only (doc_id, kept flag, digest-sized rows).  No joins, no
    pair generation; cost is linear in corpus word count.
    """
    segs = _word_segments(df, F.col(text_col), seg_words, F.col(id_col).alias("id"))
    first = F.row_number().over(
        Window.partitionBy(F.md5(F.col("__seg"))).orderBy("id", "__s")
    )
    return _keep_rollup(segs.withColumn("keep", first == 1), id_col)


def _keep_rollup(kept: DataFrame, id_col: str) -> DataFrame:
    """Per-document rollup of flagged segments ``(id, __s, __seg, keep)``:
    ``(id_col, n_segments, n_kept, clean_text)`` with the kept segments
    rejoined in segment order."""
    return (
        kept.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct(F.col("__s"), F.col("__seg")),
                            )
                        )
                    ),
                    lambda s: s["__seg"],
                ),
            ).alias("clean_text"),
        )
    )


# ------------------------------------------------------- n-gram novelty
def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """Incremental-novelty score: per document, the fraction of its
    distinct word n-grams whose corpus-wide first occurrence (minimum
    doc_id) is this document: (doc_id, n_shingles, n_novel, novelty).

    The curation-side complement of :func:`repeated_ngram_coverage`: where
    that flags repeated content, this measures how much genuinely NEW
    content each document adds given everything ingested before it —
    the signal a data-selection loop uses to rank candidate crawl batches.

    Scale: shingle explode, ONE shuffle partitioning shingles by key, a
    window ``min(id)`` within each shingle partition, one per-doc rollup.
    The window formulation matters: the groupBy-then-join-back alternative
    computes (and explodes) the shingle relation twice — partial
    aggregation makes the aggregate's exchange differ from the join's, so
    Catalyst cannot reuse the exchange and the scan+explode runs twice
    (measured 1.7x slower at sf0.1).  With ``hashed=True`` the shingle
    shuffle moves 8-byte xxhash64 keys — the 100 TB configuration
    (collision-free w.h.p., same as MinHash's).
    """
    sh = shingles(df, text_col, id_col, n, hashed=hashed)
    first = sh.withColumn(
        "first_id", F.min("id").over(Window.partitionBy("shingle"))
    )
    return (
        first.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_id") == F.col("id")).cast("long")).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_shingles"), 4)
        )
    )


# -------------------------------------------------------- dedup clustering
# Driver-side connected-components cutover (see dedup_clusters): at or
# below this many SYMMETRIZED edges the component labeling is a collected
# union-find instead of several distributed join+localCheckpoint rounds
# whose fixed per-round cost dominates small graphs.  Above it the
# iterative min-label propagation runs — the corpus-scale path.  The same
# budget bounds the MinHash-LSH pair sets returned as local frames
# (_driver_local), so such a pair set always takes the union-find path.
# Budget sizing: a collected edge is a pyspark Row (~150-300 B with
# object overhead) plus up to two parent/comp_min dict entries, so 250k
# edges bounds the transient driver footprint at roughly 100 MB — well
# inside the 8 GB driver — where the former 1M budget could reach several
# hundred MB.  Tests monkeypatch this to pin bit-identical results across
# both paths.
_DRIVER_CC_EDGE_BUDGET = 250_000


def _driver_rows(df: DataFrame) -> list | None:
    """The rows of ``df`` when it is driver-sized, else None: the one
    bounded collect (at most ``_DRIVER_CC_EDGE_BUDGET // 2 + 1`` rows)
    behind the driver cutovers of :func:`_driver_local` and
    :func:`dedup_clusters`.  A row set fits when its symmetrized edge count
    (2 x rows) fits the budget."""
    rows = df.limit(_DRIVER_CC_EDGE_BUDGET // 2 + 1).collect()
    return rows if 2 * len(rows) <= _DRIVER_CC_EDGE_BUDGET else None


def _driver_local(df: DataFrame) -> DataFrame:
    """``df`` as a local frame when :func:`_driver_rows` collects all of
    it, else ``df`` itself: the cutover that ends both MinHash-LSH pair
    functions, so a driver-sized pair set is computed once."""
    rows = _driver_rows(df)
    return df if rows is None else local_df(df.sparkSession, rows, df.schema)


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair set: (id, cluster_id)
    with ``cluster_id`` = the minimum doc id in the component — the
    representative a dedup pipeline keeps while dropping the rest.

    Pairwise dedup output (MinHash / SimHash / Jaccard pairs) is not yet a
    keep/drop decision: near-duplication is transitive in practice (A~B, B~C
    => one cluster {A,B,C}), so the pipeline step after pair generation is
    clustering.  Algorithm: iterative minimum-label propagation with
    path-halving — every node starts labeled with itself; each round, a node
    adopts ``min(own label, neighbors' labels)`` and then chases one pointer
    (``label := label(label)``, a self-join of the label table — valid
    because every label value is itself a node id present in the table).
    Propagation alone needs O(component diameter) rounds; the halving step
    shortcuts label chains the way union-find path compression does, so
    convergence is O(log diameter) rounds — the difference between 4 and
    10,000+ jobs on an adversarial chain-shaped component, and the property
    that makes the operator safe on billion-edge graphs where component
    shape is unknown.  Each round is two equi-joins + one groupBy, all
    hash-partitioned on id (co-partitioned, no broadcast of anything
    data-sized); near-dup components are shallow (clusters of variants of
    one document), so the loop exits after 2-3 rounds on real corpora.

    Only ids appearing in ``pairs`` are returned — singletons are their own
    cluster by definition and joining them in would just re-shuffle the
    corpus.

    Path cutover: one bounded collect (:func:`_driver_rows`) decides it.
    When the symmetrized edge count (2 x pairs) fits the budget, those
    pairs feed a driver-side union-find and the result
    is a local relation — near-dup graphs are usually a few edges per
    clustered doc, so the edge count a single machine handles in
    milliseconds costs several distributed rounds of
    join+checkpoint+collect fixed overhead (measured ~7 s for a 477-node
    graph at sf0.1, vs <1 s collected).  Above the budget the iterative
    min-label propagation runs — the 100 TB path.  Both paths produce the
    identical (id, min-component-id) labeling (law-tested); the budget
    bounds driver memory at ~tens of MB."""
    src = pairs.select("id_a", "id_b")
    if not pairs.isLocal():
        # read by the bounded collect and, above the budget, by both
        # directions of the edge union: the caller's lineage runs once
        src = persist(src)
    rows = _driver_rows(src)
    if rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in rows:
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        id_type = pairs.schema["id_a"].dataType
        schema = T.StructType(
            [
                T.StructField("id", id_type, True),
                T.StructField("cluster_id", id_type, True),
            ]
        )
        return local_df(
            pairs.sparkSession, [(n, comp_min[find(n)]) for n in parent], schema
        )
    # every propagation round joins the symmetrized edge list
    edges = persist(
        src.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
            src.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    # localCheckpoint (not persist) between rounds: persisting caches the
    # DATA but each round's logical plan still nests every previous round's
    # joins — on long chains (high diameter -> many rounds) the doubling
    # plan tree OOMs the analyzer long before the data is large.
    # Checkpointing truncates the lineage so every round plans against a
    # constant-size tree; eager=True also caches the (id,label)-sized blocks,
    # which every round registers so release_caches frees them.
    labels = local_checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    # convergence via the label-sum invariant: propagation only ever LOWERS
    # labels, so sum(label) strictly decreases until the fixpoint — equal
    # consecutive sums prove no label changed, at the cost of one scalar
    # aggregate per round instead of a full old-vs-new join
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        propagated = labels.join(neigh, labels["id"] == neigh["src"], "left").select(
            labels["id"],
            F.least(
                labels["label"], F.coalesce(neigh["nlabel"], labels["label"])
            ).alias("label"),
        )
        # path-halving: label := label(label).  Inner join is safe — every
        # label value is a node id, and the table covers all nodes.
        chase = propagated.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        new_labels = local_checkpoint(
            propagated.join(chase, propagated["label"] == chase["pid"])
            .select(propagated["id"], F.col("plabel").alias("label"))
        )
        cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("id", F.col("label").alias("cluster_id"))


# ----------------------------------------------------------- contamination
def contamination_check(
    df: DataFrame,
    probe_ids: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination scan: for every document, how many distinct
    word n-grams it shares with any *probe* document (e.g. an eval set).

    Returns (doc_id, n_shared) for documents sharing >= 1 shingle, probe
    documents excluded.  The probe shingle set is tiny (|eval set|) and is
    broadcast; the corpus side is one explode + broadcast-semi-join +
    groupBy(doc) — no all-pairs work, scales with corpus shingle count.
    """
    sh = shingles(df, text_col, id_col, n)
    probe_sh = (
        sh.where(F.col("id").isin(probe_ids)).select("shingle").distinct()
    )
    hits = (
        sh.where(~F.col("id").isin(probe_ids))
        .join(F.broadcast(probe_sh), on="shingle", how="inner")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits


def contamination_ngram_sweep(
    train_df: DataFrame,
    eval_df: DataFrame,
    ns: tuple[int, ...] = (4, 8, 13),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train<->eval overlap as a function of the n-gram SIZE — the dial
    every decontamination pipeline turns first (GPT-3 used 13-gram
    collisions; Lee et al. 2022 and The Pile audits sweep shorter
    windows).  Per n: ``(n, n_eval_grams, n_eval_grams_hit,
    n_train_docs_hit, eval_hit_rate)`` where the hit rate is the fraction
    of the eval set's DISTINCT n-grams that occur anywhere in the
    training corpus.  Small n over-flags (common phrases), large n
    under-flags (only verbatim blocks); the sweep shows where the knee
    sits for THIS corpus instead of importing another paper's constant.

    Monotonicity: a shared n-gram contains shared (n-1)-grams, so if any
    overlap exists at n it exists at every smaller n in the sweep (a law
    test pins this); the normalized rates need not be monotone because
    the eval gram universe also changes with n.

    Scale: ONE in-scan gram explode of each side carrying every sweep
    value as an n-tag (one row-local ``(n, grams)`` struct per swept n,
    exploded and then its grams exploded inside the same scan stage, so
    the corpus is scanned ONCE for the whole sweep, not once per n), the
    eval side collapsed to a DISTINCT broadcast set (the eval corpus is
    small BY CONTRACT — it is a benchmark), one broadcast (n, shingle) join over the tagged train
    grams, and one pair of per-n count-distinct aggregates; never an
    all-pairs or train-side distinct-gram materialization.  The final
    result is |ns| rows."""

    def tagged_grams(df: DataFrame) -> DataFrame:
        # identical per-n gram construction to shingles(); one (n, grams)
        # struct per swept n, so one scan+explode serves every n in the sweep
        t = sql_name(text_col)
        per_n = F.array(
            *[
                F.struct(
                    F.lit(n).alias("n"),
                    F.array_distinct(F.expr(_word_ngrams(t, n))).alias("gs"),
                )
                for n in ns
            ]
        )
        return (
            df.select(F.col(id_col).alias("id"), F.explode(per_n).alias("g"))
            .select("id", F.col("g.n").alias("n"), F.explode("g.gs").alias("shingle"))
            .where(F.length("shingle") > 0)
        )

    e = tagged_grams(eval_df).select("n", "shingle").distinct()
    hits = (
        tagged_grams(train_df)
        .join(F.broadcast(e), ["n", "shingle"])
        .groupBy("n")
        .agg(
            F.count_distinct("id").alias("n_train_docs_hit"),
            F.count_distinct("shingle").alias("n_eval_grams_hit"),
        )
    )
    totals = e.groupBy("n").agg(F.count(F.lit(1)).alias("n_eval_grams"))
    # densify over the swept ns: an n whose EVAL side produces zero grams
    # (e.g. all-empty eval texts) has no totals row either, but the
    # operator's row contract is one row per swept n — the former per-n
    # global aggregate emitted (n, 0, 0, 0, NULL) for it (r14 ADVICE)
    # a left join builds its right side: broadcast the |ns|-row aggregates
    ns_frame = eval_df.sparkSession.createDataFrame(
        [(int(n),) for n in ns], "n int"
    )
    totals = ns_frame.join(F.broadcast(totals), "n", "left").select(
        "n", F.coalesce("n_eval_grams", F.lit(0)).alias("n_eval_grams")
    )
    # left join: an n with zero hits has no hits row (the old per-n global
    # aggregate emitted 0s) — coalesce restores the 0-valued row
    return totals.join(F.broadcast(hits), "n", "left").select(
        F.col("n").cast("long").alias("n"),
        F.col("n_eval_grams").cast("long").alias("n_eval_grams"),
        F.coalesce("n_eval_grams_hit", F.lit(0))
        .cast("long")
        .alias("n_eval_grams_hit"),
        F.coalesce("n_train_docs_hit", F.lit(0))
        .cast("long")
        .alias("n_train_docs_hit"),
        # guarded: a gramless n has total 0 and its rate is NULL (the old
        # per-n aggregate's value) — under ANSI mode a bare 0/0 would
        # throw, so the division must not execute for that row
        F.when(
            F.col("n_eval_grams") > 0,
            snap(
                F.coalesce("n_eval_grams_hit", F.lit(0))
                / F.col("n_eval_grams")
            ),
        ).alias("eval_hit_rate"),
    )


def band_occupancy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH bucket-occupancy health for the md5 MinHash banding: per band
    ``(band, n_buckets, max_bucket, singleton_frac, n_candidate_pairs)``
    where ``n_candidate_pairs = sum over buckets of sz*(sz-1)/2`` — the
    EXACT join fan-out the candidate self-join would generate.

    The pre-join quadratic guard: bucketed LSH is linear only while
    buckets stay small, and a degenerate banding (too few hashes per
    band, boilerplate-dominated shingles, a broken bucket hash) shows up
    here as one hot bucket whose sz^2/2 pair mass dwarfs the corpus —
    measured by two aggregates BEFORE any pair is materialized.  Run it
    on a new corpus (or after any banding change) to price the LSH join;
    :func:`lsh_s_curve` prices recall, this prices cost.

    Scale: the signature/banding stages are exactly
    :func:`minhash_lsh_pairs_md5`'s; the occupancy is one
    (band, bucket)-keyed count (map-side combined) and one |bands|-row
    rollup — no pairs, no joins."""
    sh = shingles(df, text_col, id_col, shingle_n)
    sig = _minhash_sig(sh, num_hashes, md5_grade=True)
    b = _band_buckets(sig, num_hashes, bands, md5_grade=True)
    sz = b.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("sz"))
    return sz.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        snap(
            F.sum((F.col("sz") == 1).cast("long")) / F.count(F.lit(1))
        ).alias("singleton_frac"),
        F.sum(F.expr("(sz * (sz - 1)) div 2")).cast("long").alias(
            "n_candidate_pairs"
        ),
    )


def lsh_config_sweep(
    df: DataFrame,
    num_hashes: int = 16,
    bands_sweep: tuple[int, ...] = (2, 4, 8),
    shingle_n: int = 3,
    verify_threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banding-shape tuner for the md5 MinHash+LSH pipeline: for each
    candidate ``bands`` value (at a FIXED signature width), the realized
    candidate volume, how many candidates the exact-Jaccard verify
    admits, and the resulting precision — ``(bands, rows_per_band,
    est_threshold, n_candidates, n_verified, precision)``.
    ``est_threshold`` is the textbook S-curve midpoint ``(1/b)^(1/r)``:
    more bands of fewer rows pulls it down (recall up, candidate volume
    and verify cost up).  Together with :func:`band_occupancy` (bucket
    skew) and :func:`lsh_empirical_detection` (measured recall) this
    completes the LSH pricing kit: pick ``bands`` off this curve instead
    of shipping a guess to a 100 TB join.

    One signature pass: hash ``i`` of a MinHash signature is independent
    of the banding, so ALL configs share one persisted ``num_hashes``-wide
    signature frame; each config's band keys are row-local prefix
    regroupings, unioned with a config tag and fed through ONE
    (cfg, band, bucket) self-join — the join stays bucket-local per
    config, never corpus-quadratic.  The exact-Jaccard verify runs ONCE
    over the DEDUPLICATED union of all configs' candidate pairs (configs
    overlap heavily by construction), then every config's rollup is a
    broadcast join against that one verified pair set.  A
    bucket-collision pair sharing zero shingles (md5 collision;
    astronomically rare) counts as unverified rather than erroring."""
    for b in bands_sweep:
        if num_hashes % b != 0:
            raise ValueError(
                f"bands {b} does not divide num_hashes {num_hashes}"
            )
    if sorted(bands_sweep) != list(bands_sweep) or not bands_sweep:
        raise ValueError(
            f"bands_sweep must be non-empty ascending, got {bands_sweep}"
        )
    # read by every config's band buckets and by both set joins of the
    # verify
    sig = persist(
        _minhash_sig(
            shingles(df, text_col, id_col, shingle_n), num_hashes,
            md5_grade=True, with_set=True,
        )
    )
    entries = None
    for b in bands_sweep:
        e = _band_buckets(sig, num_hashes, b, md5_grade=True).withColumn(
            "cfg", F.lit(b)
        )
        entries = e if entries is None else entries.unionByName(e)
    a, bb = entries.alias("a"), entries.alias("b")
    # read by the verify and by the per-config candidate rollup
    cand = persist(
        a.join(bb, on=["cfg", "band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select("cfg", F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    jac = _pair_jaccard(cand.select("id_a", "id_b").distinct(), sig)
    judged = cand.join(jac, ["id_a", "id_b"], "left").select(
        "cfg",
        (F.coalesce("jaccard", F.lit(0.0)) >= F.lit(verify_threshold))
        .cast("long")
        .alias("__ok"),
    )
    spark = df.sparkSession
    est = F.broadcast(
        spark.createDataFrame(
            [
                (b, num_hashes // b, round((1.0 / b) ** (b / num_hashes), 6))
                for b in bands_sweep
            ],
            "cfg int, rows_per_band int, est_threshold double",
        )
    )
    return (
        est.join(
            cand.groupBy("cfg").agg(F.count(F.lit(1)).alias("n_candidates")),
            "cfg",
            "left",
        )
        .join(
            judged.groupBy("cfg").agg(F.sum("__ok").alias("n_verified")),
            "cfg",
            "left",
        )
        .select(
            F.col("cfg").cast("long").alias("bands"),
            F.col("rows_per_band").cast("long").alias("rows_per_band"),
            "est_threshold",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_verified", F.lit(0)).cast("long").alias(
                "n_verified"
            ),
            snap(F.col("n_verified") / F.col("n_candidates")).alias(
                "precision"
            ),
        )
    )


def dedup_threshold_sweep(
    df: DataFrame,
    thresholds: "tuple[float, ...] | list[float]" = (0.7, 0.8, 0.9),
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 10_000,
) -> DataFrame:
    """Dedup-pressure curve: for each candidate Jaccard threshold, how
    many near-dup pairs and how many distinct documents the cut would
    implicate — ``(threshold, n_pairs, n_docs)`` — computed from ONE
    n-gram Jaccard pair pipeline at ``min(thresholds)`` instead of one
    rerun per threshold.  The tuning dial for picking the production
    cut: too low and boilerplate-heavy sources collapse wholesale, too
    high and syndicated near-copies survive; the sweep shows where the
    pair count elbows.

    Scale: the pair pipeline is the shingle equi-join (hashed keys,
    hot-shingle ``max_df`` cap — :func:`ngram_jaccard_pairs`' engine)
    run ONCE at the loosest threshold; the per-threshold rollup is a
    broadcast |thresholds|-row inequality join over the persisted
    pair set, and the doc count explodes pairs 2x — all pair-sized,
    nothing rescans the corpus."""
    ts = sorted(float(t) for t in thresholds)
    if not ts:
        raise ValueError("thresholds must be non-empty")
    sh = shingles(df, text_col, id_col, 3, hashed=True)
    pairs = persist(
        _jaccard_from_shingles(sh, threshold=ts[0], max_df=max_df)
    )
    spark = df.sparkSession
    tf = F.broadcast(
        spark.createDataFrame([(t,) for t in ts], "threshold double")
    )
    hits = pairs.join(tf, F.col("jaccard") >= F.col("threshold"))
    n_pairs = hits.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    n_docs = (
        hits.select(
            "threshold",
            F.explode(F.array("id_a", "id_b")).alias("id"),
        )
        .groupBy("threshold")
        .agg(F.count_distinct("id").alias("n_docs"))
    )
    return (
        tf.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def lsh_empirical_detection(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    bin_width: float = 0.05,
) -> DataFrame:
    """Empirical LSH detection curve: the MEASURED counterpart of
    :func:`lsh_s_curve`'s analytic ``1-(1-s^r)^b`` — per Jaccard bin,
    how many exact-truth pairs the banded md5 MinHash candidate stage
    actually recovered: ``(bin_lo, n_truth, n_detected, detect_rate,
    p_analytic)``.  The truth side is the UNCAPPED exact n-gram Jaccard
    pair set at ``min_jaccard``; the candidate side is the banding with
    NO verify step (detection is the banding's job; verification would
    mask its misses).  A banding regression (wrong rows-per-band, broken
    bucket hash, dropped shingles) shows up as an empirical curve
    sagging below the analytic one at matching s.

    Binning is integer-exact on both engines: the 4-decimal-snapped
    jaccard is scaled to integer ten-thousandths BEFORE the bin floor,
    so no pair ever straddles a bin boundary by a double ulp.

    Scale: both sides are the production pipelines (shingle equi-join
    truth, bucket-local candidates); the overlay join is truth-pair
    sized; the rollup is |bins|-row."""
    # persisted: the shingle relation feeds FOUR consumers (truth sizes,
    # both truth self-join sides, the minhash signatures) — without the
    # cache the split/explode lineage re-executes per consumer
    sh = persist(shingles(df, text_col, id_col, shingle_n))
    truth = _jaccard_from_shingles(sh, threshold=min_jaccard)
    sig = _minhash_sig(sh, num_hashes, md5_grade=True)
    cand = _band_candidates(
        _band_buckets(sig, num_hashes, bands, md5_grade=True)
    ).withColumn("__det", F.lit(1))
    units = int(round(bin_width * 10_000))
    bin_idx = (
        F.round(F.col("jaccard") * F.lit(10_000)).cast("long") / F.lit(units)
    ).cast("long")
    r = num_hashes // bands
    return (
        truth.join(cand, ["id_a", "id_b"], "left")
        .groupBy(bin_idx.alias("__bin"))
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce("__det", F.lit(0))).cast("long").alias(
                "n_detected"
            ),
        )
        .select(
            snap(F.col("__bin") * F.lit(units) / F.lit(10_000.0)).alias(
                "bin_lo"
            ),
            "n_truth",
            "n_detected",
            snap(F.col("n_detected") / F.col("n_truth")).alias("detect_rate"),
            # analytic detection probability at the bin's LOWER edge — a
            # conservative floor for every pair in the bin
            snap(
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0)
                    - F.pow(
                        F.col("__bin") * F.lit(units) / F.lit(10_000.0),
                        F.lit(float(r)),
                    ),
                    F.lit(float(bands)),
                )
            ).alias("p_analytic"),
        )
    )


def cluster_stats(pairs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Per-cluster cohesion audit over a near-dup pair set and its
    connected-component assignment: ``(cluster_id, n_members, n_edges,
    density, avg_jaccard)`` with ``density = 2E / (m(m-1))`` — 1.0 for a
    clique, approaching 0 for a transitive-closure CHAIN.  The quality
    gate on the dedup graph itself: canonical collapse (canonical_docs)
    keeps ONE survivor per component, which is only safe when the
    component is cohesive — a low-density cluster means A~B~C chained
    through pairwise overlaps while A and C share almost nothing, so
    collapsing it destroys non-duplicate content.  Watching the density
    distribution per release catches a threshold or shingle regression
    as chain formation, before any content is lost.

    Input contract: ``clusters`` is expected to be the connected-component
    assignment of exactly this ``pairs`` frame (e.g. ``dedup_clusters(pairs)``).
    An edge counts toward a cluster only when BOTH endpoints map to that
    cluster — a mismatched (pairs, clusters) input therefore shrinks
    ``n_edges``/``density`` toward 0 instead of silently misattributing
    edges via one endpoint.  Clusters with no intra-cluster edge (singletons,
    or inconsistent inputs) are KEPT with ``n_edges = 0``, ``density = 0.0``
    and ``avg_jaccard = NULL`` rather than dropped.

    Scale: edges join the (tiny) cluster map on each endpoint —
    pairs-sized, bucket-local upstream; both aggregates are
    |clusters|-row.  Nothing here touches row data."""
    cid_a = clusters.select(
        F.col("id").alias("id_a"), F.col("cluster_id").alias("cluster_id")
    )
    cid_b = clusters.select(
        F.col("id").alias("id_b"), F.col("cluster_id").alias("__cid_b")
    )
    e = (
        pairs.join(cid_a, "id_a")
        .join(cid_b, "id_b")
        .where(F.col("cluster_id") == F.col("__cid_b"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.avg("jaccard").alias("__aj"),
        )
    )
    m = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return m.join(e, "cluster_id", "left").select(
        "cluster_id",
        "n_members",
        F.coalesce(F.col("n_edges"), F.lit(0)).alias("n_edges"),
        F.coalesce(
            snap(
                F.lit(2.0)
                * F.col("n_edges")
                / (F.col("n_members") * (F.col("n_members") - F.lit(1)))
            ),
            F.lit(0.0),
        ).alias("density"),
        snap(F.col("__aj")).alias("avg_jaccard"),
    )


def contamination_diff(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    probe_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Cross-snapshot contamination diff: :func:`contamination_check`'s
    probe-shingle overlap computed against TWO corpus releases and
    compared per document — ``(doc_id, n_shared_a, n_shared_b, delta,
    status)`` for every document contaminated in EITHER snapshot (probe
    documents excluded).  ``status`` classifies the movement: ``new``
    (contaminated only in B — the re-crawl re-introduced eval content),
    ``gone`` (cleaned between releases), ``changed`` (overlap count
    moved), ``stable``.  The release-acceptance view of contamination: a
    nonempty ``new`` set is the signal to block a snapshot BEFORE it
    trains.

    A document absent from one snapshot and a document present-but-clean
    both read 0 on that side — the diff tracks contamination exposure,
    not snapshot membership.

    Scale: the probe shingle set is |eval set|-sized and persisted once
    (both sides broadcast-join against it — no re-scan of the probe
    relation per side); each snapshot side is one explode +
    broadcast-semi-join + groupBy(doc), exactly contamination_check's
    cost; the final full-outer join is over the contaminated-doc frames
    only (<= hits rows, not corpora)."""
    probe_sh = persist(
        shingles(probe_df, text_col, id_col, n).select("shingle").distinct()
    )
    probe_ids = probe_df.select(F.col(id_col).alias("id")).distinct()

    def hits(corpus: DataFrame, out: str) -> DataFrame:
        return (
            shingles(corpus, text_col, id_col, n)
            .join(F.broadcast(probe_ids), on="id", how="left_anti")
            .join(F.broadcast(probe_sh), on="shingle", how="inner")
            .groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).alias(out))
        )

    a, b = hits(corpus_a, "n_shared_a"), hits(corpus_b, "n_shared_b")
    na = F.coalesce("n_shared_a", F.lit(0)).cast("long")
    nb = F.coalesce("n_shared_b", F.lit(0)).cast("long")
    return a.join(b, on=id_col, how="full_outer").select(
        id_col,
        na.alias("n_shared_a"),
        nb.alias("n_shared_b"),
        (nb - na).alias("delta"),
        F.when((na == 0) & (nb > 0), F.lit("new"))
        .when((na > 0) & (nb == 0), F.lit("gone"))
        .when(na == nb, F.lit("stable"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


# ----------------------------------------------------------------- simhash
# 64-bit signatures split into 4 chunks of 16 bits for the pigeonhole join:
# hamming <= 3 still guarantees >= 1 equal chunk, but buckets number 2^16
# per chunk instead of 2^8 — expected bucket size n/65536, which keeps
# within-bucket pair generation linear-ish at corpus scale (32-bit/8-bit
# chunks = 256 buckets means n^2/256 candidate pairs, a 100 TB blowup).
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4
_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: majority vote of token-hash bits.

    One explode + one groupBy(id).  The per-bit tallies are PACKED, two
    bit-counters per aggregate: lane mask ``1 | 1<<32`` picks bits ``j``
    and ``j+32`` of the token hash, so ``sum((h >> j) & mask)`` holds
    count(bit j) in its low 32 bits and count(bit j+32) in its high 32
    bits — 32 shift+mask sums plus one count instead of 64 CASE-WHEN
    sums (half the aggregation-buffer width and ~half the per-row agg
    work; A/B at sf0.1: 1.93 -> 1.78 s, bit-identical signatures).  The
    majority vote is branch-free arithmetic: bit i fires iff
    ``2*cnt_i > n``, i.e. iff ``n - 2*cnt_i`` is negative, so the bit IS
    the sign bit ``shiftrightunsigned(n - 2*cnt_i, 63)`` — equal to the
    former ``sum(+/-1) > 0`` exactly (A/B on the determinism join shape:
    4.22 -> 2.08 s, bit-identical).  Lane safety: counters can only
    collide after 2^32 tokens in one document, and the packed sum stays
    below 2^63 until ~2^31 tokens — far beyond any real document."""
    return _simhash_sig(df, text_col, id_col, md5_grade=False)


def simhash_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Verification-grade SimHash twin: 64-bit signature as a '0'/'1' string
    where bit i < 32 = majority vote of (hex digit i of md5(token) >= 8) and
    bit i >= 32 draws from md5('x:' || token) (md5 yields 32 hex digits, so
    the upper half re-keys the hash).

    Same dataflow as :func:`simhash` (one explode + one groupBy(id)); every
    primitive (md5, substr, conditional sum) exists in DuckDB, so the driver
    oracle reproduces signatures exactly.  xxhash64 stays the fast default.
    """
    sig = _simhash_sig(df, text_col, id_col, md5_grade=True)
    # bin() is the two's-complement bit string, most significant bit first
    return sig.select(
        "id", F.reverse(F.lpad(F.bin("simhash"), SIMHASH_BITS, "0")).alias("simhash")
    )


def _md5_token_word(tok: Column) -> Column:
    """The md5 grade's 64-bit token word: bit ``i`` is set iff hex digit
    ``i`` is >= 8, digits 0-31 from ``md5(tok)`` and 32-63 from
    ``md5('x:' || tok)``.  Each 8-digit slice is one 32-bit ``conv`` word
    ``v``, and digit ``k`` of it is >= 8 iff bit ``31 - 4k`` of ``v`` is
    set (measured faster than 64 one-digit ``substr`` tests)."""
    halves = (F.md5(tok), F.md5(F.concat(F.lit("x:"), tok)))
    h = None
    for j in range(8):
        v = _hex_int(halves[j // 4], 8 * (j % 4) + 1, 8)
        for k in range(8):
            bit = F.shiftleft(
                F.shiftright(v, 31 - 4 * k).bitwiseAND(F.lit(1)), 8 * j + k
            )
            h = bit if h is None else h.bitwiseOR(bit)
    return h


def _simhash_sig(
    df: DataFrame, text_col: str, id_col: str, md5_grade: bool
) -> DataFrame:
    """The one SimHash signature pipeline behind :func:`simhash` and
    :func:`simhash_md5`: ``(id, simhash)`` with a long signature.
    ``md5_grade`` only picks the per-token 64-bit word; the packed
    majority vote (see :func:`simhash`) is shared."""
    tokens = _word_rows(df, text_col, F.col(id_col).alias("id"))
    # one word per token, projected once: the 32 lane sums all read it
    word = _md5_token_word(F.col("w")) if md5_grade else F.xxhash64(F.col("w"))
    h = F.col("h")
    lane_mask = (1 << 32) | 1
    tallies = tokens.select("id", word.alias("h")).groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright(h, j).bitwiseAND(F.lit(lane_mask))).alias(f"s{j}")
            for j in range(32)
        ],
    )

    def _cnt(i: int) -> Column:
        s = F.col(f"s{i % 32}")
        if i >= 32:
            s = F.shiftright(s, 32)
        return s.bitwiseAND(F.lit(0xFFFFFFFF))

    # branch-free assembly via shiftleft + bitwise OR (a 2**63 integer
    # literal does not fit in a signed long; bit 63 is the sign bit)
    sig = None
    for i in range(SIMHASH_BITS):
        bit = F.shiftleft(
            F.shiftrightunsigned(F.col("__n") - _cnt(i) * 2, 63), i
        )
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return tallies.select("id", sig.alias("simhash"))


def simhash_md5_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over :func:`simhash_md5` signatures — pigeonhole chunk
    bucketing (4 x 16-bit chunks, 2^16 buckets each) then exact string
    hamming, all oracle-reproducible."""
    # the long's bits [16c, 16c+16) are the string's chars [16c, 16c+16),
    # so the shared join buckets and counts exactly as on the strings
    return _pigeonhole_pairs(
        _simhash_sig(df, text_col, id_col, md5_grade=True), max_hamming
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs with simhash hamming distance <= max_hamming.

    Pigeonhole bucketing: with 4 chunks of 16 bits, any pair within hamming 3
    agrees on >= 1 chunk; join per-chunk (2^16 buckets each — expected bucket
    size n/65536), verify exact hamming via bit_count(xor) only inside
    buckets.

    ``sig`` optionally supplies a precomputed ``(id, simhash)`` frame (e.g.
    a persisted signature table) so pair generation skips the signature
    job — the shape a production pipeline uses: signatures are computed
    once per ingest and re-bucketed cheaply thereafter."""
    if sig is None:
        sig = simhash(df, text_col, id_col)
    return _pigeonhole_pairs(sig, max_hamming)


def _pigeonhole_pairs(sig: DataFrame, max_hamming: int) -> DataFrame:
    """The one SimHash pair join: ``(id_a, id_b, hamming)`` with id_a < id_b
    for every pair of long ``(id, simhash)`` signatures that share one of
    the 4 16-bit chunks and lie within ``max_hamming`` bits."""
    chunks = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * _CHUNK_BITS)
                        .bitwiseAND(F.lit((1 << _CHUNK_BITS) - 1))
                        .alias("ck"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.ck").alias("ck"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, on=["chunk", "ck"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def canonical_survivors(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    quality_col: Column | str,
) -> DataFrame:
    """Quality-aware cluster collapse: keep exactly ONE document per
    near-duplicate cluster — the highest-quality member — plus every
    unclustered document.

    :func:`dedup_clusters` picks the *minimum id* as representative, which
    is the right convention for a stable cluster label but the wrong one
    for choosing which copy to train on: near-dup clusters mix clean
    originals with truncated scrapes and boilerplate-wrapped mirrors, and
    min-id keeps whichever happened to be crawled first.  This operator
    ranks cluster members by an explicit quality signal (a score column or
    expression — e.g. :func:`~.text.quality_score` output, or plain
    ``length(text)``) and keeps the argmax, tie-broken by id so the result
    is deterministic.

    Scale: one left equi-join of the corpus against the (small) cluster
    table, then a window ``row_number`` partitioned by representative.
    Unclustered documents are singleton partitions of their own id —
    the window shuffle is hash-partitioned on ``rep`` with no skew (near-dup
    clusters are bounded-size in practice; a pathological giant cluster is
    itself the signal to fix upstream thresholds).  No global sort, no
    driver-side state."""
    q = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    cl = clusters.select(
        F.col("id").alias("__cl_id"), F.col("cluster_id").alias("__cl_rep")
    )
    joined = df.join(cl, df[id_col] == cl["__cl_id"], "left").withColumn(
        "__rep", F.coalesce(F.col("__cl_rep"), F.col(id_col))
    )
    w = Window.partitionBy("__rep").orderBy(q.desc(), F.col(id_col))
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__cl_id", "__cl_rep", "__rep", "__rk")
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block: Column,
    max_distance: int = 1,
) -> DataFrame:
    """Entity resolution by blocked edit-distance matching: candidate pairs
    share a blocking key (``block``, an expression over the row — a name
    prefix, a soundex code, a normalized zip), and a pair survives when the
    Levenshtein distance between their ``text_col`` values is at most
    ``max_distance`` — the classic record-linkage shape (Fellegi-Sunter
    blocking) for customer/vendor/author tables where MinHash shingles are
    too coarse and exact keys too brittle.

    Output: (id_a, id_b, dist) with ``id_a < id_b``, each pair once.

    Scale (100 TB of entities): the all-pairs O(n^2) comparison becomes a
    hash EQUI-join on the blocking key — the only shuffle — and the edit
    distance runs row-local (JVM ``levenshtein``, whole-stage codegen)
    on within-block candidates only.  Cost is sum(|block|^2), so the
    blocking expression's job is bounding block size: a hot block (every
    NULL name, a default value) degenerates quadratically — profile with
    ``skew.skew_profile`` and null-filter or sub-block (append a hash
    digit) the offenders.  Recall lost to blocking is recovered the
    standard way: union pair sets from several independent blockings
    (prefix + soundex + zip), then ``dedup_clusters`` the union.
    """
    sel = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t"), block.alias("blk")
    ).where(F.col("blk").isNotNull())
    a, b = sel.alias("a"), sel.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.levenshtein(F.col("a.t"), F.col("b.t")).alias("dist"),
        )
        .where(F.col("dist") <= max_distance)
    )


# ------------------------------------------------------ boilerplate removal
def remove_boilerplate(
    df: DataFrame,
    min_df: int = 3,
    seg_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style boilerplate stripping: a segment that appears in at
    least ``min_df`` DISTINCT documents is boilerplate (headers, license
    blocks, navigation chrome) and is removed from EVERY document —
    including the first (contrast :func:`segment_dedup`, which keeps the
    first occurrence: that dedups repeated content, this deletes content
    whose repetition across documents is evidence it is not content at
    all).  Returns (doc_id, n_segments, n_kept, clean_text).

    Segmentation matches :func:`segment_dedup` (fixed ``seg_words`` word
    windows — the corpus is newline-free; on real corpora the boundary is
    the paragraph/line split).

    Scale: one narrow explode, ONE digest-keyed shuffle that both the
    document-frequency aggregate and the flag join share (the join key IS
    the aggregate key, so the co-partitioned sort-merge/hash join adds no
    exchange on the segment side), then the per-document ordered rollup.
    The boilerplate relation is |distinct over-threshold segments| rows —
    usually tiny, but the join is digest-keyed and safe even when it is
    not.  No pair generation anywhere; linear in corpus word count.
    """
    segs = _word_segments(
        df, F.col(text_col), seg_words, F.col(id_col).alias("id")
    ).withColumn("__d", F.md5(F.col("__seg")))
    boiler = (
        segs.groupBy("__d")
        .agg(F.count_distinct("id").alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("__d", F.lit(True).alias("__boiler"))
    )
    kept = segs.join(boiler, ["__d"], "left").withColumn(
        "keep", F.col("__boiler").isNull()
    )
    return _keep_rollup(kept, id_col)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    hashed: bool = True,
    max_df: int | None = 10_000,
) -> DataFrame:
    """ASYMMETRIC n-gram containment for every document pair sharing a
    shingle: ``(id_small, id_large, containment)`` where containment =
    ``|S_small n S_large| / |S_small|`` and the SMALLER shingle set is the
    one being contained (ties break toward the lower id).

    Jaccard (:func:`ngram_jaccard_pairs`) misses subset relationships: a
    paragraph quoted inside a 100x-longer article has Jaccard ~ 0.01 but
    containment ~ 1.0.  Quote/inclusion detection — the "is this document
    embedded in that one" question behind boilerplate provenance, licence
    attribution, and aggregator-page dedup — needs the asymmetric score.

    Same pair-generation engine as Jaccard (shingle equi-join, hashed
    8-byte keys, ``max_df`` hot-shingle cap so one boilerplate phrase
    cannot go quadratic); containment is computed over the capped shingle
    space, exactly like the Jaccard variant.  One extra projection over
    the pair aggregate, no extra shuffle.  Not plan-only, like
    :func:`ngram_jaccard_pairs`: the call persists the shingles and, with
    ``max_df`` set, runs the one-job ``hot.isEmpty()`` probe."""
    inter = _co_shingle_pairs(
        shingles(df, text_col, id_col, n, hashed=hashed), max_df
    )
    small_is_a = (F.col("sz_a") < F.col("sz_b")) | (
        (F.col("sz_a") == F.col("sz_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        inter
        .select(
            F.when(small_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
            F.when(small_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias("id_large"),
            F.round(
                F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")), 4
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def bloom_bitset(
    df: DataFrame,
    content_col: str = "text",
    num_bits: int = 1 << 18,
    num_hashes: int = 3,
) -> DataFrame:
    """The set bit positions of a Bloom filter over ``content_col`` values:
    one ``(bit,)`` row per distinct set position (at most ``num_bits``
    rows, regardless of corpus size).

    This is the pure-dataflow Bloom filter: instead of a driver-side
    byte-array sketch, the filter IS a tiny relation — ``num_hashes``
    md5-derived positions per value, deduplicated.  At 100 TB the corpus
    collapses to <= 2^18 rows (~2 MB), which is persistable, incrementally
    maintainable (new batches union in), and broadcast-able to prune any
    future batch without re-shuffling the corpus.  Deliberately md5-based
    so the construction is exactly replayable by an ANSI-SQL oracle
    (Spark's BloomFilter sketch is not)."""
    h = F.expr(_content_digest(sql_name(content_col)))
    bits = _bloom_bits(h, num_bits, num_hashes)
    return df.select(F.explode(bits).alias("bit")).distinct()


def _bloom_bits(h: Column, num_bits: int, num_hashes: int) -> Column:
    """The ``num_hashes`` Bloom bit positions of content hash ``h``, as an
    array: position i is the first 8 hex digits of ``md5('i:' || h)``,
    mod ``num_bits``."""
    return F.array(
        *[
            _hex_int(F.md5(F.concat_ws(":", F.lit(str(i)), h)), 1, 8) % num_bits
            for i in range(num_hashes)
        ]
    )


def bloom_incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 18,
    num_hashes: int = 3,
    corpus_bits: DataFrame | None = None,
) -> DataFrame:
    """Exact incremental dedup with a Bloom-filter pre-prune: identical
    output to :func:`incremental_exact_dedup` — one ``(content_hash,
    keep_id)`` row per batch content value the corpus lacks — but the
    batch is first pruned against the corpus's Bloom bit-set and only
    bloom-POSITIVE rows (definite duplicates plus ~fpp false positives)
    reach the exact anti-join.

    The runtime-filter join pattern Spark applies to dynamic partition
    pruning, expressed in dataflow: bloom-negative rows are PROVABLY
    novel (a Bloom filter has no false negatives) and skip verification
    entirely; the expensive exact check runs on the small positive slice
    only.  At 100 TB the bit-set (<= num_bits rows) is built once,
    persisted, and broadcast per batch — the corpus itself is never
    rescanned, while plain ``incremental_exact_dedup`` re-shuffles the
    full corpus hash set on every increment.  Pass ``corpus_bits=`` (a
    persisted :func:`bloom_bitset` output) to use that precomputed
    filter.  Correctness does not depend on the filter's quality: the
    verify join restores exactness, so num_bits/num_hashes tune only the
    pruning rate."""
    batch = hash_dedup(new_df, content_col, id_col).drop("dup_count")
    bits = (
        corpus_bits
        if corpus_bits is not None
        else bloom_bitset(corpus_df, content_col, num_bits, num_hashes)
    )
    probe = _bloom_bits(F.col("content_hash"), num_bits, num_hashes)
    probed = batch.select("content_hash", "keep_id", F.explode(probe).alias("bit"))
    # A row is bloom-positive iff ALL of its k probe bits are set: count
    # semi-join hits per hash and compare to k.  The bit relation is tiny
    # (<= num_bits rows) -- broadcast it so the probe never shuffles.
    hits = (
        probed.join(F.broadcast(bits), on="bit", how="left_semi")
        .groupBy("content_hash", "keep_id")
        .agg(F.count(F.lit(1)).alias("set_bits"))
    )
    positive = hits.where(F.col("set_bits") == num_hashes).drop("set_bits")
    negative = batch.join(
        positive.select("content_hash"), on="content_hash", how="left_anti"
    )
    return negative.unionByName(_absent_from(positive, corpus_df, content_col))


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_mod: int = 8,
) -> DataFrame:
    """Content-defined chunking at token granularity: ``(doc_id, chunk_idx,
    chunk_hash, n_tokens)`` — one row per chunk of the
    :func:`._tokens._words` (a text with no word has none), where a chunk
    boundary falls AFTER any token whose md5 prefix is ≡ 0 (mod
    ``boundary_mod``), giving ~boundary_mod-token expected chunks.

    The storage-dedup primitive (rsync/LBFS/casync) applied to corpus
    management: because boundaries depend on CONTENT, not position, an
    insertion early in a document only perturbs chunks up to the next
    boundary — every later chunk re-synchronizes and dedups against the
    previous version, where fixed-size chunking (chunk_documents) shifts
    every subsequent chunk.  Chunk identity is the md5 of the
    space-joined tokens.

    Scale: one posexplode + ONE per-document window (cumulative boundary
    count — partitions are document-sized) + one (doc, chunk) aggregate
    whose collected state is the chunk's own tokens, reassembled
    order-invariantly via array_sort over (pos, token) structs so the
    chunk hash is partitioning-independent."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_words(F.col(text_col))).alias("pos", "tok"),
    )
    is_boundary = (_hex_int(F.md5(F.col("tok")), 1, 4) % boundary_mod == 0).cast("long")
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.select(
        "id",
        "pos",
        "tok",
        F.coalesce(F.sum(is_boundary).over(w), F.lit(0)).alias("chunk_idx"),
    )
    return (
        chunked.groupBy("id", "chunk_idx")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                        ),
                        lambda s: s.tok,
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            "chunk_hash",
            "n_tokens",
        )
    )


def cdc_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_mod: int = 8,
) -> DataFrame:
    """Corpus-level chunk-dedup summary over :func:`cdc_chunks`: one row
    ``(n_chunks, n_distinct, dup_ratio, avg_tokens)`` — the
    would-be-storage-savings read (dup_ratio = 1 - distinct/total,
    decimal-snapped to 6) that says whether chunk-level dedup is worth
    materializing for this corpus.  Reduces the chunk relation in one
    aggregate; never materializes chunk text (hashes only)."""
    ch = cdc_chunks(df, text_col, id_col, boundary_mod)
    return ch.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct(F.col("chunk_hash")).alias("n_distinct"),
        snap(
            F.lit(1.0)
            - F.count_distinct(F.col("chunk_hash")) / F.count(F.lit(1))
        ).alias("dup_ratio"),
        snap(F.avg(F.col("n_tokens"))).alias("avg_tokens"),
    )


def _window_positions(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, i, h): every overlapping k-token window's start position and
    md5 fingerprint, generated ROW-LOCALLY from the word array
    (sequence + slice + md5 — no token explode).  Documents shorter than
    ``k`` tokens contribute one whole-document window (the
    greatest(size-k+1, 1) clamp; slice clamps identically in Spark and
    DuckDB).  Shared by token_window_dup_coverage and
    top_repeated_substrings so the clamp, separator, and fingerprint
    stay in lockstep with each other and with both oracle replays."""
    words = _words(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (k - 1), F.lit(1)))
        ).alias("i"),
        words.alias("__ws"),
    ).select(
        "id",
        "i",
        F.md5(F.array_join(F.slice(F.col("__ws"), F.col("i"), k), " ")).alias("h"),
    )


def token_window_dup_coverage(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-level rolling-window exact-substring dedup signal — the
    word-granular companion of :func:`repeated_ngram_coverage` (char
    grams), and the tractable distributed slice of suffix-array dedup
    (Lee et al. 2022): fingerprint every overlapping ``k``-token window,
    flag windows shared by >= 2 distinct documents, and report per
    document ``(doc_id, n_windows, n_dup_windows, dup_frac,
    max_dup_run)`` where ``max_dup_run`` is the longest CONSECUTIVE run
    of duplicated window starts — a lower bound on the longest shared
    token span: a run of r duplicated windows certifies a shared
    substring of >= k + r - 1 tokens.

    That run length is what the coverage fraction can't give you: 30%
    dup_frac from scattered idioms is benign, 30% from one 500-token
    verbatim block is a licensing/contamination incident.

    Dataflow: window fingerprints are generated ROW-LOCALLY from the
    word array (sequence + slice + md5 — no token explode), so the only
    data-sized shuffles are (1) ONE exchange of 16-byte fingerprints for
    the shared-window flag (min!=max over the fingerprint partition, the
    single-shuffle trick from repeated_ngram_coverage), and (2) doc-keyed
    rollups whose window frames are bounded by document length.  No pair
    generation anywhere — cost is linear in token positions at any
    corpus size.  Documents shorter than ``k`` tokens contribute one
    whole-document window (slice clamps identically in Spark and the
    DuckDB oracle)."""
    pos = _window_positions(df, k, text_col, id_col)
    hw = Window.partitionBy("h")
    marked = pos.withColumn(
        "__rep", F.min("id").over(hw) != F.max("id").over(hw)
    )
    # gaps-and-islands WITHOUT a filter+self-join: the island key is the
    # running count of NON-duplicated positions, so consecutive duplicated
    # windows share a key and each island's rep-count is its run length.
    # One pipeline: exchange on the fingerprint, exchange on the doc id,
    # then both aggregates reuse the id partitioning (single scan — the
    # position relation is never re-derived or persisted).
    iw = (
        Window.partitionBy("id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = marked.withColumn(
        "__isl", F.sum((~F.col("__rep")).cast("long")).over(iw)
    )
    per_run = isl.groupBy("id", "__isl").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.col("__rep").cast("long")).alias("n_rep"),
    )
    return per_run.groupBy("id").agg(
        F.sum("n_all").alias("n_windows"),
        F.sum("n_rep").alias("n_dup_windows"),
        snap(F.sum("n_rep") / F.sum("n_all"), 4).alias("dup_frac"),
        F.max("n_rep").cast("long").alias("max_dup_run"),
    ).withColumnRenamed("id", id_col)


def top_repeated_substrings(
    df: DataFrame,
    k: int = 8,
    top: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level memorization audit (the other view of
    :func:`token_window_dup_coverage`): the ``top`` most-repeated k-token
    windows appearing in >= ``min_docs`` distinct documents, as
    ``(gram, n_occurrences, n_docs)`` — the ranked list of exactly WHAT
    is duplicated, where the per-doc coverage op only says how much.
    This is the report behind "which boilerplate/license/template blocks
    dominate the corpus" and the memorization-risk audit of Lee et al.
    2022 (their most-duplicated-substring tables).

    Dataflow: row-local window fingerprints (as in the coverage op), ONE
    16-byte-key hash aggregate to (fingerprint -> occurrence count,
    distinct docs, lexicographic-min (id, i) exemplar), a TakeOrdered
    top-k on (count desc, fingerprint) — never a global sort — and one
    BROADCAST join of the k winners back to the corpus to reconstruct
    the gram text from the exemplar's word array (window text never
    rides the big shuffle).  Deterministic: ties cut by the fingerprint
    hex, and any exemplar reconstructs the same gram because the
    fingerprint pins the text."""
    pos = _window_positions(df, k, text_col, id_col)
    winners = (
        pos.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("id").alias("n_docs"),
            F.min(F.struct("id", "i")).alias("ex"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_occurrences").desc(), F.col("h"))
        .limit(top)
    )
    corpus = df.select(
        F.col(id_col).alias("id"), _words(F.col(text_col)).alias("__ws")
    )
    return (
        F.broadcast(winners)
        .join(corpus, winners["ex"]["id"] == corpus["id"])
        .select(
            F.array_join(F.slice(F.col("__ws"), F.col("ex")["i"], k), " ").alias(
                "gram"
            ),
            "n_occurrences",
            "n_docs",
        )
    )


def dup_span_extract(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-aware duplicated-SPAN extractor: per document, the
    maximal token ranges covered by k-token windows that also occur in
    >= ``min_docs`` distinct documents, WITH the span text itself —
    ``(doc_id, span_start, n_tokens, min_share_docs, span_text)``,
    span_start 1-based in the document's whitespace token stream.
    Completes :func:`top_repeated_substrings` into an actionable removal
    list (round-10 verdict backlog; cf. Lee et al. 2022, whose
    suffix-array dedup emits exactly these spans for surgical excision):
    the ranked audit says WHICH boilerplate dominates, this says WHERE to
    cut in every affected document.  ``min_share_docs`` is the minimum
    sharing count across the span's windows — every token range inside
    the span is duplicated in at least that many documents.

    Dataflow: the shared :func:`_window_positions` fingerprints (same
    clamp/separator as the coverage and top-substrings ops), ONE
    16-byte-key hash aggregate to per-window distinct-doc counts
    (min_docs filter applied BEFORE anything joins back), an h-keyed
    equi-join of the surviving window set onto the positions, then the
    classic gaps-and-islands merge (``i - row_number`` grouping) inside
    per-document partitions — window sorts are DOC-sized, never
    corpus-sized — and one id-keyed join back to the corpus word array
    to slice span text row-locally.  Nothing is all-pairs; span text
    never rides the wide shuffle (only (id, i, h) does)."""
    pos = _window_positions(df, k, text_col, id_col)
    dup_h = (
        pos.groupBy("h")
        .agg(F.count_distinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    flagged = pos.join(dup_h, "h").select("id", "i", "n_docs")
    w_doc = Window.partitionBy("id").orderBy("i")
    spans = (
        flagged.withColumn("__g", F.col("i") - F.row_number().over(w_doc))
        .groupBy("id", "__g")
        .agg(
            F.min("i").alias("span_start"),
            F.max("i").alias("__end"),
            F.min("n_docs").cast("long").alias("min_share_docs"),
        )
    )
    corpus = df.select(
        F.col(id_col).alias("id"), _words(F.col(text_col)).alias("__ws")
    )
    span_slice = F.slice(
        F.col("__ws"),
        F.col("span_start"),
        F.col("__end") - F.col("span_start") + F.lit(k),
    )
    return spans.join(corpus, "id").select(
        F.col("id").alias(id_col),
        F.col("span_start").cast("long").alias("span_start"),
        F.size(span_slice).cast("long").alias("n_tokens"),
        "min_share_docs",
        F.array_join(span_slice, " ").alias("span_text"),
    )


def cross_source_duplication(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Syndication matrix: for every unordered source pair (a < b), how
    many DISTINCT exact contents (md5 digests) appear in both —
    ``(source_a, source_b, n_shared, share_of_a, share_of_b)`` with
    shares relative to each side's distinct-content count (snapped to 6
    decimals).  The mixture-dedup planning view: two mirrors of the same
    feed show up as a near-1.0 share pair, and deduping them FIRST
    changes every downstream source weight.

    Dataflow: ONE digest-keyed hash aggregate folds the corpus to
    (digest -> sorted source set) — collect_set dedups a source's
    internal re-posts map-side, and the set is bounded by |sources|, so
    the aggregate state is small no matter the corpus.  Source PAIRS
    then expand ROW-LOCALLY from each set (<= |sources| choose 2 per
    digest, no self-join), and per-source distinct-content totals come
    off the same digest frame; the |sources|^2-row pair table joins the
    |sources|-row totals via broadcast.  Three narrow 2-column scans
    (pair branch + each totals side), no digest self-join anywhere."""
    sets = (
        df.select(
            F.expr(_content_digest(sql_name(text_col))).alias("d"),
            F.col(group_col).alias("src"),
        )
        .groupBy("d")
        .agg(F.sort_array(F.collect_set("src")).alias("ss"))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ss"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("ss"), i + F.lit(2), F.size(F.col("ss"))
                    ),
                    lambda y: F.struct(
                        x.alias("source_a"), y.alias("source_b")
                    ),
                ),
            )
        )
    )
    pairs = (
        sets.where(F.size("ss") >= 2)
        .select(pair.alias("pr"))
        .groupBy(
            F.col("pr.source_a").alias("source_a"),
            F.col("pr.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    totals = (
        sets.select(F.explode("ss").alias("src"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    ta = totals.select(
        F.col("src").alias("source_a"), F.col("n_distinct").alias("na")
    )
    tb = totals.select(
        F.col("src").alias("source_b"), F.col("n_distinct").alias("nb")
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            snap(F.col("n_shared") / F.col("na")).alias("share_of_a"),
            snap(F.col("n_shared") / F.col("nb")).alias("share_of_b"),
        )
    )


def _exact_winners(
    df: DataFrame, text_col: str, id_col: str, group_col: str, *carry: Column
) -> DataFrame:
    """Exact-dedup survivorship under the keep-lowest-id rule: each row's
    ``id_col``, ``group_col`` (renamed ``src``) and ``carry`` columns plus
    ``__winner`` (the smallest id sharing its :func:`_content_digest`),
    ``__kept`` (the row is its digest's winner) and ``__ext`` (the
    winner's ``src`` differs from the row's).  One digest-partition window:
    a single 16-byte-key exchange, no join.  A caller selects what it
    reads; the optimizer prunes the window columns it drops.

    A caller that shingles the survivors carries the text in ``carry``,
    so the text rides the window's exchange.  Projecting it out and
    re-joining it for the survivors would not pay: the id-keyed re-join
    is itself a full-text exchange plus an extra id shuffle."""
    w = Window.partitionBy("__d").orderBy(F.col(id_col))
    return (
        df.select(
            F.col(id_col),
            F.col(group_col).alias("src"),
            *carry,
            F.expr(_content_digest(sql_name(text_col))).alias("__d"),
        )
        .withColumn("__winner", F.first(id_col).over(w))
        .withColumn("__kept", F.col(id_col) == F.col("__winner"))
        .withColumn("__ext", F.first("src").over(w) != F.col("src"))
        .drop("__d")
    )


def _near_winners(
    marked: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    max_df: int | None,
) -> DataFrame:
    """The near stage of exact-then-near dedup over the ``__kept`` rows of
    ``marked`` (:func:`_exact_winners`): ``(id_col, __near_winner)`` for
    each exact survivor with a verified :func:`ngram_jaccard_pairs`
    partner of smaller id, that smallest partner as its winner.  The pair
    set is bucketed and capped, never all-pairs; the rollup is pair-sized."""
    return (
        ngram_jaccard_pairs(
            marked.where(F.col("__kept")),
            text_col=text_col,
            id_col=id_col,
            n=n,
            threshold=threshold,
            hashed=True,
            max_df=max_df,
        )
        .groupBy(F.col("id_b").alias(id_col))
        .agg(F.min("id_a").alias("__near_winner"))
    )


def dedup_loss_by_source(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivorship report for exact dedup: under the keep-lowest-id rule,
    what each source LOSES — ``(source, n_docs, n_kept, n_dropped,
    n_lost_to_other, loss_frac)`` where ``n_lost_to_other`` counts rows
    whose surviving copy lives in a DIFFERENT source (content the source
    contributes nothing unique for) and ``loss_frac`` is snapped to 6
    decimals.

    The mixture-accounting complement of :func:`cross_source_duplication`:
    the matrix says which source PAIRS overlap; this says who actually
    pays when dedup runs — a syndicating mirror shows near-1.0 loss with
    all of it lost-to-other, while a source with internal re-posts loses
    to itself.  Source weights computed BEFORE dedup are wrong by exactly
    these numbers.

    Dataflow: one digest-partition window (a single 16-byte-key
    exchange) marks each row's winner id and winner source
    (lexicographic-first by id), then one hash aggregate to source
    granularity — no join, no distinct, one scan."""
    marked = _exact_winners(df, text_col, id_col, group_col)
    return (
        marked.groupBy(F.col("src").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__kept").cast("long")).alias("n_kept"),
            F.sum((~F.col("__kept")).cast("long")).alias("n_dropped"),
            F.sum((~F.col("__kept") & F.col("__ext")).cast("long")).alias(
                "n_lost_to_other"
            ),
        )
        .select(
            group_col,
            "n_docs",
            "n_kept",
            "n_dropped",
            "n_lost_to_other",
            snap(F.col("n_dropped") / F.col("n_docs")).alias("loss_frac"),
        )
    )


def dedup_provenance(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Per-document dedup audit trail for the standard exact-then-near
    pipeline: ``(doc_id, source, stage, winner_id)`` where ``stage`` is
    ``'kept'`` (survived both stages, ``winner_id`` NULL), ``'exact'``
    (dropped by exact dedup; ``winner_id`` = the keep-lowest-id digest
    winner), or ``'near'`` (survived exact, dropped by n-gram-Jaccard
    near dedup; ``winner_id`` = the SMALLEST-id verified partner — the
    deterministic attribution).

    The operational complement of :func:`token_survivorship`'s rollup:
    when a source owner asks "why did my documents disappear", the
    per-source fractions say how much, this says WHICH documents and to
    WHOM each lost — the record a governed corpus keeps next to the
    training manifest (takedown tracing, syndication disputes, dedup
    regression triage between releases).

    Dataflow: the one digest window of :func:`_exact_winners` and the
    bucketed near stage of :func:`_near_winners`, whose winner is one
    ``min(id_a) GROUP BY id_b`` over the verified pair set (pair-sized),
    joined back unhinted — the output stays |corpus|-row but every
    intermediate is the dedup pipeline the corpus already pays for."""
    marked = persist(
        _exact_winners(df, text_col, id_col, group_col, F.col(text_col)).select(
            id_col, "src", text_col, "__winner", "__kept"
        )
    )
    near = _near_winners(marked, text_col, id_col, shingle_n, threshold, max_df)
    return (
        marked.join(near, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("src").alias(group_col),
            F.when(~F.col("__kept"), F.lit("exact"))
            .when(F.col("__near_winner").isNotNull(), F.lit("near"))
            .otherwise(F.lit("kept"))
            .alias("stage"),
            F.when(~F.col("__kept"), F.col("__winner"))
            .otherwise(F.col("__near_winner"))
            .alias("winner_id"),
        )
    )


def token_survivorship(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int | None = 10_000,
) -> DataFrame:
    """TOKEN-granular dedup survivorship per source: what the standard
    exact-then-near dedup pipeline costs each source in TOKENS —
    ``(source, n_docs, n_tokens, tokens_kept_exact,
    tokens_lost_to_other_exact, tokens_kept_near, token_loss_frac)``.

    Mixture weights and training budgets are set in tokens, not
    documents, but :func:`dedup_loss_by_source` accounts only docs — a
    syndicated source of LONG documents under-reports its dedup loss
    there by exactly the length skew this fixes.  ``n_tokens`` is the
    :func:`._tokens._words` count (``text.token_count``'s ``ws_tokens``,
    0 for a NULL, empty or blank text), ``tokens_kept_exact`` the tokens
    of exact-dup survivors (keep-lowest-id per md5 digest),
    ``tokens_lost_to_other_exact`` the tokens of rows whose surviving
    copy lives in a DIFFERENT source, ``tokens_kept_near`` the tokens
    surviving the full pipeline — exact dedup, then n-gram-Jaccard near
    dedup among the exact survivors under the keep-lowest-id-per-pair
    rule (a survivor is dropped iff it has a verified near-dup partner
    with a smaller id) — and ``token_loss_frac`` is
    ``1 - tokens_kept_near / n_tokens`` snapped to 6 decimals (NULL for a
    source with no word).

    Dataflow: token counts are ROW-LOCAL (size over the word array — no
    explode); exact survivorship is the one digest-partition window of
    :func:`_exact_winners`; the near stage is :func:`_near_winners`
    (bucketed shingle equi-join, ``max_df`` hot-shingle cap — never
    all-pairs) joined back unhinted (AQE picks the strategy; the drop set
    scales with the near-dup fraction, so no hard broadcast).  One final
    hash aggregate to |sources| rows."""
    tk = F.size(_words(F.col(text_col))).cast("long")
    marked = persist(
        _exact_winners(
            df, text_col, id_col, group_col, F.col(text_col), tk.alias("__tk")
        ).drop("__winner")
    )
    near = _near_winners(marked, text_col, id_col, shingle_n, threshold, max_df)
    flagged = marked.join(near, on=id_col, how="left")
    kept_near = F.col("__kept") & F.col("__near_winner").isNull()
    return (
        flagged.groupBy(F.col("src").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tk").alias("n_tokens"),
            F.sum(F.when(F.col("__kept"), F.col("__tk")).otherwise(F.lit(0))).alias(
                "tokens_kept_exact"
            ),
            F.sum(
                F.when(~F.col("__kept") & F.col("__ext"), F.col("__tk")).otherwise(
                    F.lit(0)
                )
            ).alias("tokens_lost_to_other_exact"),
            F.sum(F.when(kept_near, F.col("__tk")).otherwise(F.lit(0))).alias(
                "tokens_kept_near"
            ),
        )
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            "tokens_kept_exact",
            "tokens_lost_to_other_exact",
            "tokens_kept_near",
            snap(
                F.lit(1.0) - F.try_divide("tokens_kept_near", "n_tokens")
            ).alias("token_loss_frac"),
        )
    )


def dedup_rate_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source dedup-PRESSURE drift between two corpus snapshots:
    ``(source, n_docs_a, n_docs_b, loss_frac_a, loss_frac_b, loss_drift,
    xloss_drift)`` — each snapshot's exact-dup survivorship fractions
    (:func:`dedup_loss_by_source` under the keep-lowest-id rule) compared
    per source; ``loss_drift`` is the signed change in the overall drop
    fraction and ``xloss_drift`` the change in the lost-to-OTHER-source
    fraction.

    The release-acceptance dial the round-10 verdict asked for: a source
    whose dedup rate jumps between snapshots started syndicating (or being
    syndicated — read ``xloss_drift`` to tell which side), even when its
    document count held still; mixture weights tuned on the old snapshot
    are wrong by exactly this drift.  Only sources present in BOTH
    snapshots are scored (appearing/disappearing sources are
    corpus-membership drift — :func:`corpus_diff` territory), mirroring
    :func:`~spark_auto_schema.ops.scoring.score_drift`'s contract.

    Scale: each side is dedup_loss_by_source's one digest-partition
    window + one source-granularity aggregate; the compare join is
    |sources| x |sources| on the group key — nothing new touches row
    data, and the drift math runs on two |sources|-row frames."""

    def side(df: DataFrame, tag: str) -> DataFrame:
        s = dedup_loss_by_source(df, group_col, text_col, id_col)
        return s.select(
            group_col,
            F.col("n_docs").alias(f"n_docs_{tag}"),
            F.col("loss_frac").alias(f"loss_frac_{tag}"),
            snap(F.col("n_lost_to_other") / F.col("n_docs")).alias(
                f"__xl_{tag}"
            ),
        )

    return (
        side(df_a, "a")
        .join(side(df_b, "b"), group_col)
        .select(
            group_col,
            "n_docs_a",
            "n_docs_b",
            "loss_frac_a",
            "loss_frac_b",
            snap(F.col("loss_frac_b") - F.col("loss_frac_a")).alias(
                "loss_drift"
            ),
            snap(F.col("__xl_b") - F.col("__xl_a")).alias("xloss_drift"),
        )
    )


def _segment_pairs(
    segs: DataFrame,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    verify_threshold: float,
) -> DataFrame:
    """Verified md5 MinHash-LSH pairs between the segments
    ``(__doc, __s, __seg)`` of :func:`_word_segments`: ``(a, b, jaccard)``
    with each side a ``(d, s)`` struct of doc id and segment index.

    Each segment is keyed ``'doc:seg'`` for :func:`minhash_lsh_pairs_md5`,
    so a < b in STRING order of the keys, not numerically.  Decoding strips
    only the trailing ``:<seg>`` suffix, so a ':' inside a string doc id
    survives (split-on-':' would truncate it), and casts the doc back to
    its source type (a bare cast to long would NULL out string ids)."""
    id_type = segs.schema["__doc"].dataType.simpleString()
    pairs = minhash_lsh_pairs_md5(
        segs.select(
            F.concat_ws(
                ":", F.col("__doc").cast("string"), F.col("__s").cast("string")
            ).alias("sid"),
            F.col("__seg").alias("seg"),
        ),
        text_col="seg",
        id_col="sid",
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        verify_threshold=verify_threshold,
    )

    def side(key: str) -> Column:
        return F.struct(
            F.regexp_replace(key, r":[0-9]+$", "").cast(id_type).alias("d"),
            F.regexp_extract(key, r":([0-9]+)$", 1).cast("int").alias("s"),
        )

    return pairs.select(side("id_a").alias("a"), side("id_b").alias("b"), "jaccard")


def paragraph_minhash_pairs(
    df: DataFrame,
    seg_words: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-granularity MinHash near-dedup: slice every document into
    fixed ``seg_words``-word segments (the :func:`segment_dedup` boundary
    rule — real corpora would split on paragraphs), run the md5
    MinHash+LSH engine at SEGMENT granularity, and roll cross-document
    segment near-dup pairs up to ``(doc_a, doc_b, n_seg_pairs,
    max_jaccard)``.

    Catches what document-level MinHash structurally misses: two long
    documents sharing one plagiarized/syndicated paragraph have tiny
    DOC-level Jaccard (the shared shingles drown in each doc's unique
    text) but segment-level Jaccard ~1 on the shared slice.  Conversely
    it localizes WHERE the overlap lives — n_seg_pairs counts the shared
    region's extent.

    Scale: identical shape to :func:`minhash_lsh_pairs_md5` one level
    down — segment ids replace doc ids, so the signature aggregate and
    band-bucket join carry |segments| keys (corpus words / seg_words,
    linear in corpus size); pair generation stays bucket-local, never
    all-pairs; the doc-pair rollup is one aggregate over the verified
    segment pairs (each <= the near-dup volume, not the corpus)."""
    segs = _word_segments(
        df, F.col(text_col), seg_words, F.col(id_col).alias("__doc")
    )
    pairs = _segment_pairs(segs, num_hashes, bands, shingle_n, verify_threshold)
    return (
        pairs.select(
            F.col("a.d").alias("__da"), F.col("b.d").alias("__db"), "jaccard"
        )
        .where(F.col("__da") != F.col("__db"))
        .groupBy(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_seg_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def paragraph_dedup_provenance(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float = 0.8,
) -> DataFrame:
    """Dedup audit trail at PARAGRAPH granularity: the
    :func:`dedup_provenance` attribution applied to
    :func:`paragraph_minhash_pairs`' fixed ``seg_words``-word segments,
    joined back to documents — ``(doc_id, seg_idx, source, stage,
    winner_doc_id, winner_seg_idx)`` where ``stage`` is ``'kept'``
    (winner columns NULL), ``'exact'`` (dropped by segment-digest dedup;
    winner = the keep-lowest-(doc_id, seg_idx) digest winner) or
    ``'near'`` (survived exact, dropped by segment MinHash near-dedup;
    winner = the numerically SMALLEST (doc_id, seg_idx) verified
    partner).

    Doc-level provenance answers "why did my DOCUMENT disappear"; this
    answers the takedown/syndication question one level down — WHICH
    PARAGRAPH of a kept document duplicates whom (a syndicated block
    inside an otherwise-unique page never trips doc-level dedup, but its
    segment rows here carry the attribution a takedown traces).

    Dataflow: the segment explode of :func:`_word_segments`
    (|segments| ~ corpus words / seg_words, linear); ONE segment-digest
    window for the exact stage (the text rides that exchange, the
    trade-off :func:`_exact_winners` documents); the near stage is
    :func:`_segment_pairs` over the exact SURVIVORS only
    (banded, bucket-local, never all-pairs) collapsed to a
    min-(doc, seg)-per-victim attribution (pair-sized) and joined back
    unhinted.  Output is |segments| rows; every intermediate is the
    paragraph-dedup pipeline the corpus already pays for."""
    segs = _word_segments(
        df, F.col(text_col), seg_words, F.col(id_col).alias("__doc"), F.col(group_col)
    )
    w = Window.partitionBy("__dg").orderBy(F.col("__doc"), F.col("__s"))
    marked = persist(
        segs.withColumn("__dg", F.md5(F.col("__seg")))
        .select(
            "__doc",
            group_col,
            "__s",
            "__seg",
            F.first("__doc").over(w).alias("__wdoc"),
            F.first("__s").over(w).alias("__wseg"),
        )
    )
    survivors = marked.where(
        (F.col("__doc") == F.col("__wdoc")) & (F.col("__s") == F.col("__wseg"))
    )
    pairs = _segment_pairs(survivors, num_hashes, bands, shingle_n, verify_threshold)
    # RE-canonicalize numerically: the pairs are a < b by STRING order of
    # their 'doc:seg' keys, but the keep/drop rule is the numeric
    # (doc_id, seg_idx) order
    pa, pb = F.col("a"), F.col("b")
    near_winner = (
        pairs.select(
            F.when(pa < pb, pb).otherwise(pa).alias("__victim"),
            F.when(pa < pb, pa).otherwise(pb).alias("__lesser"),
        )
        .groupBy("__victim")
        .agg(F.min("__lesser").alias("__nw"))
        .select(
            F.col("__victim.d").alias("__doc"),
            F.col("__victim.s").alias("__s"),
            F.col("__nw.d").alias("__nwdoc"),
            F.col("__nw.s").alias("__nwseg"),
        )
    )
    exact_drop = (F.col("__doc") != F.col("__wdoc")) | (
        F.col("__s") != F.col("__wseg")
    )
    return (
        marked.join(near_winner, on=["__doc", "__s"], how="left")
        .select(
            F.col("__doc").alias(id_col),
            F.col("__s").alias("seg_idx"),
            F.col(group_col),
            F.when(exact_drop, F.lit("exact"))
            .when(F.col("__nwdoc").isNotNull(), F.lit("near"))
            .otherwise(F.lit("kept"))
            .alias("stage"),
            F.when(exact_drop, F.col("__wdoc"))
            .otherwise(F.col("__nwdoc"))
            .alias("winner_doc_id"),
            F.when(exact_drop, F.col("__wseg"))
            .otherwise(F.col("__nwseg"))
            .alias("winner_seg_idx"),
        )
    )


def lsh_s_curve(
    spark,
    num_hashes: int = 16,
    bands: int = 4,
    grid_points: int = 20,
) -> DataFrame:
    """The analytic LSH detection S-curve for the banding the MinHash
    engine actually runs: with r = num_hashes/bands rows per band and b
    bands, a pair of Jaccard similarity s collides in at least one band
    with ``p_detect = 1 - (1 - s^r)^b``.  Emits the curve over a
    ``grid_points``-step similarity grid plus the standard threshold
    similarity ``s* = (1/b)^(1/r)`` — the S-curve's steep region, where
    ``p_detect(s*) = 1 - (1 - 1/b)^b`` (-> 1 - 1/e for large b) — the
    parameter-choice CONTRACT, versioned next to the engine so a
    num_hashes/bands change shows up as a diffable curve, not a silent
    recall shift.

    ``(s, p_detect, s_star, band_rows, n_bands)``, probabilities snapped
    to 6 decimals.  Scale: a |grid|-row frame from ``spark.range`` — no
    data read at all."""
    r = num_hashes // bands
    if r * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    s = snap((F.col("id") + 1) / F.lit(float(grid_points)))
    p = 1 - F.pow(1 - F.pow(s, F.lit(float(r))), F.lit(float(bands)))
    s_star = F.pow(F.lit(1.0 / bands), F.lit(1.0 / r))
    return spark.range(grid_points).select(
        s.alias("s"),
        snap(p).alias("p_detect"),
        snap(s_star).alias("s_star"),
        F.lit(r).cast("int").alias("band_rows"),
        F.lit(bands).cast("int").alias("n_bands"),
    )
