"""Curation operators: leakage-safe split, canonical survivors, quantile gates, sharded uniques, packing, retrieval panels.

Mechanically split from __spark_entry__.py (round 11); no semantic change.
Assembled by __spark_entry__.queries() / oracle_sql() — the single driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import SparkSession
from pyspark.sql.window import Window
from spark_auto_schema.ops import corpus
from spark_auto_schema.ops import dedup
from spark_auto_schema.inference import infer_table_schema
from spark_auto_schema.inference import inference_to_df
from spark_auto_schema.ops import packing
from spark_auto_schema.io import read_table
from spark_auto_schema.ops import relational
from spark_auto_schema.ops import sampling
from spark_auto_schema.ops import scoring
from spark_auto_schema.ops import similarity
from spark_auto_schema.ops import text
from spark_auto_schema.ops._tokens import _words
from spark_auto_schema.registry.extensions import (
    _lang_id_oracle_sql,
    _quality_oracle_sql,
    _region_fmt_path,
    _spread_docs,
    _spread_embs,
    _words_sql,
)
from spark_auto_schema.registry.lifecycle import _FEATURES_SQL, _SCORE_SQL
from spark_auto_schema.registry.analytics import (
    _CLUSTER_CLOSURE_CTE,
    _STREAM_SEQ,
    _events_stream_dir,
    _incr_split,
)
from spark_auto_schema.registry.pipeline_r9 import (
    _SCURVE_BANDS,
    _SCURVE_HASHES,
)

# ---------------------------------------------------------------------------
# round-6 curation additions: leakage-safe split, canonical survivors,
# group-quantile gate, HLL sharded uniques, Z-order roundtrip
# ---------------------------------------------------------------------------



def _q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval assignment: near-dup clusters (n-gram
    Jaccard pairs -> connected components) are assigned to a side as a
    unit, so no eval document has a near-copy in train.  The oracle
    replays the full pipeline — closure in a recursive CTE, then the same
    per-REPRESENTATIVE md5 draw — so a single straddling cluster would
    hash-mismatch."""
    docs = _spread_docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    cl = dedup.dedup_clusters(pairs)
    out = sampling.cluster_safe_split(docs, "doc_id", cl, eval_fraction=0.2)
    return out.select("doc_id", "split")


def _leakage_safe_split_oracle_sql() -> str:
    t = sampling.fraction_threshold(0.2)
    return (
        _CLUSTER_CLOSURE_CTE
        + f"""
SELECT d.doc_id,
       CASE WHEN substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 4)
                 < '{t}'
            THEN 'eval' ELSE 'train' END AS split
FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id
"""
    )


def _q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster collapse: one survivor per near-dup cluster —
    the LONGEST member (id tie-break) rather than dedup_clusters' min-id
    convention — plus all unclustered docs.  Oracle: the same closure,
    then a row_number window over the representative."""
    docs = _spread_docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    cl = dedup.dedup_clusters(pairs)
    surv = dedup.canonical_survivors(docs, "doc_id", cl, F.length("text"))
    return surv.select("doc_id", F.length("text").alias("text_len"))


_CANONICAL_DOCS_SQL = (
    _CLUSTER_CLOSURE_CTE
    + """
SELECT doc_id, text_len FROM (
  SELECT d.doc_id, length(d.text) AS text_len,
         row_number() OVER (PARTITION BY coalesce(c.cluster_id, d.doc_id)
                            ORDER BY length(d.text) DESC, d.doc_id) AS rk
  FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id
) WHERE rk = 1
"""
)


def _q_group_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile gate (exact-percentile path): keep events whose
    value is >= their event_type's median, summarized per group.  The
    approx=True twin is the 100 TB path (plan shape identical); exact
    percentile here is what DuckDB's quantile_cont replays."""
    from spark_auto_schema.ops import analytics

    ev = read_table(spark, sf_dir, "events")
    kept = analytics.threshold_by_group(ev, "event_type", "value", quantile=0.5)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.min("value"), 2).alias("min_kept"),
        F.round(F.sum("value"), 2).alias("sum_kept"),
    )


_GROUP_QUANTILE_FILTER_SQL = """
WITH thr AS (
  SELECT event_type,
         round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS t
  FROM events GROUP BY 1
)
SELECT e.event_type, count(*) AS n_kept,
       round(min(e.value), 2) AS min_kept,
       round(sum(e.value), 2) AS sum_kept
FROM events e JOIN thr USING (event_type)
WHERE round(CAST(e.value AS DOUBLE), 4) >= thr.t
GROUP BY 1
"""


def _q_hll_sharded_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy contract for the mergeable-sketch rollup: per-shard AND
    union HLL estimates must land within 5% (or +-1) of exact distinct
    counts, and the union estimate must dominate every per-shard estimate.
    Proves the hll_sketch_agg -> hll_union_agg path — the only way
    distinct counts can be rolled up WITHOUT re-scanning history at
    100 TB — is wired correctly end-to-end."""
    from spark_auto_schema.ops import analytics

    ev = read_table(spark, sf_dir, "events")
    est = analytics.sharded_distinct_counts(ev, "event_type", "user_id")
    exact = (
        ev.groupBy(F.col("event_type").cast("string").alias("shard"))
        .agg(F.countDistinct("user_id").alias("exact"))
        .unionByName(
            ev.agg(F.countDistinct("user_id").alias("exact")).select(
                F.lit("__all__").alias("shard"), "exact"
            )
        )
    )
    tol = F.greatest(F.lit(1.0), F.col("exact") * F.lit(0.05))
    # eqNullSafe: a NULL shard (NULL event_type) groups on both sides and
    # must still pair up — a plain equi-join would drop it while the
    # oracle's SELECT DISTINCT emits it, failing the gate on row count
    return est.join(
        exact.withColumnRenamed("shard", "__xs"),
        est["shard"].eqNullSafe(F.col("__xs")),
    ).select(
        "shard",
        (F.abs(F.col("n_unique") - F.col("exact")) <= tol).alias("within_tol"),
    )


_HLL_SHARDED_UNIQUES_SQL = """
SELECT DISTINCT event_type AS shard, TRUE AS within_tol FROM events
UNION ALL SELECT '__all__', TRUE
"""


def _q_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path read-back for ``io.write_zordered``: lineitem written
    Z-order-clustered on (l_orderkey, l_partkey), read back, aggregated —
    must equal the same aggregate over the SOURCE parquet (layout must not
    drop/duplicate/mutate rows).  The two-column file-skipping property is
    proven separately in tests/test_curation.py.  Aggregate collected
    before cleanup (the bucketed_roundtrip pattern)."""
    import shutil
    import tempfile

    from spark_auto_schema.io import write_zordered

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity"
    )
    d = tempfile.mkdtemp(prefix="zorder_rt_")
    try:
        write_zordered(li, d, "l_orderkey", "l_partkey", num_files=8)
        rows = (
            spark.read.parquet(d)
            .groupBy("l_returnflag")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.sum("l_partkey").alias("sum_partkey"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [
            (r["l_returnflag"], float(r["sum_qty"]), int(r["sum_partkey"]), r["n"])
            for r in rows
        ],
        "l_returnflag string, sum_qty double, sum_partkey long, n long",
    )


_ZORDER_ROUNDTRIP_SQL = """
SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
       CAST(sum(l_partkey) AS BIGINT) AS sum_partkey, count(*) AS n
FROM lineitem GROUP BY 1
"""


def _q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join (both sides unbounded, watermark-bounded
    state): every purchase attributed to the same user's clicks within the
    30 minutes before it, drained availableNow and aggregated per user.
    Must equal the batch interval join the oracle computes.  The one
    streaming shape stream-static enrichment cannot express; state
    eviction mechanics in streaming.attribution_join_stream."""
    from spark_auto_schema.streaming import (
        attribution_join_stream,
        read_event_stream,
        run_to_memory,
    )

    name = f"__attr_{next(_STREAM_SEQ)}"
    d = _events_stream_dir(sf_dir)
    clicks = read_event_stream(spark, d).where(F.col("event_type") == "click")
    purchases = read_event_stream(spark, d).where(
        F.col("event_type") == "purchase"
    )
    run_to_memory(
        attribution_join_stream(clicks, purchases, gap="30 minutes"),
        name,
        state_partitions=8,
    )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.round(F.sum("purchase_value"), 2).alias("attributed_value"),
        )
    )


_STREAMING_ATTRIBUTION_SQL = """
SELECT c.user_id, count(*) AS n_attributed,
       round(sum(p.value), 2) AS attributed_value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY 1
"""


def _q_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style targeted delete: drop every order of a deterministic 2%
    customer tombstone set (hash-sampled, so both engines derive the same
    set), then summarize the retained orders.  The engine path is a
    broadcast anti-join — the corpus is scanned once and never shuffled
    for the delete (plan-asserted in tests/test_curation.py)."""
    from spark_auto_schema.ops import relational

    orders = read_table(spark, sf_dir, "orders")
    tombs = sampling.hash_sample(
        read_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey")
        ),
        "o_custkey",
        0.02,
    )
    kept = relational.apply_tombstones(orders, tombs, ["o_custkey"])
    return kept.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def _tombstone_delete_oracle_sql() -> str:
    t = sampling.fraction_threshold(0.02)
    return f"""
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
WHERE o_custkey NOT IN (
  SELECT c_custkey FROM customer
  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4) < '{t}'
)
GROUP BY 1
"""


def _q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance-op read-back: fragment lineitem into 40 small files,
    compact to the byte-sized target, read back, aggregate — must equal
    the same aggregate over the source (compaction must not drop,
    duplicate, or mutate rows; the file-count contract is pytest-asserted
    in tests/test_curation.py)."""
    import shutil
    import tempfile

    from spark_auto_schema.io import compact_parquet

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    d = tempfile.mkdtemp(prefix="compact_rt_")
    try:
        li.repartition(40).write.parquet(f"{d}/frag")
        compact_parquet(spark, f"{d}/frag", f"{d}/out", 8 * 1024 * 1024)
        rows = (
            spark.read.parquet(f"{d}/out")
            .groupBy("l_returnflag")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [(r["l_returnflag"], float(r["sum_qty"]), r["n"]) for r in rows],
        "l_returnflag string, sum_qty double, n long",
    )


_COMPACT_ROUNDTRIP_SQL = """
SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
FROM lineitem GROUP BY 1
"""


def _q_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit binary quantization + Hamming top-k (the 32x-compressed
    ANN path): FULLY oracle-checked — the DuckDB twin replays the whole
    pipeline (per-dim mean threshold, 32-bit word packing, XOR+popcount
    distance, tie-broken top-k) value for value."""
    from spark_auto_schema.ops import similarity

    return similarity.hamming_topk(
        read_table(spark, sf_dir, "embeddings"), query_id=0, k=10
    )


_BINARY_HAMMING_SQL = """
WITH ex AS (
  SELECT vec_id, pos - 1 AS pos, CAST(v AS DOUBLE) AS v
  FROM (SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos FROM embeddings)
), mu AS (SELECT pos, avg(v) AS mu FROM ex GROUP BY 1),
words AS (
  SELECT vec_id, CAST(pos // 32 AS INT) AS w,
         SUM(CASE WHEN round(v, 6) >= round(mu, 6)
             THEN (1::BIGINT << CAST(pos % 32 AS INT)) ELSE 0 END) AS word
  FROM ex JOIN mu USING (pos) GROUP BY 1, 2
), sigs AS (
  SELECT vec_id, list(word ORDER BY w) AS sig FROM words GROUP BY 1
), q AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0)
SELECT s.vec_id,
       CAST(list_sum(list_transform(range(1, len(s.sig) + 1),
            i -> bit_count(xor(s.sig[i], q.qsig[i])))) AS BIGINT) AS hamming
FROM sigs s, q
WHERE s.vec_id <> 0
ORDER BY hamming, s.vec_id
LIMIT 10
"""


def _q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship COMPOSITION contract: a miniature LLM training-data
    pipeline run end-to-end through the engine's own operators —
    language-ID -> per-language median quality gate -> exact dedup (keep
    min id per content hash) -> deterministic train/eval split ->
    per-(lang, split) summary — with the DuckDB oracle replaying every
    stage.  Each stage is oracle-checked in isolation elsewhere; this
    query proves the STAGES COMPOSE: column contracts line up, filters
    commute the way the pipeline assumes, and no stage's rounding or tie
    convention silently breaks the next.  All stages are the
    oracle-replayable variants (stopword lang-ID, md5 dedup/split), so
    the whole chain is value-checked, not just row-counted."""
    from spark_auto_schema.ops import analytics

    docs = _spread_docs(spark, sf_dir)
    lang = text.language_id(docs).select("doc_id", "lang_pred")
    qual = text.quality_score(docs)
    d = docs.join(lang, "doc_id").join(qual, "doc_id")
    gated = analytics.threshold_by_group(d, "lang_pred", "quality", quantile=0.5)
    keep = dedup.hash_dedup(gated).select(F.col("keep_id").alias("doc_id"))
    surv = gated.join(keep, "doc_id")
    train, ev = sampling.split_train_eval(surv, "doc_id", 0.1)
    tagged = train.withColumn("split", F.lit("train")).unionByName(
        ev.withColumn("split", F.lit("eval"))
    )
    return tagged.groupBy("lang_pred", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("quality"), 2).alias("sum_quality"),
    )


def _pipeline_end_to_end_oracle_sql() -> str:
    t10 = sampling.fraction_threshold(0.1)
    lang_sql = _lang_id_oracle_sql()
    qual_sql = _quality_oracle_sql()
    return f"""
WITH lang AS ({lang_sql}),
q AS ({qual_sql}),
d AS (
  SELECT doc.doc_id, doc.text, lang.lang_pred, q.quality
  FROM documents doc JOIN lang USING (doc_id) JOIN q USING (doc_id)
),
thr AS (
  SELECT lang_pred, round(quantile_cont(quality, 0.5), 4) AS t
  FROM d GROUP BY 1
),
gated AS (
  SELECT d.* FROM d JOIN thr USING (lang_pred)
  WHERE round(quality, 4) >= thr.t
),
keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(coalesce(text, ''))),
final AS (
  SELECT g.lang_pred, g.quality,
         CASE WHEN substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 4) < '{t10}'
              THEN 'eval' ELSE 'train' END AS split
  FROM gated g JOIN keep USING (doc_id)
)
SELECT lang_pred, split, count(*) AS n_docs,
       round(sum(quality), 2) AS sum_quality
FROM final GROUP BY 1, 2
"""


def _q_winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization of event values at [p05, p95],
    summarized: the clipped mean/min/max per key must equal DuckDB
    replaying the same exact-percentile band and row-local clip."""
    from spark_auto_schema.ops import analytics

    ev = read_table(spark, sf_dir, "events")
    w = analytics.winsorize(ev, "event_type", "value", 0.05, 0.95)
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value_winsorized"), 4).alias("avg_w"),
        F.round(F.min("value_winsorized"), 4).alias("min_w"),
        F.round(F.max("value_winsorized"), 4).alias("max_w"),
    )


_WINSORIZE_EVENTS_SQL = """
WITH bands AS (
  SELECT event_type,
         round(quantile_cont(CAST(value AS DOUBLE), 0.05), 4) AS lo,
         round(quantile_cont(CAST(value AS DOUBLE), 0.95), 4) AS hi
  FROM events GROUP BY 1
), w AS (
  SELECT e.event_type,
         round(least(greatest(CAST(e.value AS DOUBLE), b.lo), b.hi), 4) AS vw
  FROM events e JOIN bands b USING (event_type)
)
SELECT event_type, count(*) AS n, round(avg(vw), 4) AS avg_w,
       round(min(vw), 4) AS min_w, round(max(vw), 4) AS max_w
FROM w GROUP BY 1
"""


def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SESSION windows in streaming mode (the variable-length
    stateful window tumbling counts cannot express): per-user sessions
    with a 30-minute gap, drained with availableNow in complete mode.
    The oracle rebuilds the same sessions with the lag-islands pattern
    using the ``diff > gap -> new session`` boundary rule: session_window
    merges on a CLOSED interval (an event exactly ``gap`` after the last
    one still extends the session — verified empirically in
    tests/test_streaming.py::test_session_window_gap_boundary_semantics,
    because the sf data's microsecond timestamps never land on the exact
    boundary and would not catch a wrong rule here)."""
    from spark_auto_schema.streaming import (
        read_event_stream,
        run_to_memory,
        session_window_stats,
    )

    name = f"__sessions_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _events_stream_dir(sf_dir))
    run_to_memory(
        session_window_stats(stream, gap="30 minutes"),
        name,
        output_mode="complete",
        state_partitions=8,
    )
    return spark.table(name)


_STREAMING_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events
), l AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e
), n AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM l
), s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM n
)
SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid
"""


def _q_domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap at 100 docs per language: 'en' (218 docs at
    sf0.01) exercises the windowed over-cap branch, the other four langs
    the sort-free broadcast-anti pass-through (ops/corpus.domain_cap).
    Survivors are content-addressed (md5 of doc_id), so the kept SET is
    engine- and partitioning-stable."""
    d = read_table(spark, sf_dir, "documents")
    return corpus.domain_cap(d, "lang", cap=100, id_col="doc_id").select(
        "doc_id", "lang"
    )


_DOMAIN_CAP_SQL = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents) t
WHERE rk <= 100
"""


def _q_burst_collapse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch debounce: per-user event bursts at a 6-hour gap collapsed to
    (start, end, n_events) rows (ops/analytics.collapse_bursts).  The gap
    comparison runs on full-precision double epochs, the identical IEEE
    arithmetic DuckDB's epoch() performs, so the >= boundary cannot drift
    between engines on these microsecond-grained timestamps."""
    from spark_auto_schema.ops import analytics

    ev = read_table(spark, sf_dir, "events")
    b = analytics.collapse_bursts(
        ev, "user_id", "ts", gap_seconds=21600, id_col="event_id"
    )
    return b.select("user_id", "burst_start", "burst_end", "n_events")


_BURST_COLLAPSE_SQL = """
WITH l AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 21600.0
              THEN 1 ELSE 0 END AS is_break
  FROM l
), s AS (
  SELECT user_id, ts,
         sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst
  FROM f
)
SELECT user_id, min(ts) AS burst_start, max(ts) AS burst_end,
       count(*) AS n_events
FROM s GROUP BY user_id, burst
"""


def _q_scd2_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history apply on an orders-derived dimension
    (ops/relational.scd2_apply): every 11th key starts closed (history
    passthrough + new-key insert path), every 7th key gets an update —
    half of those (key % 14 == 0) carry an unchanged status to prove
    no-op idempotency, the rest flip to 'X' (close + append path)."""
    o = read_table(spark, sf_dir, "orders")
    dim = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_orderdate")).alias(
            "valid_to"
        ),
    )
    upd = o.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 14 == 0, F.col("o_orderstatus"))
        .otherwise(F.lit("X"))
        .alias("status"),
        F.to_timestamp(F.lit("1999-01-01")).alias("effective_ts"),
    )
    return relational.scd2_apply(dim, upd, "k", ["status"])


_SCD2_SQL = """
WITH dim AS (
  SELECT o_orderkey AS k, o_orderstatus AS status, o_orderdate AS valid_from,
         CASE WHEN o_orderkey % 11 = 0 THEN o_orderdate END AS valid_to
  FROM orders
), upd AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 14 = 0 THEN o_orderstatus ELSE 'X' END AS status,
         TIMESTAMP '1999-01-01' AS eff
  FROM orders WHERE o_orderkey % 7 = 0
), hist AS (
  SELECT k, status, valid_from, valid_to FROM dim WHERE valid_to IS NOT NULL
), cur AS (
  SELECT * FROM dim WHERE valid_to IS NULL
), j AS (
  SELECT cur.k AS ck, cur.status AS ca, cur.valid_from AS cf,
         upd.k AS uk, upd.status AS ua, upd.eff AS ue
  FROM cur FULL OUTER JOIN upd ON cur.k = upd.k
)
SELECT k, status, valid_from, valid_to FROM hist
UNION ALL
SELECT ck, ca, cf,
       CASE WHEN uk IS NOT NULL AND ca IS DISTINCT FROM ua THEN ue END
FROM j WHERE ck IS NOT NULL
UNION ALL
SELECT uk, ua, ue, CAST(NULL AS TIMESTAMP)
FROM j WHERE uk IS NOT NULL AND (ck IS NULL OR ca IS DISTINCT FROM ua)
"""


def _q_zone_map_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map collection over a freshly partitioned write (io.zone_map):
    events written partitioned by event_type, per-FILE min/max/null stats
    collected from the read-back scan, then rolled up per partition key
    (extracted from the file path) so the result is layout-independent —
    the oracle is the plain per-type aggregate over the source.  The
    per-file level itself is pinned in tests/test_curation2.py."""
    import shutil
    import tempfile

    from spark_auto_schema.io import write_partitioned, zone_map

    ev = read_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    d = tempfile.mkdtemp(prefix="zone_map_")
    try:
        write_partitioned(ev, d, ["event_type"])
        back = spark.read.parquet(d)
        zm = zone_map(back, ["value"])
        rows = (
            zm.withColumn(
                "event_type",
                F.regexp_extract(F.col("file"), r"event_type=([^/]+)/", 1),
            )
            .groupBy("event_type")
            .agg(
                F.sum("n_rows").alias("n"),
                F.round(F.min("value_min"), 4).alias("min_value"),
                F.round(F.max("value_max"), 4).alias("max_value"),
                F.sum("value_nulls").alias("n_nulls"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_type string, n bigint, min_value double, "
        "max_value double, n_nulls bigint"
    )


_ZONE_MAP_SQL = """
SELECT event_type, count(*) AS n,
       round(min(CAST(value AS DOUBLE)), 4) AS min_value,
       round(max(CAST(value AS DOUBLE)), 4) AS max_value,
       count(*) FILTER (WHERE value IS NULL) AS n_nulls
FROM events GROUP BY 1
"""


def _q_fuzzy_match_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity resolution over customer names
    (ops/dedup.blocked_fuzzy_pairs): blocking key = all but the last name
    character (bounds blocks at ~10 rows), match = Levenshtein <= 1.
    The oracle replays the identical equi-join + edit-distance filter —
    both engines implement classic unit-cost Levenshtein, so dist values
    compare exactly."""
    c = read_table(spark, sf_dir, "customer")
    pairs = dedup.blocked_fuzzy_pairs(
        c,
        id_col="c_custkey",
        text_col="c_name",
        block=F.expr("substring(c_name, 1, length(c_name) - 1)"),
        max_distance=1,
    )
    return pairs.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("id_a").alias("min_id_a"),
        F.max("id_b").alias("max_id_b"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("id_checksum"),
    )


_FUZZY_MATCH_SQL = """
WITH s AS (
  SELECT c_custkey AS id, c_name AS t,
         substring(c_name, 1, length(c_name) - 1) AS blk
  FROM customer WHERE c_name IS NOT NULL
), p AS (
  SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.t, b.t) AS dist
  FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
)
SELECT dist, count(*) AS n_pairs, min(id_a) AS min_id_a,
       max(id_b) AS max_id_b,
       CAST(sum(id_a + id_b) AS BIGINT) AS id_checksum
FROM p WHERE dist <= 1 GROUP BY dist
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: 16 hash-sampled coarse clusters,
    drop within-cluster cosine >= 0.3 near-dups (keep the lowest id).  The
    oracle replays the full pipeline — centroid sample, row-local cosine
    argmax assignment with cid tie-break, cluster-local pair join, and the
    drop anti-set (`ops/similarity.py` semantic_dedup)."""
    return similarity.semantic_dedup(
        read_table(spark, sf_dir, "embeddings"), threshold=0.3, nlist=16
    )


def _semantic_dedup_sql(nlist: int, threshold: float) -> str:
    """DuckDB replay of ``similarity.semantic_dedup`` parameterized by the
    two knobs the scale rule turns: centroid count and cosine cut.
    ``_SEMANTIC_DEDUP_SQL`` below is this builder at the registry's pinned
    (16, 0.3); ``semantic_dedup_scaled`` interpolates the
    ``suggest_nlist`` composition's expected value instead."""
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         embedding AS cvec
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {nlist}
), scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS csim
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, embedding, cid AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM scored) WHERE rk = 1
), drops AS (
  SELECT DISTINCT b.vec_id FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) >= {threshold}
)
SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""


_SEMANTIC_DEDUP_SQL = _semantic_dedup_sql(16, 0.3)


def _q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate (PSI) between two event snapshots: baseline =
    even event_ids, current = odd event_ids with values scaled 1.25x (a
    planted location/scale shift).  The oracle replays baseline-owned bin
    edges, edge-bin clamping, the epsilon floor on empty bins, and the
    decimal-snapped log-ratio term (`ops/analytics.py` psi_drift)."""
    from spark_auto_schema.ops import analytics

    ev = read_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 2 == 0).select("value")
    curr = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.25).alias("value")
    )
    return analytics.psi_drift(base, curr, "value", nbins=10)


_PSI_DRIFT_SQL = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE event_id % 2 = 0 AND value IS NOT NULL
), curr AS (
  SELECT CAST(value AS DOUBLE) * 1.25 AS v FROM events
  WHERE event_id % 2 = 1 AND value * 1.25 IS NOT NULL
), st AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
bb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS base_n
  FROM base, st GROUP BY 1
), cb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS curr_n
  FROM curr, st GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
counts AS (
  SELECT s.bin, coalesce(base_n, 0) AS base_n, coalesce(curr_n, 0) AS curr_n
  FROM spine s LEFT JOIN bb ON s.bin = bb.bin LEFT JOIN cb ON s.bin = cb.bin
), t AS (SELECT sum(base_n) AS bt, sum(curr_n) AS ct FROM counts)
SELECT bin, base_n, curr_n,
  CAST(round(CAST(greatest(base_n / bt, 1e-6) AS DECIMAL(18,12)), 6) AS DOUBLE) AS base_p,
  CAST(round(CAST(greatest(curr_n / ct, 1e-6) AS DECIMAL(18,12)), 6) AS DOUBLE) AS curr_p,
  CAST(round(CAST((greatest(base_n / bt, 1e-6) - greatest(curr_n / ct, 1e-6))
       * ln(greatest(base_n / bt, 1e-6) / greatest(curr_n / ct, 1e-6)) AS DECIMAL(18,12)), 6) AS DOUBLE) AS psi_term
FROM counts, t
"""


_QUARANTINE_DIRS: dict[str, str] = {}


def _quarantine_csv_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders as `|`-CSV with every o_orderkey % 97 == 0 row's
    total replaced by an unparseable token — the deterministic bad-line set
    the quarantine read must route (built once per sf_dir)."""
    if sf_dir not in _QUARANTINE_DIRS:
        import tempfile

        d = tempfile.mkdtemp(prefix="quarantine_csv_")
        (
            read_table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                "o_custkey",
                F.when(F.col("o_orderkey") % 97 == 0, F.lit("corrupt!"))
                .otherwise(F.col("o_totalprice").cast("string"))
                .alias("o_totalprice"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .option("sep", "|")
            .csv(d)
        )
        _QUARANTINE_DIRS[sf_dir] = d
    return _QUARANTINE_DIRS[sf_dir]


def _q_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record routing on ingest (`io.read_csv_quarantine`): a PERMISSIVE
    typed CSV read splits clean rows from quarantined ones (raw line kept).
    The oracle derives both partitions from the parquet truth — corrupt
    rows are exactly the planted o_orderkey % 97 == 0 set, and the good-side
    aggregate must survive the CSV round-trip bit-for-bit at 2 decimals."""
    from spark_auto_schema.io import read_csv_quarantine

    good, bad = read_csv_quarantine(
        spark,
        _quarantine_csv_path(spark, sf_dir),
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    return good.agg(
        F.lit("good").alias("status"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    ).unionAll(
        bad.agg(
            F.lit("quarantined").alias("status"),
            F.count(F.lit(1)).alias("n"),
            F.lit(None).cast("double").alias("sum_total"),
        )
    )


_CSV_QUARANTINE_SQL = """
SELECT 'good' AS status, count(*) AS n, round(sum(o_totalprice), 2) AS sum_total
FROM orders WHERE o_orderkey % 97 != 0
UNION ALL
SELECT 'quarantined', count(*), NULL FROM orders WHERE o_orderkey % 97 = 0
"""


def _q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup (`ops/relational.py` scd2_lookup): a state
    history derived from every 10th event (lead-window validity intervals
    per user) is joined back onto the remaining events AS OF each fact's
    timestamp; facts before a user's first state keep NULL.  The oracle
    replays the interval build and the as-of join condition exactly."""
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    dim = (
        ev.where(F.col("event_id") % 10 == 0)
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.col("event_type").alias("state"),
            F.col("event_id").alias("__eid"),
        )
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                Window.partitionBy("user_id").orderBy("valid_from", "__eid")
            ),
        )
        .drop("__eid")
    )
    facts = ev.where(F.col("event_id") % 10 != 0).select(
        "event_id", "user_id", "ts"
    )
    from spark_auto_schema.ops import relational

    out = relational.scd2_lookup(facts, dim, "user_id", "ts", ["state"])
    return out.groupBy("state").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_checksum")
    )


_SCD2_LOOKUP_SQL = """
WITH st AS (
  SELECT user_id, ts AS vf, event_type AS state,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
  FROM events WHERE event_id % 10 = 0
), f AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 10 != 0)
SELECT s.state, count(*) AS n,
       CAST(sum(f.event_id) AS BIGINT) AS id_checksum
FROM f LEFT JOIN st s
  ON f.user_id = s.user_id AND f.ts >= s.vf AND (s.vt IS NULL OR f.ts < s.vt)
GROUP BY s.state
"""


def _q_key_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven PK/DISTKEY discovery on orders (`ops/corpus.py`
    suggest_keys): uniqueness + cardinality per column, strict PK flag,
    and the distribution-quality rank whose top row is the recommended
    DISTKEY.  The oracle recomputes every column's stats and the identical
    rank ordering in SQL."""
    from spark_auto_schema.ops import corpus

    return corpus.suggest_keys(read_table(spark, sf_dir, "orders"))


_KEY_SUGGESTIONS_SQL = """
WITH prof AS (
  SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
         count(*) - count(o_orderkey) AS n_nulls,
         count(DISTINCT o_orderkey) AS n_distinct FROM orders
  UNION ALL SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
         count(DISTINCT o_custkey) FROM orders
  UNION ALL SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus) FROM orders
  UNION ALL SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
         count(DISTINCT o_totalprice) FROM orders
  UNION ALL SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
         count(DISTINCT o_orderdate) FROM orders
  UNION ALL SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
         count(DISTINCT o_orderpriority) FROM orders
)
SELECT "column", n_rows, n_nulls, n_distinct,
       round(n_distinct / (n_rows - n_nulls), 6) AS uniqueness,
       (n_nulls = 0 AND n_distinct = n_rows) AS is_unique,
       CAST(row_number() OVER (
         ORDER BY CAST(n_nulls > 0 AS INT), n_distinct DESC, "column"
       ) AS INT) AS distkey_rank
FROM prof
"""


def _q_fk_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK containment sweep (`ops/corpus.py` fk_candidates) over three
    relationships: two true foreign keys (orders->customer,
    lineitem->orders) and one non-FK control (events.user_id->customer).
    Each reduces to distinct-set sizes + one anti-join count; the oracle
    recomputes all five statistics per pair."""
    from spark_auto_schema.ops import corpus

    def one(rel, child, ccol, parent, pcol):
        return corpus.fk_candidates(
            read_table(spark, sf_dir, child),
            ccol,
            read_table(spark, sf_dir, parent),
            pcol,
        ).select(F.lit(rel).alias("rel"), "*")

    return (
        one("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey")
        .unionAll(
            one(
                "lineitem.l_orderkey->orders",
                "lineitem",
                "l_orderkey",
                "orders",
                "o_orderkey",
            )
        )
        .unionAll(
            one("events.user_id->customer", "events", "user_id", "customer", "c_custkey")
        )
    )


_FK_PROFILE_SQL = """
SELECT 'orders.o_custkey->customer' AS rel,
       count(*) AS n_child_rows,
       count(*) - count(o_custkey) AS n_child_nulls,
       count(DISTINCT o_custkey) AS n_child_distinct,
       (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.v)) AS n_orphan_values,
       round(1.0 - (SELECT count(*) FROM (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.v)) / count(DISTINCT o_custkey), 6) AS containment
FROM orders
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       count(*), count(*) - count(l_orderkey), count(DISTINCT l_orderkey),
       (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem WHERE l_orderkey IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.v)),
       round(1.0 - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey AS v FROM lineitem WHERE l_orderkey IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.v)) / count(DISTINCT l_orderkey), 6)
FROM lineitem
UNION ALL
SELECT 'events.user_id->customer',
       count(*), count(*) - count(user_id), count(DISTINCT user_id),
       (SELECT count(*) FROM (SELECT DISTINCT user_id AS v FROM events WHERE user_id IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.v)),
       round(1.0 - (SELECT count(*) FROM (SELECT DISTINCT user_id AS v FROM events WHERE user_id IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.v)) / count(DISTINCT user_id), 6)
FROM events
"""


def _q_streaming_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-drift monitor (`streaming.DataDriftMonitor`): the
    events stream is PSI-scored per microbatch against a frozen baseline
    (even event_ids' values).  The single-file drop-dir drains in one
    batch, so the result is that batch's full psi_drift bin table —
    the oracle replays baseline-vs-all-events PSI in SQL."""
    from spark_auto_schema.streaming import DataDriftMonitor, read_event_stream

    ev = read_table(spark, sf_dir, "events")
    baseline = ev.where(F.col("event_id") % 2 == 0).select("value")
    fired: list[tuple[int, float]] = []
    monitor = DataDriftMonitor(
        baseline, "value", nbins=10, threshold=0.25,
        on_drift=lambda bid, psi: fired.append((bid, psi)),
    )
    q = monitor.attach(
        read_event_stream(spark, _events_stream_dir(sf_dir)).select("value")
    )
    q.awaitTermination()
    rows = [r for _, _, batch_rows in monitor.history for r in batch_rows]
    out = spark.createDataFrame(
        rows,
        "bin int, base_n bigint, curr_n bigint, base_p double, "
        "curr_p double, psi_term double",
    )
    return out


_STREAMING_PSI_SQL = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE event_id % 2 = 0 AND value IS NOT NULL
), curr AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), st AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
bb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS base_n
  FROM base, st GROUP BY 1
), cb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS curr_n
  FROM curr, st GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
counts AS (
  SELECT s.bin, coalesce(base_n, 0) AS base_n, coalesce(curr_n, 0) AS curr_n
  FROM spine s LEFT JOIN bb ON s.bin = bb.bin LEFT JOIN cb ON s.bin = cb.bin
), t AS (SELECT sum(base_n) AS bt, sum(curr_n) AS ct FROM counts)
SELECT bin, base_n, curr_n,
  CAST(round(CAST(greatest(base_n / bt, 1e-6) AS DECIMAL(18,12)), 6) AS DOUBLE) AS base_p,
  CAST(round(CAST(greatest(curr_n / ct, 1e-6) AS DECIMAL(18,12)), 6) AS DOUBLE) AS curr_p,
  CAST(round(CAST((greatest(base_n / bt, 1e-6) - greatest(curr_n / ct, 1e-6))
       * ln(greatest(base_n / bt, 1e-6) / greatest(curr_n / ct, 1e-6)) AS DECIMAL(18,12)), 6) AS DOUBLE) AS psi_term
FROM counts, t
"""


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier summary per event type — the
    breakdown-resistant complement of `q:zscore_outliers`
    (`ops/analytics.py` mad_outliers).  The oracle replays both medians
    (quantile_cont = Spark's exact interpolating percentile), the 0.6745
    modified-z rule, and the MAD-0 -> NULL-z convention via nullif."""
    from spark_auto_schema.ops import analytics

    return analytics.mad_outliers(
        read_table(spark, sf_dir, "events"), "event_type", "value", threshold=2.0
    )


_MAD_OUTLIERS_SQL = """
WITH med AS (
  SELECT event_type AS k, round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS med
  FROM events GROUP BY 1
), mad AS (
  SELECT e.event_type AS k,
         round(quantile_cont(abs(CAST(e.value AS DOUBLE) - m.med), 0.5), 4) AS mad
  FROM events e JOIN med m ON e.event_type = m.k GROUP BY 1
)
SELECT e.event_type, count(*) AS n,
       CAST(coalesce(sum(CASE WHEN round(0.6745 * abs(CAST(e.value AS DOUBLE) - m.med)
                                    / nullif(d.mad, 0), 4) > 2.0
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers,
       min(m.med) AS median_value, min(d.mad) AS mad_value
FROM events e JOIN med m ON e.event_type = m.k JOIN mad d ON e.event_type = d.k
GROUP BY 1
"""


def _q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-binned) histogram of event values — the
    skew-robust complement of `q:value_histogram` (`ops/analytics.py`
    equidepth_histogram).  No global sort: one exact percentile aggregate
    yields the 7 interior edges, binning is a row-local edge count.  The
    oracle replays quantile_cont edges, the inclusive-upper tie rule, and
    the min/edge/max bounds."""
    from spark_auto_schema.ops import analytics

    return analytics.equidepth_histogram(
        read_table(spark, sf_dir, "events"), "value", nbins=8
    )


_EQUIDEPTH_SQL = """
WITH st AS (
  SELECT list_transform(quantile_cont(CAST(value AS DOUBLE),
                        [0.125,0.25,0.375,0.5,0.625,0.75,0.875]),
                        e -> round(e, 4)) AS edges,
         round(min(CAST(value AS DOUBLE)), 4) AS mn,
         round(max(CAST(value AS DOUBLE)), 4) AS mx
  FROM events WHERE value IS NOT NULL
), b AS (
  SELECT len(list_filter(st.edges, e -> CAST(value AS DOUBLE) > e)) AS bin,
         st.edges, st.mn, st.mx
  FROM events, st WHERE value IS NOT NULL
)
SELECT bin,
       min(CASE WHEN bin = 0 THEN mn ELSE edges[bin] END) AS lo,
       min(CASE WHEN bin = 7 THEN mx ELSE edges[bin + 1] END) AS hi,
       count(*) AS n
FROM b GROUP BY bin
"""


def _q_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus semantic dedup (`ops/similarity.py`
    incremental_semantic_dedup): batch vectors (vec_id % 5 == 0) with no
    cosine >= 0.3 neighbor in the corpus's shared cluster — admission
    control for a curated corpus.  Centroids come from the CORPUS (the
    stable side); the oracle replays both assignments and the
    batch x corpus cluster-local dup set."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.incremental_semantic_dedup(
        emb.where(F.col("vec_id") % 5 == 0),
        emb.where(F.col("vec_id") % 5 != 0),
        threshold=0.3,
        nlist=16,
    )


_INCR_SEMANTIC_SQL = """
WITH corpus AS (SELECT * FROM embeddings WHERE vec_id % 5 != 0),
batch AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         embedding AS cvec
  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), bscored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS csim
  FROM batch e, cents c
), bassign AS (
  SELECT vec_id, embedding, cid AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM bscored) WHERE rk = 1
), cscored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS csim
  FROM corpus e, cents c
), cassign AS (
  SELECT vec_id, embedding, cid AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM cscored) WHERE rk = 1
), dups AS (
  SELECT DISTINCT b.vec_id FROM bassign b JOIN cassign c ON b.cluster = c.cluster
  WHERE round(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))), 4) >= 0.3
)
SELECT b.vec_id, b.cluster FROM bassign b
WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.vec_id = b.vec_id)
"""


def _q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping (`ops/dedup.py` remove_boilerplate):
    segments appearing in >= 2 distinct documents are deleted from EVERY
    document — contrast `q:segment_dedup_docs`, which keeps the first
    occurrence.  The oracle replays segmentation, the distinct-doc
    frequency gate, and the ordered reassembly."""
    return dedup.remove_boilerplate(
        read_table(spark, sf_dir, "documents"), min_df=2
    )


_REMOVE_BOILERPLATE_SQL = f"""
WITH segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(w[(i * 8 + 1):(i * 8 + 8)], ' ') AS seg
  FROM (SELECT doc_id, {_words_sql()} AS w FROM documents),
       UNNEST(generate_series(0, greatest(CAST(ceil(len(w) / 8.0) AS INT) - 1, 0)))
         AS t(i)
), boiler AS (
  SELECT md5(seg) AS d FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT doc_id, seg_idx, seg,
         NOT EXISTS (SELECT 1 FROM boiler b WHERE b.d = md5(seg)) AS keep
  FROM segs
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '')
         AS clean_text
FROM marked GROUP BY doc_id
"""


def _q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment
    (`ops/sampling.py` kfold_assign): fold = md5-uniform(doc_id) mod 5, a
    pure function of the content key — the oracle replays the identical
    8-hex-digit draw, so every row's fold must match exactly."""
    return sampling.kfold_assign(
        read_table(spark, sf_dir, "documents"), "doc_id", k=5
    ).select("doc_id", "fold")


_KFOLD_SPLIT_SQL = """
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 5 AS INT) AS fold
FROM documents
"""


def _q_time_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/eval split with a 3-day embargo gap before the
    cutoff (`ops/sampling.py` time_embargo_split): the purge that stops
    autocorrelated signals leaking across the boundary.  Per-row
    assignment so the oracle verifies every boundary comparison."""
    return sampling.time_embargo_split(
        read_table(spark, sf_dir, "events"),
        "ts",
        cutoff="2024-01-20 00:00:00",
        embargo="3 days",
    ).select("event_id", "split")


_TIME_EMBARGO_SQL = """
SELECT event_id,
       CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 3 DAY THEN 'train'
            WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 'eval'
            ELSE 'embargo' END AS split
FROM events
"""


def _q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov drift (`ops/analytics.py`
    ks_drift) over the same planted shift as `q:psi_drift_events`
    (baseline = even event_ids, current = odd with values scaled 1.25x):
    the CDF-distance complement of PSI.  The oracle replays the
    baseline-owned bin edges, the edge-bin clamp, and the decimal-snapped
    cumulative fractions; KS statistic = max(ks_term)."""
    from spark_auto_schema.ops import analytics

    ev = read_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 2 == 0).select("value")
    curr = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.25).alias("value")
    )
    return analytics.ks_drift(base, curr, "value", nbins=10)


_KS_DRIFT_SQL = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE event_id % 2 = 0 AND value IS NOT NULL
), curr AS (
  SELECT CAST(value AS DOUBLE) * 1.25 AS v FROM events
  WHERE event_id % 2 = 1 AND value * 1.25 IS NOT NULL
), st AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
bb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS base_n
  FROM base, st GROUP BY 1
), cb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS curr_n
  FROM curr, st GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
counts AS (
  SELECT s.bin, coalesce(base_n, 0) AS base_n, coalesce(curr_n, 0) AS curr_n
  FROM spine s LEFT JOIN bb ON s.bin = bb.bin LEFT JOIN cb ON s.bin = cb.bin
), t AS (SELECT sum(base_n) AS bt, sum(curr_n) AS ct FROM counts),
cum AS (
  SELECT bin, base_n, curr_n,
         CAST(round(CAST(sum(base_n) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / bt
              AS DECIMAL(18,12)), 6) AS DOUBLE) AS base_cum_p,
         CAST(round(CAST(sum(curr_n) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / ct
              AS DECIMAL(18,12)), 6) AS DOUBLE) AS curr_cum_p
  FROM counts, t
)
SELECT bin, base_n, curr_n, base_cum_p, curr_cum_p,
       round(abs(base_cum_p - curr_cum_p), 6) AS ks_term
FROM cum
"""


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval OVERLAP join (`ops/relational.py` interval_join): per-user
    daily activity intervals [min(ts), max(ts)+1s) matched against the 20
    busiest hourly windows [h, h+1h), then rolled up per window.  The
    Spark side runs the time-bucketed exactly-once plan (explode to
    hour buckets, equi-join, first-shared-bucket emission); the oracle is
    the brute-force inequality join — equality proves the bucketing
    lossless AND the overlap semantics right."""
    from spark_auto_schema.ops import relational

    e = read_table(spark, sf_dir, "events")
    acts = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.min("ts").alias("s"),
        (F.max("ts") + F.expr("INTERVAL 1 second")).alias("t_end"),
    )
    hours = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "h")
        .limit(20)
        .select("h", (F.col("h") + F.expr("INTERVAL 1 hour")).alias("h_end"))
    )
    j = relational.interval_join(
        acts, hours, "s", "t_end", "h", "h_end", bucket_seconds=3600
    )
    return j.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.countDistinct("user_id").alias("n_users"),
    )


_INTERVAL_OVERLAP_SQL = """
WITH acts AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         min(ts) AS s, max(ts) + INTERVAL 1 SECOND AS t_end
  FROM events GROUP BY 1, 2
), hours AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1 ORDER BY n DESC, h LIMIT 20
)
SELECT h, count(*) AS n_active, count(DISTINCT user_id) AS n_users
FROM acts JOIN hours ON s < h + INTERVAL 1 HOUR AND h < t_end
GROUP BY h
"""


def _q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection 64 -> 8 dims
    (`ops/similarity.py` jl_project): the hash-derived +-1 matrix is a
    pure function of (seed, dims), so the oracle reconstructs the SAME
    matrix as a SQL literal (via the shared jl_signs helper) and replays
    the ordered dot-product fold bit-for-bit."""
    return similarity.jl_project(
        read_table(spark, sf_dir, "embeddings"), out_dim=8
    )


def _jl_oracle_sql() -> str:
    signs = similarity.jl_signs(8, 64)
    mat = (
        "["
        + ",".join("[" + ",".join(f"{s:.1f}" for s in row) + "]" for row in signs)
        + "]"
    )
    return f"""
SELECT vec_id AS id, CAST(j AS INT) AS j,
       round(list_dot_product(CAST(embedding AS DOUBLE[]),
                              (CAST({mat} AS DOUBLE[][]))[j+1]) / sqrt(8.0), 4) AS y
FROM embeddings, generate_series(0, 7) t(j)
"""


def _q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length bucketing + padding economics
    (`ops/packing.py` length_buckets): whitespace token counts rounded up
    to the smallest bucket in {16,32,64,128}, per-bucket padding waste.
    The bucket comes from an exact integer array_min/filter — no float
    log2 whose last ulp could flip a boundary between engines."""
    d = read_table(spark, sf_dir, "documents").select(
        F.size(_words(F.col("text"))).alias("ws_tokens")
    )
    return packing.length_buckets(d, "ws_tokens", max_len=128, min_bucket=16)


_LENGTH_BUCKETS_SQL = f"""
WITH t AS (
  SELECT least(len({_words_sql()}), 128) AS t FROM documents
), b AS (
  SELECT list_min(list_filter([16, 32, 64, 128], c -> c >= greatest(t, 1))) AS bucket, t
  FROM t
)
SELECT bucket, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS token_sum,
       CAST(count(*) * bucket AS BIGINT) AS padded_sum,
       round(1.0 - sum(t) * 1.0 / (count(*) * bucket), 4) AS waste_pct
FROM b GROUP BY bucket
"""


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC n-gram containment (`ops/dedup.py` containment_pairs):
    |small n large| / |small| >= 0.5 — catches subset/quote inclusion
    that Jaccard's union denominator dilutes.  Same shingle-equi-join pair
    engine as `q:ngram_jaccard_dups` (hashed keys, hot-shingle cap); the
    oracle recomputes containment over string shingles.  The single
    row-group documents file is spread across cores before the shingle
    explode (spread_small_scan), like the Jaccard sibling."""
    return dedup.containment_pairs(_spread_docs(spark, sf_dir), threshold=0.5)


_CONTAINMENT_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), sc AS (
  SELECT CASE WHEN sa.sz < sb.sz OR (sa.sz = sb.sz AND id_a < id_b)
              THEN id_a ELSE id_b END AS id_small,
         CASE WHEN sa.sz < sb.sz OR (sa.sz = sb.sz AND id_a < id_b)
              THEN id_b ELSE id_a END AS id_large,
         round(c * 1.0 / least(sa.sz, sb.sz), 4) AS containment
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
)
SELECT id_small, id_large, containment FROM sc WHERE containment >= 0.5
"""


def _q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (`ops/text.py` bigram_logprob): add-one
    smoothed conditionals trained on the corpus itself, mean adjacent-pair
    log-probability per document — flags unusual SEQUENCES whose
    individual tokens are common.  The oracle retrains the identical
    model and replays the decimal-snapped average.  The documents scan is
    spread across cores before the pair explode (spread_small_scan)."""
    return text.bigram_logprob(_spread_docs(spark, sf_dir))


_BIGRAM_LOGPROB_SQL = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS w
  FROM documents
), pairs AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM w, UNNEST(generate_series(1, len(w) - 1)) t(i)
), toks AS (SELECT unnest(w) AS w1 FROM w),
uni AS (SELECT w1, count(*) AS c1 FROM toks GROUP BY 1),
v AS (SELECT count(*) AS v FROM uni),
big AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
model AS (
  SELECT b.w1, b.w2, ln((c + 1.0) / (c1 + v)) AS lp
  FROM big b JOIN uni USING (w1), v
)
SELECT doc_id,
       CAST(round(CAST(avg(lp) AS DECIMAL(18,10)), 4) AS DOUBLE) AS avg_bigram_logprob,
       count(*) AS n_pairs
FROM pairs JOIN model USING (w1, w2) GROUP BY doc_id
"""


def _q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent sharded content checksum (`ops/corpus.py`
    table_checksum) over the orders key/status columns: any partitioning,
    ordering, or engine must produce identical (shard, n_rows,
    digest_sum) rows — the cheap reproducibility gate after a migration
    or re-shuffle.  Integer/string columns only, so the canonical string
    forms agree across engines."""
    from spark_auto_schema.ops import corpus

    return corpus.table_checksum(
        read_table(spark, sf_dir, "orders"),
        cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        n_shards=16,
    )


_TABLE_CHECKSUM_SQL = """
WITH d AS (
  SELECT md5(concat_ws(chr(31),
             coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
             coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
             coalesce(o_orderstatus, chr(0)),
             coalesce(o_orderpriority, chr(0)))) AS h
  FROM orders
)
SELECT CAST(CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 16 AS INT) AS shard,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(h, 5, 8)) AS BIGINT) % 1048576)
            AS BIGINT) AS digest_sum
FROM d GROUP BY 1
"""


def _q_rank_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key percent-rank normalization (`ops/analytics.py`
    rank_transform): each event's value mapped to its within-type rank
    fraction — the distribution-free feature scaling.  Standard SQL
    percent_rank tie semantics, replayed exactly by the oracle."""
    from spark_auto_schema.ops import analytics

    e = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return analytics.rank_transform(e, "event_type", "value")


_RANK_TRANSFORM_SQL = """
SELECT event_id, event_type, value,
       round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6)
         AS pct_rank
FROM events
"""


def _q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pairwise Pearson correlations (`ops/analytics.py`
    correlation_matrix) over lineitem's four numeric measures: all 6
    co-moment pairs ride ONE 1-row aggregate, then a literal unpivot."""
    from spark_auto_schema.ops import analytics

    return analytics.correlation_matrix(
        read_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


_CORRELATION_MATRIX_SQL = """
SELECT col_a, col_b, corr FROM (
  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
         round(corr(l_quantity, l_extendedprice), 4) AS corr FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), 4) FROM lineitem
  UNION ALL
  SELECT 'l_quantity', 'l_tax', round(corr(l_quantity, l_tax), 4) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), 4) FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', 'l_tax', round(corr(l_extendedprice, l_tax), 4) FROM lineitem
  UNION ALL
  SELECT 'l_discount', 'l_tax', round(corr(l_discount, l_tax), 4) FROM lineitem
)
"""


def _q_streaming_ks_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KS drift monitor (`streaming.DataDriftMonitor` with
    stat='ks'): the events stream scored per microbatch by the binned
    two-sample KS statistic against a frozen baseline (even event_ids'
    values) — the cumulative-gap companion of `q:streaming_psi_monitor`
    on the same drain.  The oracle replays baseline-vs-all-events
    ks_drift in SQL."""
    from spark_auto_schema.streaming import DataDriftMonitor, read_event_stream

    ev = read_table(spark, sf_dir, "events")
    baseline = ev.where(F.col("event_id") % 2 == 0).select("value")
    monitor = DataDriftMonitor(
        baseline, "value", nbins=10, threshold=0.1, stat="ks"
    )
    q = monitor.attach(
        read_event_stream(spark, _events_stream_dir(sf_dir)).select("value")
    )
    q.awaitTermination()
    rows = [r for _, _, batch_rows in monitor.history for r in batch_rows]
    return spark.createDataFrame(
        rows,
        "bin int, base_n bigint, curr_n bigint, base_cum_p double, "
        "curr_cum_p double, ks_term double",
    )


_STREAMING_KS_SQL = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE event_id % 2 = 0 AND value IS NOT NULL
), curr AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL
), st AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
bb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS base_n
  FROM base, st GROUP BY 1
), cb AS (
  SELECT CAST(greatest(least(floor((v - mn) * 10 / (mx - mn)), 9), 0) AS INT) AS bin,
         count(*) AS curr_n
  FROM curr, st GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
counts AS (
  SELECT s.bin, coalesce(base_n, 0) AS base_n, coalesce(curr_n, 0) AS curr_n
  FROM spine s LEFT JOIN bb ON s.bin = bb.bin LEFT JOIN cb ON s.bin = cb.bin
), t AS (SELECT sum(base_n) AS bt, sum(curr_n) AS ct FROM counts),
cum AS (
  SELECT bin, base_n, curr_n,
         CAST(round(CAST(sum(base_n) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / bt
              AS DECIMAL(18,12)), 6) AS DOUBLE) AS base_cum_p,
         CAST(round(CAST(sum(curr_n) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / ct
              AS DECIMAL(18,12)), 6) AS DOUBLE) AS curr_cum_p
  FROM counts, t
)
SELECT bin, base_n, curr_n, base_cum_p, curr_cum_p,
       round(abs(base_cum_p - curr_cum_p), 6) AS ks_term
FROM cum
"""


def _scored_with_lang_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared input for the classifier-eval queries: Arrow-batch scores
    joined back to a planted binary label (lang = 'en', ~44% positive at
    sf0.01) — evaluating the REAL scoring path end-to-end, not a synthetic
    score column."""
    docs = read_table(spark, sf_dir, "documents")
    scores = scoring.classifier_score(docs)
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("label")
    )
    return scores.join(labels, "doc_id")


_SCORED_LABELED_CTE = f"""
WITH d AS (SELECT doc_id, text, lang, {_words_sql()} AS ws FROM documents),
f AS (
  SELECT doc_id, {_FEATURES_SQL},
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
  FROM d
), scored AS (SELECT doc_id, label, {_SCORE_SQL} AS score FROM f)
"""


def _q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (`ops/scoring.py` calibration_bins) of the
    Arrow-batch classifier against the planted lang='en' label: per-bin
    mean score vs positive fraction.  The oracle replays the closed-form
    model AND the binning, so the whole score->eval path is value-checked."""
    return scoring.calibration_bins(
        _scored_with_lang_label(spark, sf_dir), nbins=10
    )


_CALIBRATION_BINS_SQL = (
    _SCORED_LABELED_CTE
    + """
, binned AS (
  SELECT CAST(greatest(least(floor(score * 10), 9), 0) AS INT) AS bin, score, label
  FROM scored WHERE score IS NOT NULL
), counts AS (
  SELECT bin, count(*) AS n,
         CAST(round(CAST(avg(score) AS DECIMAL(18,12)), 6) AS DOUBLE) AS mean_score,
         CAST(round(CAST(avg(label) AS DECIMAL(18,12)), 6) AS DOUBLE) AS frac_pos
  FROM binned GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, 9)) AS bin)
SELECT s.bin, coalesce(n, 0) AS n, mean_score, frac_pos
FROM spine s LEFT JOIN counts c ON s.bin = c.bin
"""
)


def _q_binned_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned ROC/AUC (`ops/scoring.py` binned_roc) of the classifier vs
    the planted label — cumulative TPR/FPR sweeping the threshold down,
    trapezoidal AUC terms; no global rank sort (the sweep runs over the
    nbins-row frame).  AUC = sum(auc_term), replayed exactly in SQL."""
    return scoring.binned_roc(
        _scored_with_lang_label(spark, sf_dir), nbins=20
    )


_BINNED_ROC_SQL = (
    _SCORED_LABELED_CTE
    + """
, binned AS (
  SELECT CAST(greatest(least(floor(score * 20), 19), 0) AS INT) AS bin, label
  FROM scored WHERE score IS NOT NULL
), counts AS (
  SELECT bin, sum(label) AS n_pos, sum(1 - label) AS n_neg
  FROM binned GROUP BY 1
), spine AS (SELECT unnest(generate_series(0, 19)) AS bin),
full_c AS (
  SELECT s.bin, coalesce(n_pos, 0) AS n_pos, coalesce(n_neg, 0) AS n_neg
  FROM spine s LEFT JOIN counts c ON s.bin = c.bin
), cum AS (
  SELECT bin, n_pos, n_neg,
         CAST(round(CAST(sum(n_pos) OVER (ORDER BY bin DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
                    / nullif(sum(n_pos) OVER (), 0)
              AS DECIMAL(18,12)), 6) AS DOUBLE) AS tpr,
         CAST(round(CAST(sum(n_neg) OVER (ORDER BY bin DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0
                    / nullif(sum(n_neg) OVER (), 0)
              AS DECIMAL(18,12)), 6) AS DOUBLE) AS fpr
  FROM full_c
)
SELECT bin, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       tpr, fpr,
       CAST(round(CAST((fpr - coalesce(lag(fpr) OVER (ORDER BY bin DESC), 0.0))
            * (tpr + coalesce(lag(tpr) OVER (ORDER BY bin DESC), 0.0)) / 2.0
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS auc_term
FROM cum
"""
)


def _q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (`ops/analytics.py` transition_counts): all observed event-type
    transitions with row-normalized probabilities — the all-paths
    complement of the prescribed-path funnel.  Oracle replays the lag
    window (event_id tiebreak) and the snapped normalization."""
    from spark_auto_schema.ops import analytics

    return analytics.transition_counts(
        read_table(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        tiebreak_col="event_id",
    )


_TRANSITION_MATRIX_SQL = """
WITH l AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_state,
         event_type AS next_state
  FROM events
), c AS (
  SELECT prev_state, next_state, count(*) AS n
  FROM l WHERE prev_state IS NOT NULL GROUP BY 1, 2
)
SELECT prev_state, next_state, n,
       CAST(round(CAST(n * 1.0 / sum(n) OVER (PARTITION BY prev_state)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS p
FROM c
"""


def _q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution
    (`ops/text.py` token_entropy): the corpus-diversity monitor behind
    mixture tuning — a source whose entropy collapses (template spam,
    mode-collapsed synthetic data) reads low against its peers before
    dedup pair counts move.  Single-pass identity H = ln N - (sum
    c*ln c)/N over (source, token) counts: one wordcount-shaped shuffle
    plus an O(sources) rollup.  The oracle replays the identical
    identity in DuckDB."""
    return text.token_entropy(
        read_table(spark, sf_dir, "documents"), "text", "source"
    )


_TOKEN_ENTROPY_SQL = """
WITH tok AS (
  SELECT source AS grp, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT grp, tok, count(*) AS c FROM tok WHERE length(tok) > 0 GROUP BY 1, 2
)
SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab_size,
       CAST(round(CAST(ln(sum(c)) - sum(c * ln(c)) / sum(c)
            AS DECIMAL(18,10)), 4) AS DOUBLE) AS entropy
FROM c GROUP BY grp
"""


def _q_conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-format training-example construction (`ops/packing.py`
    assemble_sequences): sessionize the event log (30-min gap, the
    `q:sessionize_events` rule), then assemble each session's event
    types into ONE ordered `|`-joined sequence — the event-log ->
    conversation step of a chat/agent data pipeline.  Order is total and
    engine-independent (array_sort over (ts, event_id, payload) structs,
    never raw collect_list order); the oracle replays the session
    closure and an identically-ordered string_agg."""
    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    is_new = F.when(
        F.lag("us").over(w).isNull()
        | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = e.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(run)
    )
    return packing.assemble_sequences(
        sessions,
        key_cols=["user_id", "session_id"],
        order_cols=["us", "event_id"],
        payload_col="event_type",
    ).select("user_id", "session_id", "n_items", "sequence")


_CONVERSATION_ASSEMBLY_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
), l AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
  FROM e
), n AS (
  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END
              AS is_new
  FROM l
), s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
  FROM n
)
SELECT user_id, session_id, CAST(count(*) AS INTEGER) AS n_items,
       string_agg(event_type, '|' ORDER BY us, event_id) AS sequence
FROM s GROUP BY user_id, session_id
"""


_TEXT_DIRS: dict[str, str] = {}


def _cleanup_text_dirs() -> None:
    import shutil

    for d in _TEXT_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _TEXT_DIRS.clear()


def _docs_text_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize documents.text as a line-per-doc raw-text dir once per
    sf_dir — the .txt corpus-dump encoding LLM pipelines ingest.

    The line-per-doc invariant is ENFORCED by `io.write_text_lines`
    (CR/LF sanitized to spaces, NULL text becomes the empty line — so
    write.text cannot fail and n_lines always counts documents), and
    the dirs are registered for atexit cleanup instead of leaking one
    mkdtemp per process."""
    if sf_dir not in _TEXT_DIRS:
        import atexit
        import tempfile

        from spark_auto_schema.io import write_text_lines

        if not _TEXT_DIRS:
            atexit.register(_cleanup_text_dirs)
        d = tempfile.mkdtemp(prefix="docs_text_")
        write_text_lines(read_table(spark, sf_dir, "documents"), "text", d)
        _TEXT_DIRS[sf_dir] = d
    return _TEXT_DIRS[sf_dir]


def _q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text source format (spark.read.text via the generic
    `io.load_file` dispatch): documents re-encoded one-doc-per-line
    (the .txt corpus-dump format), read back, and reduced to
    order-insensitive totals that must equal the parquet truth — line
    count, total characters, distinct lines.  Line order is
    writer-dependent, so the contract is the aggregate, not the
    sequence (the same pattern as `q:bucketed_roundtrip`)."""
    from spark_auto_schema.io import load_file

    lines = load_file(spark, _docs_text_path(spark, sf_dir), fmt="text")
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.count_distinct("value").alias("distinct_lines"),
    )


_TEXT_ROUNDTRIP_SQL = """
-- mirrors the writer's CR/LF->space + NULL->'' sanitization, so the
-- contract holds even for corpora with embedded newlines or null text
SELECT count(*) AS n_lines,
       CAST(sum(length(replace(replace(coalesce(text, ''), chr(13), ' '),
                          chr(10), ' '))) AS BIGINT) AS total_chars,
       count(DISTINCT replace(replace(coalesce(text, ''), chr(13), ' '),
                              chr(10), ' ')) AS distinct_lines
FROM documents
"""


def _q_jsonl_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference over the JSONL encoding (SURVEY 2A #1-3 x #7-19):
    region re-encoded as JSON lines, read through the generic format
    dispatch, and fed to the same inference decision tree — closing the
    source-format x inference matrix (parquet and CSV inference are
    already driver-checked).  JSON preserves region's value types
    (integer -> bigint, string -> string), so the oracle is the same
    per-column probe SQL the parquet `q:infer_region` uses."""
    from spark_auto_schema.io import load_file

    df = load_file(spark, _region_fmt_path(spark, sf_dir, "json"), fmt="json")
    return inference_to_df(spark, infer_table_schema(df)).select(
        "field", "proposed_type"
    )


def _q_eval_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group eval-set construction (`ops/sampling.py`
    exact_k_per_group): the 20 content-hash-smallest documents of EACH
    language — pinned group counts where `q:stratified_sample_orders`'
    fractions would track group size.  The oracle replays the identical
    (md5, key) rank."""
    docs = read_table(spark, sf_dir, "documents")
    return sampling.exact_k_per_group(docs, "lang", "doc_id", k=20).select(
        "lang", "doc_id"
    )


_EVAL_SAMPLE_PER_LANG_SQL = """
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 20
"""


def _q_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter-pruned exact incremental dedup (`ops/dedup.py`
    bloom_incremental_dedup): the runtime-filter join pattern — the corpus
    collapses to a <=2^18-row md5 bit-set relation, broadcast to prune the
    batch; bloom-negatives skip verification (no false negatives by
    construction), bloom-positives are exact-verified.  The oracle is the
    PLAIN incremental dedup SQL: the driver hash-match is a proof that the
    prune is answer-preserving, not just fast."""
    batch, corpus = _incr_split(spark, sf_dir)
    return dedup.bloom_incremental_dedup(batch, corpus)


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (`ops/text.py` bm25_topk): top-20
    documents for a 3-term query, Lucene idf, k1=1.2 / b=0.75 — the
    scorer behind hybrid RAG retrieval, beside the dense `embedding_topk`.
    The oracle replays tokenization (the non-empty single-space tokens),
    tf/df, length norm, and the snapped score."""
    return text.bm25_topk(
        read_table(spark, sf_dir, "documents"), ["merge", "window", "vector"], topk=20
    )


_BM25_TOPK_SQL = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS term
  FROM documents
), dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
tf AS (SELECT id, term, count(*) AS tf FROM toks
       WHERE term IN ('merge', 'window', 'vector') GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
s AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT avg(dl) FROM dl) AS avgdl),
c AS (
  SELECT id, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
  FROM tf JOIN dfreq USING (term) JOIN dl USING (id) CROSS JOIN s
), sc AS (
  SELECT id AS doc_id,
         CAST(round(CAST(sum(w) AS DECIMAL(18,12)), 4) AS DOUBLE) AS bm25
  FROM c GROUP BY 1
)
SELECT * FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20
"""


def _q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality gate (`ops/analytics.py`
    expectation_suite): six expectations over orders evaluated in ONE
    aggregation pass — (constraint, observed, passed) rows, the
    ingest-to-training circuit breaker.  The oracle computes each metric
    as an independent scalar select; the engine must agree on both the
    observed value and the verdict."""
    from spark_auto_schema.ops import analytics

    return analytics.expectation_suite(
        read_table(spark, sf_dir, "orders"),
        [
            ("not_null", "o_custkey"),
            ("unique", "o_orderkey"),
            ("min_at_least", "o_totalprice", 0.0),
            ("max_at_most", "o_totalprice", 1000000.0),
            ("accepted_values", "o_orderstatus", ["O", "F", "P"]),
            ("row_count_at_least", 1),
        ],
    )


_DQ_EXPECTATIONS_SQL = """
SELECT 'not_null(o_custkey)' AS constraint,
       CAST(round(CAST(avg(CASE WHEN o_custkey IS NULL THEN 1.0 ELSE 0.0 END)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS observed,
       -- verdict from the EXACT violation count, never the (rounded) ratio
       coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) = 0 AS passed
FROM orders
UNION ALL
SELECT 'unique(o_orderkey)',
       CAST(round(CAST(count(DISTINCT o_orderkey) * 1.0 / count(*)
            AS DECIMAL(18,12)), 6) AS DOUBLE),
       count(DISTINCT o_orderkey) = count(*)
FROM orders
UNION ALL
SELECT 'min_at_least(o_totalprice,0.0)', CAST(min(o_totalprice) AS DOUBLE),
       min(o_totalprice) >= 0.0
FROM orders
UNION ALL
SELECT 'max_at_most(o_totalprice,1000000.0)', CAST(max(o_totalprice) AS DOUBLE),
       max(o_totalprice) <= 1000000.0
FROM orders
UNION ALL
SELECT 'accepted_values(o_orderstatus,[O,F,P])',
       CAST(round(CAST(avg(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0
            ELSE 0.0 END) AS DECIMAL(18,12)), 6) AS DOUBLE),
       coalesce(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END), 0) = 0
FROM orders
UNION ALL
SELECT 'row_count_at_least(1)', CAST(count(*) AS DOUBLE), count(*) >= 1
FROM orders
"""


def _q_pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph
    (`ops/analytics.py` pagerank, 3 fixed power iterations, d=0.85): the
    graph-centrality read on navigation flows — which state the random
    surfer of user sessions concentrates on.  Edge derivation (the 100 TB
    part) reuses the transition_counts lag-window shuffle; the iteration
    runs on the aggregated |V|+|E| graph.  The oracle unrolls the three
    iterations as a CTE chain, dangling-mass correction included."""
    from spark_auto_schema.ops import analytics

    edges = analytics.transition_counts(
        read_table(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        tiebreak_col="event_id",
    ).select(
        F.col("prev_state").alias("src"), F.col("next_state").alias("dst"), "n"
    )
    return analytics.pagerank(edges, iters=3, damping=0.85)


_PAGERANK_EVENT_TYPES_SQL = """
WITH l AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS src, event_type AS dst
  FROM events
), e AS (
  SELECT src, dst, count(*) * 1.0 AS w FROM l WHERE src IS NOT NULL GROUP BY 1, 2
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
trans AS (SELECT src, dst, w / out_w AS p FROM e JOIN outw USING (src)),
nn AS (SELECT count(*) * 1.0 AS n_nodes FROM nodes),
r0 AS (SELECT node, 1.0 / n_nodes AS rank FROM nodes CROSS JOIN nn),
d0 AS (SELECT coalesce(sum(rank), 0.0) AS dangling FROM r0
       WHERE node NOT IN (SELECT src FROM outw)),
i0 AS (SELECT dst AS node, sum(rank * p) AS inflow
       FROM r0 JOIN trans ON r0.node = trans.src GROUP BY 1),
r1 AS (SELECT nodes.node,
              0.15 / n_nodes + 0.85 * (coalesce(inflow, 0.0) + dangling / n_nodes)
                AS rank
       FROM nodes LEFT JOIN i0 USING (node) CROSS JOIN nn CROSS JOIN d0),
d1 AS (SELECT coalesce(sum(rank), 0.0) AS dangling FROM r1
       WHERE node NOT IN (SELECT src FROM outw)),
i1 AS (SELECT dst AS node, sum(rank * p) AS inflow
       FROM r1 JOIN trans ON r1.node = trans.src GROUP BY 1),
r2 AS (SELECT nodes.node,
              0.15 / n_nodes + 0.85 * (coalesce(inflow, 0.0) + dangling / n_nodes)
                AS rank
       FROM nodes LEFT JOIN i1 USING (node) CROSS JOIN nn CROSS JOIN d1),
d2 AS (SELECT coalesce(sum(rank), 0.0) AS dangling FROM r2
       WHERE node NOT IN (SELECT src FROM outw)),
i2 AS (SELECT dst AS node, sum(rank * p) AS inflow
       FROM r2 JOIN trans ON r2.node = trans.src GROUP BY 1),
r3 AS (SELECT nodes.node,
              0.15 / n_nodes + 0.85 * (coalesce(inflow, 0.0) + dangling / n_nodes)
                AS rank
       FROM nodes LEFT JOIN i2 USING (node) CROSS JOIN nn CROSS JOIN d2)
SELECT node, CAST(round(CAST(rank AS DECIMAL(18,12)), 6) AS DOUBLE) AS rank
FROM r3
"""


def _q_labeler_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic quality labelers
    (`ops/scoring.py` agreement_kappa): char-length >= 200 vs word-count
    >= 40 over documents — the chance-corrected agreement read that tells
    you whether a second cheap labeler adds signal or just shares
    marginals.  One confusion-count aggregation pass; the oracle replays
    the identical labelers and the snapped po/pe/kappa algebra."""
    from spark_auto_schema.ops import scoring as scoring_ops

    labeled = read_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= 200).alias("len_ok"),
        (F.size(_words(F.col("text"))) >= 40).alias("words_ok"),
    )
    return scoring_ops.agreement_kappa(labeled, "len_ok", "words_ok")


_LABELER_KAPPA_SQL = f"""
WITH l AS (
  SELECT n_chars >= 200 AS a, len({_words_sql()}) >= 40 AS b
  FROM documents
), c AS (
  SELECT count(*) AS n,
         sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS n11,
         sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS n10,
         sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS n01,
         sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS n00
  FROM l WHERE a IS NOT NULL AND b IS NOT NULL
), m AS (
  SELECT n, (n11 + n00) * 1.0 / n AS po,
         ((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
           + (1 - (n11 + n10) * 1.0 / n) * (1 - (n11 + n01) * 1.0 / n) AS pe
  FROM c
)
SELECT n, CAST(round(CAST(po AS DECIMAL(18,12)), 6) AS DOUBLE) AS po,
       CAST(round(CAST(pe AS DECIMAL(18,12)), 6) AS DOUBLE) AS pe,
       CAST(round(CAST(CASE WHEN pe = 1.0 THEN NULL
                             ELSE (po - pe) / (1.0 - pe) END
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS kappa
FROM m
"""


def _q_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (`ops/similarity.py`
    rrf_fuse): a 50-candidate BM25 lexical pool and a 50-candidate exact
    cosine pool (query vector = vec_id 0, vec_id aligned with doc_id in
    the synthetic corpus) fused by sum 1/(60+rank), top 10.  The
    rank-based combiner needs no score calibration between the two
    retrievers; the single-partition rank windows run on k-sized pools
    only — the corpus-scale work happened inside the retrievers' own
    TakeOrdered plans.  The oracle replays both pools and the fusion."""
    docs = read_table(spark, sf_dir, "documents")
    embs = _spread_embs(spark, sf_dir)
    lex = text.bm25_topk(
        docs, ["merge", "window", "vector"], topk=50
    ).withColumnRenamed("doc_id", "vec_id")
    dense = similarity.cosine_topk(embs, query_id=0, k=50)
    return similarity.rrf_fuse([lex, dense], topk=10)


# shared WITH-prefix ending in f(id, rrf, n_lists): the rrf_hybrid_topk
# oracle selects from it directly; the rerank_cross_encoder oracle extends
# it with the pool-rank + lexical-F1 tail (single source, no drift)
_RRF_POOL_CTE = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS term
  FROM documents
), dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
tf AS (SELECT id, term, count(*) AS tf FROM toks
       WHERE term IN ('merge', 'window', 'vector') GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
s AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
             (SELECT avg(dl) FROM dl) AS avgdl),
c AS (
  SELECT id, ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
  FROM tf JOIN dfreq USING (term) JOIN dl USING (id) CROSS JOIN s
), lexpool AS (
  SELECT id, CAST(round(CAST(sum(w) AS DECIMAL(18,12)), 4) AS DOUBLE) AS sc
  FROM c GROUP BY 1 ORDER BY sc DESC, id LIMIT 50
), lexrank AS (
  SELECT id, row_number() OVER (ORDER BY sc DESC, id) AS rank FROM lexpool
), densepool AS (
  SELECT b.vec_id AS id,
         round(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))), 4) AS sc
  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) a, embeddings b
  WHERE b.vec_id != 0 ORDER BY sc DESC, b.vec_id LIMIT 50
), denserank AS (
  SELECT id, row_number() OVER (ORDER BY sc DESC, id) AS rank FROM densepool
), u AS (SELECT * FROM lexrank UNION ALL SELECT * FROM denserank),
f AS (
  SELECT id, CAST(round(CAST(sum(1.0 / (60 + rank)) AS DECIMAL(18,12)), 6)
                AS DOUBLE) AS rrf,
         count(*) AS n_lists
  FROM u GROUP BY 1
)
"""

_RRF_HYBRID_SQL = (
    _RRF_POOL_CTE
    + "SELECT id AS vec_id, rrf, n_lists FROM f ORDER BY rrf DESC, vec_id LIMIT 10"
)


def _q_cdc_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup summary (`ops/dedup.py` cdc_chunks +
    cdc_dedup_stats): token-level Gear-style boundaries (md5(token) ≡ 0
    mod 8 closes a chunk), chunk identity = md5 of the space-joined
    tokens, corpus summary = (n_chunks, n_distinct, dup_ratio,
    avg_tokens).  Content-defined boundaries re-synchronize after edits
    where fixed-size chunking shifts every later chunk — the
    storage-dedup read on a training corpus.  The oracle replays the
    boundary rule, the cumulative-boundary window, the ordered chunk
    reassembly, and the summary aggregate."""
    return dedup.cdc_dedup_stats(read_table(spark, sf_dir, "documents"))


_CDC_DEDUP_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id, i - 1 AS pos, ws[i] AS tok
  FROM (SELECT doc_id, {_words_sql()} AS ws FROM documents),
       UNNEST(generate_series(1, len(ws))) AS t(i)
), b AS (
  SELECT id, pos, tok,
         coalesce(sum(CASE WHEN CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT)
                                 % 8 = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_idx
  FROM toks
), ch AS (
  SELECT id, chunk_idx, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
         count(*) AS n
  FROM b GROUP BY 1, 2
)
SELECT count(*) AS n_chunks, count(DISTINCT chunk_hash) AS n_distinct,
       CAST(round(CAST(1.0 - count(DISTINCT chunk_hash) * 1.0 / count(*)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS dup_ratio,
       CAST(round(CAST(avg(n) AS DECIMAL(18,12)), 6) AS DOUBLE) AS avg_tokens
FROM ch
"""


def _q_waterfill_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling cap allocation over per-source token totals
    (`ops/corpus.py` waterfill_allocation, budget = 50% of the corpus):
    the balanced-mixture primitive — sources below the water level keep
    every token, dominant sources are capped AT the level, and the level
    is the closed-form solution of sum min(tokens, L) = budget (no
    iteration).  The corpus-wide token count is the 100 TB scan; the
    fill itself runs on the |sources| aggregate.  The oracle replays the
    ranked-boundary closed form."""
    from spark_auto_schema.ops import corpus as corpus_ops

    sizes = (
        read_table(spark, sf_dir, "documents")
        .select("source", F.size(_words(F.col("text"))).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
    )
    return corpus_ops.waterfill_allocation(
        sizes, "source", "n_tokens", budget_frac=0.5
    )


_WATERFILL_SOURCES_SQL = f"""
WITH g AS (
  SELECT source AS grp, CAST(sum(len({_words_sql()})) AS DOUBLE) AS t
  FROM documents GROUP BY 1
), r AS (
  SELECT grp, t, row_number() OVER (ORDER BY t, grp) AS rn,
         coalesce(sum(t) OVER (ORDER BY t, grp
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_prev,
         lag(t) OVER (ORDER BY t, grp) AS t_prev,
         (SELECT sum(t) FROM g) AS total, (SELECT count(*) FROM g) AS n_grps
  FROM g
), lv AS (
  SELECT min(CASE WHEN (total * 0.5 - cum_prev) / (n_grps - rn + 1) <= t
                   AND (t_prev IS NULL
                        OR (total * 0.5 - cum_prev) / (n_grps - rn + 1) >= t_prev)
             THEN (total * 0.5 - cum_prev) / (n_grps - rn + 1) END) AS level
  FROM r
)
SELECT grp AS source, CAST(t AS BIGINT) AS n_tokens,
       CAST(round(CAST(least(t, coalesce(level, t)) AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS allocation,
       level IS NOT NULL AND t > level AS capped
FROM g CROSS JOIN lv
"""


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens via Spark's native DataSketches approx_top_k
    aggregate (`ops/text.py` heavy_hitters_sketch, threshold 500): the
    single-pass MERGEABLE alternative to the exact wordcount — partial
    sketches combine map-side into fixed megabytes instead of shuffling
    the (term, count) vocabulary.  The synthetic vocabulary fits the
    sketch capacity, so counts are exact and the oracle is the plain
    frequency query; the output contract is a frequency THRESHOLD, not a
    top-k cut, so boundary ties cannot depend on sketch ordering.

    Capacity is DERIVED (max_items_tracked=None): the op sizes the
    sketch as 2*ceil(3.5*T/min_count) from a cheap token count, so this
    call site keeps its exactness guarantee at ANY sf_dir instead of
    hard-erroring past the old fixed 10k capacity's ~1.43M-token ceiling
    (round-8 verdict).  At 100 TB the extra counting pass is avoided by
    passing corpus_tokens_hint from an already-profiled count; the
    3.5*T/M bound stays conservative-approximate, so the in-plan guard
    still fires early, never late."""
    return text.heavy_hitters_sketch(
        read_table(spark, sf_dir, "documents"), min_count=500
    )


_HEAVY_HITTERS_SQL = """
SELECT term, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
WHERE length(term) > 0
GROUP BY 1 HAVING count(*) >= 500 ORDER BY n DESC, term
"""


def _q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle objective prep (`ops/packing.py` fim_transform):
    ~half the documents (md5(doc_id) draw) get two hash-derived cut
    points splitting tokens into PSM prefix|middle|suffix spans; the
    rest pass through as causal-LM rows.  Cuts are pure functions of the
    id, so a grown corpus never re-cuts existing documents.  A single
    narrow projection — no shuffle, no Python.  The oracle replays the
    draw, both cut derivations, and the three slices."""
    return packing.fim_transform(read_table(spark, sf_dir, "documents"))


_FIM_TRANSFORM_SQL = f"""
WITH w AS (SELECT doc_id, text, {_words_sql()} AS ws FROM documents),
t AS (
  SELECT doc_id, text, ws, len(ws) AS n, md5(CAST(doc_id AS VARCHAR)) AS h
  FROM w
), c AS (
  SELECT doc_id, text, ws, n,
         CAST(('0x' || substr(h, 1, 4)) AS BIGINT) % 2 = 0 AND n >= 8 AS fim,
         CAST(('0x' || substr(h, 5, 8)) AS BIGINT) % (n - 2) + 1 AS c1,
         CAST(('0x' || substr(h, 13, 8)) AS BIGINT) AS h2
  FROM t
), d AS (
  SELECT doc_id, text, ws, n, fim, c1, c1 + (h2 % (n - c1 - 1)) + 1 AS c2 FROM c
)
SELECT doc_id, fim AS fim_applied,
       CASE WHEN fim THEN array_to_string(ws[1:c1], ' ') ELSE text END AS prefix,
       CASE WHEN fim THEN array_to_string(ws[c1+1:c2], ' ') ELSE '' END AS middle,
       CASE WHEN fim THEN array_to_string(ws[c2+1:n], ' ') ELSE '' END AS suffix
FROM d
"""


def _q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive pairs
    (`ops/sampling.py` contrastive_negatives): 4 negatives per anchor
    from 64 hash buckets, each bucket represented by its md5-smallest
    member.  The anchors only ever join a broadcast 64-row representative
    table — no anchor x corpus join — and pairs are pure functions of
    (id, rank), so epoch re-runs reproduce them.  The oracle replays the
    bucket election (arg_min) and the probe hash."""
    return sampling.contrastive_negatives(
        read_table(spark, sf_dir, "documents"), k=4, num_buckets=64
    )


_CONTRASTIVE_NEGATIVES_SQL = """
WITH reps AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 64 AS bucket,
         arg_min(doc_id, md5(CAST(doc_id AS VARCHAR))) AS neg_id
  FROM documents GROUP BY 1
), probe AS (
  SELECT doc_id AS id, j AS neg_rank,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                  || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
           % 64 AS bucket
  FROM documents, UNNEST(generate_series(1, 4)) AS t(j)
)
SELECT id AS doc_id, CAST(neg_rank AS INT) AS neg_rank, neg_id
FROM probe JOIN reps USING (bucket) WHERE neg_id != id
"""


def _q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (`ops/packing.py` span_corruption): ~25%
    of tokens masked by a pure md5(doc_id:pos) draw, consecutive masks
    merged into sentinel spans, emitting (input with <extra_id_k>
    sentinels, target listing each sentinel + its hidden tokens).  The
    denoising-objective complement of FIM; positional-hash-pure masking
    means re-runs and corpus growth reproduce every example.  The oracle
    replays the draw, the run/span windows, and both ordered
    reassemblies."""
    return packing.span_corruption(read_table(spark, sf_dir, "documents"))


_SPAN_CORRUPTION_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id, i - 1 AS pos, ws[i] AS tok
  FROM (SELECT doc_id, {_words_sql()} AS ws FROM documents),
       UNNEST(generate_series(1, len(ws))) AS t(i)
), m AS (
  SELECT id, pos, tok,
         CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                                  || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT)
           % 4 = 0 AS m
  FROM toks
), r AS (
  SELECT id, pos, tok, m,
         m AND NOT coalesce(lag(m) OVER (PARTITION BY id ORDER BY pos), FALSE)
           AS run_head
  FROM m
), s AS (
  SELECT id, pos, tok, m, run_head,
         sum(CASE WHEN run_head THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           AS span_k
  FROM r
), inp AS (
  SELECT id,
         string_agg(CASE WHEN NOT m THEN tok
                         WHEN run_head THEN '<extra_id_'
                              || CAST(span_k AS VARCHAR) || '>' END,
                    ' ' ORDER BY pos) AS input
  FROM s GROUP BY 1
), tgt_rows AS (
  SELECT id, pos, 0 AS prio,
         '<extra_id_' || CAST(span_k AS VARCHAR) || '>' AS piece
  FROM s WHERE run_head
  UNION ALL
  SELECT id, pos, 1 AS prio, tok AS piece FROM s WHERE m
), tgt AS (
  SELECT id, string_agg(piece, ' ' ORDER BY pos, prio) AS target
  FROM tgt_rows GROUP BY 1
), ns AS (
  SELECT id, CAST(max(span_k) + 1 AS BIGINT) AS n_spans FROM s GROUP BY 1
)
SELECT inp.id AS doc_id, inp.input, coalesce(tgt.target, '') AS target,
       ns.n_spans
FROM inp LEFT JOIN tgt USING (id) JOIN ns USING (id)
"""


def _q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (`ops/scoring.py`
    quantile_normalize): per-source percent-ranks of document length
    mapped onto an 11-point exact global percentile grid — after the
    transform one global threshold cuts every source at the same
    quantile (batch-effect correction for multi-source quality scores).
    The rank window partitions by source; the grid is one broadcast
    aggregate row; no global sort.  The oracle replays the rank, grid,
    and interpolation."""
    from spark_auto_schema.ops import scoring as scoring_ops

    scored = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    return scoring_ops.quantile_normalize(scored, "score", "source", "doc_id")


_QUANTILE_NORMALIZE_SQL = """
WITH s AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score
           FROM documents),
g AS (SELECT quantile_cont(score,
        [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]) AS gl
      FROM s),
r AS (SELECT doc_id, source, score,
        percent_rank() OVER (PARTITION BY source ORDER BY score, doc_id) AS p
      FROM s)
SELECT doc_id, source, score,
       CAST(round(CAST(p AS DECIMAL(18,12)), 6) AS DOUBLE) AS p,
       CAST(round(CAST(gl[CAST(floor(p * 10) AS INT) + 1]
            + (gl[least(CAST(floor(p * 10) AS INT) + 2, 11)]
               - gl[CAST(floor(p * 10) AS INT) + 1])
              * (p * 10 - floor(p * 10)) AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS normalized
FROM r CROSS JOIN g
"""


def _q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term co-occurrence PMI (`ops/text.py`
    cooccurrence_pmi): the word-association / topic-graph builder —
    whole-document windows where bigram_pmi uses adjacency.  The pair
    space is quadratic in the frequency-capped VOCABULARY, never the
    corpus: vocab broadcast-semi-joins onto the token stream, the
    doc-membership frame is distinct (term, doc) over that vocab, and
    the self-join keys on doc id.  The oracle replays vocab, membership,
    pair counts, and the PMI algebra."""
    return text.cooccurrence_pmi(read_table(spark, sf_dir, "documents"))


_COOCCURRENCE_PMI_SQL = """
WITH toks AS (
  SELECT * FROM (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term FROM documents
  ) WHERE length(term) > 0
), vocab AS (SELECT term FROM toks GROUP BY 1 HAVING count(*) >= 500),
member AS (SELECT DISTINCT id, term FROM toks JOIN vocab USING (term)),
dfreq AS (SELECT term, count(*) AS nd FROM member GROUP BY 1),
nt AS (SELECT count(*) AS n_corpus FROM documents),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_docs
  FROM member a JOIN member b ON a.id = b.id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT term_a, term_b, n_docs,
       CAST(round(CAST(ln(n_corpus * n_docs * 1.0 / (da.nd * db.nd))
            AS DECIMAL(18,12)), 4) AS DOUBLE) AS pmi
FROM pairs JOIN dfreq da ON da.term = term_a
           JOIN dfreq db ON db.term = term_b
CROSS JOIN nt
"""


def _q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-filter rejection funnel (`ops/corpus.py` filter_funnel):
    four named keep-rules over documents — min length, min token count,
    English-only, sane average word length — audited in ONE aggregate
    pass: per rule, standalone rejections and cumulative survivors.  The
    why-did-my-corpus-shrink report every multi-stage quality pipeline
    re-runs after a rule change.  The oracle evaluates the same keeps in
    a CTE and unrolls the four stages as a UNION chain."""
    from spark_auto_schema.ops import corpus

    d = read_table(spark, sf_dir, "documents")
    toks = F.size(_words(F.col("text")))
    return corpus.filter_funnel(
        d,
        [
            ("min_chars", F.col("n_chars") >= 200),
            ("min_tokens", toks >= 40),
            ("lang_en", F.col("lang") == "en"),
            ("avg_word_len", F.col("n_chars") <= 6 * toks),
        ],
    )


_FILTER_FUNNEL_SQL = f"""
WITH k AS (
  SELECT coalesce(n_chars >= 200, false) AS k1,
         coalesce(len({_words_sql()}) >= 40, false) AS k2,
         coalesce(lang = 'en', false) AS k3,
         coalesce(n_chars <= 6 * len({_words_sql()}), false) AS k4
  FROM documents
), a AS (
  -- every sum cast to BIGINT: DuckDB integer sum() is HUGEINT/decimal128,
  -- which hash-diverges from Spark int64 in the driver compare (round 7)
  SELECT count(*) AS n_total,
         CAST(coalesce(sum(CASE WHEN NOT k1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS a1,
         CAST(coalesce(sum(CASE WHEN k1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c1,
         CAST(coalesce(sum(CASE WHEN NOT k2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS a2,
         CAST(coalesce(sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c2,
         CAST(coalesce(sum(CASE WHEN NOT k3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS a3,
         CAST(coalesce(sum(CASE WHEN k1 AND k2 AND k3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c3,
         CAST(coalesce(sum(CASE WHEN NOT k4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS a4,
         CAST(coalesce(sum(CASE WHEN k1 AND k2 AND k3 AND k4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS c4
  FROM k
)
SELECT 1 AS stage, 'min_chars' AS rule, n_total AS n_input,
       a1 AS n_rejected_alone, c1 AS n_survivors FROM a
UNION ALL SELECT 2, 'min_tokens', c1, a2, c2 FROM a
UNION ALL SELECT 3, 'lang_en', c2, a3, c3 FROM a
UNION ALL SELECT 4, 'avg_word_len', c3, a4, c4 FROM a
"""


def _q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration over sources (`ops/corpus.py`
    gini_concentration, weighted by characters): one row (n_groups,
    total, gini, top1_share, top5_share) — the mixture-health sentinel
    that moves when a crawl refresh doubles one domain, before any
    per-query metric does.  Windows run over the |sources|-sized
    aggregate frame only.  The oracle replays the sorted-index Gini
    formula over the same per-source sums."""
    from spark_auto_schema.ops import corpus

    return corpus.gini_concentration(
        read_table(spark, sf_dir, "documents"), "source", "n_chars"
    )


_GINI_SOURCES_SQL = """
WITH g AS (
  -- coalesce mirrors the operator: an all-NULL-weight group carries 0
  SELECT source AS grp, coalesce(CAST(sum(n_chars) AS DOUBLE), 0) AS w
  FROM documents GROUP BY 1
), r AS (
  SELECT grp, w,
         row_number() OVER (ORDER BY w ASC, grp) AS i,
         row_number() OVER (ORDER BY w DESC, grp) AS ri
  FROM g
)
SELECT count(*) AS n_groups,
       -- round() first: CAST(DOUBLE AS BIGINT) alone is half-to-EVEN in
       -- DuckDB (2.5 -> 2) while Spark F.round is half-away (2.5 -> 3);
       -- round(DOUBLE) here is half-away, matching the operator exactly
       CAST(round(sum(w)) AS BIGINT) AS total,
       CAST(round(CAST(2.0 * sum(i * w) / (count(*) * sum(w))
            - (count(*) + 1.0) / count(*) AS DECIMAL(18,12)), 6) AS DOUBLE) AS gini,
       CAST(round(CAST(sum(CASE WHEN ri <= 1 THEN w ELSE 0 END) / sum(w)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS top1_share,
       CAST(round(CAST(sum(CASE WHEN ri <= 5 THEN w ELSE 0 END) / sum(w)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS top5_share
FROM r
"""


def _q_key_suggestions_approx_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query for the HLL++ scale path of key discovery
    (`ops/corpus.py` suggest_keys(exact=False) — the documented 100 TB
    mode the driver's exact `key_suggestions` query cannot exercise):
    per orders column, the sketch estimate must land within 3x the
    default rsd (|approx - exact| / exact <= 0.15) and strict PK
    candidacy must ABSTAIN (is_unique IS NULL — an estimate can rank
    cardinality but never assert uniqueness).  The oracle pins the
    expected verdicts per column; like ann_recall_ok, the contract — not
    the sketch internals — is the replayable surface."""
    from spark_auto_schema.ops import corpus

    orders = read_table(spark, sf_dir, "orders")
    exact = corpus.suggest_keys(orders, exact=True).select(
        "column", F.col("n_distinct").alias("exact_nd")
    )
    approx = corpus.suggest_keys(orders, exact=False).select(
        "column",
        F.col("n_distinct").alias("approx_nd"),
        F.col("is_unique").isNull().alias("unique_abstains"),
    )
    return (
        exact.join(approx, on="column")
        .select(
            "column",
            (
                F.abs(F.col("approx_nd") - F.col("exact_nd"))
                <= 0.15 * F.col("exact_nd")
            ).alias("est_within_bound"),
            "unique_abstains",
        )
        .orderBy("column")
    )


_KEY_SUGGESTIONS_APPROX_SQL = """
-- pins est_within_bound=true per column: HLL++ is deterministic per
-- dataset (not flaky per run), but a TESTDATA REGENERATION can push a
-- column's estimate outside the 3x-rsd bound (~0.3% chance per column);
-- if this query alone goes red with no code change, suspect regenerated
-- parquet and re-check |approx-exact|/exact per column before anything else
SELECT column_name AS column, true AS est_within_bound, true AS unique_abstains
FROM (DESCRIBE orders) ORDER BY column_name
"""


def _q_nfkc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFKC-lite normalization roundtrip (`ops/text.py` normalize_text):
    every document is decorated with the fold table's hazards — curly
    quotes, an ellipsis, and per-parity either fullwidth ASCII or an
    NBSP + fi-ligature + zero-width-space cluster — then normalized; the
    output is (doc_id, raw_len, norm_len, norm_digest) with the digest
    over the normalized text, so ANY character-level divergence between
    the Spark fold and the oracle's replay (same module constants,
    translate + regexp chain in the identical order) flips the hash.
    Idempotence is property-tested in tests/test_ops.py."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(_NORM_PRE),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_NORM_SUF),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_NORM_TAIL_EVEN)).otherwise(
                F.lit(_NORM_TAIL_ODD)
            ),
        ).alias("t"),
    )
    return text.normalize_text(d, "t", "tn").select(
        "doc_id",
        F.length("t").alias("raw_len"),
        F.length("tn").alias("norm_len"),
        F.substring(F.md5("tn"), 1, 16).alias("norm_digest"),
    )


# decoration constants shared between the Spark query above and the oracle
# below: U+201C/U+201D curly quotes; even docs get ellipsis + fullwidth OK,
# odd docs get NBSP + fi-ligature + ZWSP
_NORM_PRE = "\u201c"
_NORM_SUF = "\u201d"
_NORM_TAIL_EVEN = "\u2026\uff2f\uff2b"
_NORM_TAIL_ODD = "\u00a0\ufb01x\u200by"


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


# the oracle replays the decoration and the exact fold chain from the
# text-module constants: delete invisibles, translate the 1:1 table,
# expand ellipsis/ligatures, collapse \s+ (ASCII whitespace in BOTH
# regex engines — Java \s adds \x0B, absent from this corpus), trim
_NFKC_NORMALIZE_SQL = f"""
WITH dec AS (
  SELECT doc_id,
         '{_sql_quote(_NORM_PRE)}' || coalesce(text, '') ||
         '{_sql_quote(_NORM_SUF)}' ||
         CASE WHEN doc_id % 2 = 0 THEN '{_sql_quote(_NORM_TAIL_EVEN)}'
              ELSE '{_sql_quote(_NORM_TAIL_ODD)}' END AS t
  FROM documents
), n AS (
  SELECT doc_id, t,
         trim(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
             translate(regexp_replace(t, '{text._NFKC_DELETE_RE}', '', 'g'),
                       '{_sql_quote(text._NFKC_FROM)}',
                       '{_sql_quote(text._NFKC_TO)}'),
             '{text._NFKC_EXPAND[0][0]}', '{text._NFKC_EXPAND[0][1]}', 'g'),
             '{text._NFKC_EXPAND[1][0]}', '{text._NFKC_EXPAND[1][1]}', 'g'),
             '{text._NFKC_EXPAND[2][0]}', '{text._NFKC_EXPAND[2][1]}', 'g'),
           '{text._NFKC_WS_RUN_RE}', ' ', 'g')) AS tn
  FROM dec
)
SELECT doc_id, length(t) AS raw_len, length(tn) AS norm_len,
       substr(md5(tn), 1, 16) AS norm_digest
FROM n
"""


def _q_url_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain rollup (`ops/text.py`
    canonicalize_urls): synthesize one URL per document covering every
    canonicalization hazard — mixed-case scheme/host, www. prefix,
    two-level ICANN suffix (co.uk, com.cn), a PSL private-section host
    (github.io: every subdomain its own registrant), a THREE-level
    suffix (k12.ca.us, where the longest rule must beat ca.us),
    explicit port, trailing slash,
    utm_* tracking params in both leading and trailing position,
    unsorted params, fragments — then roll up to (registered_domain,
    n_urls, n_hosts, n_canon).  The oracle rebuilds the same URLs and
    replays the identical regexp/split/sort chain."""
    d = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("http://")
        ),
        F.col("source"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(".Example.CO.UK"))
        .when(F.col("doc_id") % 6 == 1, F.lit(".example.com"))
        .when(F.col("doc_id") % 6 == 2, F.lit(".mysite.GitHub.IO"))
        .when(F.col("doc_id") % 6 == 3, F.lit(".District.K12.CA.US"))
        .when(F.col("doc_id") % 6 == 4, F.lit(".shop.example.COM.CN"))
        .otherwise(F.lit(".example.org")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        sid,
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("?utm_source=news&id="), sid))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("?id="), sid, F.lit("&utm_campaign=x")))
        .when(F.col("doc_id") % 4 == 2, F.lit("?b=2&a=1"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (
        text.canonicalize_urls(d.select(url.alias("url")))
        .groupBy("registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("host").alias("n_hosts"),
            F.count_distinct("url_canon").alias("n_canon"),
        )
    )


_URL_ROLLUP_SQL = f"""
WITH u AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END
         || source ||
         CASE WHEN doc_id % 6 = 0 THEN '.Example.CO.UK'
              WHEN doc_id % 6 = 1 THEN '.example.com'
              WHEN doc_id % 6 = 2 THEN '.mysite.GitHub.IO'
              WHEN doc_id % 6 = 3 THEN '.District.K12.CA.US'
              WHEN doc_id % 6 = 4 THEN '.shop.example.COM.CN'
              ELSE '.example.org' END ||
         CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
         '/Docs/' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 4 = 0 THEN '?utm_source=news&id=' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
              WHEN doc_id % 4 = 2 THEN '?b=2&a=1'
              ELSE '' END ||
         CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
), s AS (
  SELECT regexp_replace(regexp_replace(trim(url), '#.*$', ''),
                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS u2
  FROM u
), p AS (
  SELECT u2, regexp_extract(u2, '^([^/?]+)', 1) AS hostport,
         substr(u2, length(regexp_extract(u2, '^([^/?]+)', 1)) + 1) AS rest
  FROM s
), hp AS (
  SELECT regexp_replace(regexp_replace(lower(hostport), ':[0-9]+$', ''),
                        '^www\\.', '') AS host,
         regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
         regexp_replace(rest, '^[^?]*\\??', '') AS query
  FROM p
), c AS (
  SELECT host, path, string_split(host, '.') AS labels,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
           q -> length(q) > 0 AND NOT starts_with(q, 'utm_'))), '&') AS params
  FROM hp
), reg AS (
  SELECT CASE WHEN len(labels) >= 4
                   AND (labels[-3] || '.' || labels[-2] || '.' || labels[-1]) IN
                       ({", ".join("'" + s + "'" for s in text.THREE_LEVEL_SUFFIXES)})
              THEN labels[-4] || '.' || labels[-3] || '.' || labels[-2] || '.' || labels[-1]
              WHEN len(labels) >= 3
                   AND (labels[-2] || '.' || labels[-1]) IN
                       ({", ".join("'" + s + "'" for s in text.TWO_LEVEL_SUFFIXES)})
              THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
              WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
              ELSE host END AS registered_domain,
         host,
         host || path ||
         CASE WHEN length(params) > 0 THEN '?' || params ELSE '' END AS url_canon
  FROM c
)
SELECT registered_domain, count(*) AS n_urls,
       count(DISTINCT host) AS n_hosts,
       count(DISTINCT url_canon) AS n_canon
FROM reg GROUP BY 1
"""


def _q_domain_cap_psl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end PSL -> capping audit (`ops/text.py` canonicalize_urls x
    `ops/corpus.py` domain_cap): synthesize URLs whose hosts exercise
    every public-suffix branch (two-level ICANN co.uk/com.cn, private
    github.io, THREE-level k12.ca.us, generic .org/.com), canonicalize,
    extract registered_domain, then apply the per-domain frequency cap AT
    THE REGISTERED-DOMAIN level — (registered_domain, n_urls, n_kept,
    capped).  The domain assignment is deliberately skewed (half the
    corpus lands on example.org) so BOTH domain_cap branches execute:
    the over-cap window path and the sort-free broadcast-anti
    pass-through.  Proves the round-9 PSL widening flows through capping:
    a suffix-matching regression would re-bucket hosts, shift the counts,
    and hash-fail here.  The oracle replays URL synthesis, the canon
    chain, the suffix CASE (same module constants), and the md5-ordered
    cap window."""
    d = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.when(F.col("doc_id") % 10 == 0, F.lit(".Example.CO.UK"))
        .when(F.col("doc_id") % 10 == 1, F.lit(".example.com"))
        .when(F.col("doc_id") % 10 == 2, F.lit(".mysite.GitHub.IO"))
        .when(F.col("doc_id") % 10 == 3, F.lit(".District.K12.CA.US"))
        .when(F.col("doc_id") % 10 == 4, F.lit(".shop.example.COM.CN"))
        .otherwise(F.lit(".example.org")),
        F.lit("/d/"),
        sid,
    )
    canon = text.canonicalize_urls(d.select(F.col("doc_id"), url.alias("url")))
    kept = corpus.domain_cap(
        canon, "registered_domain", cap=_DCAP_AUDIT_CAP, id_col="doc_id"
    )
    tot = canon.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_urls")
    )
    kc = kept.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    return tot.join(kc, "registered_domain").select(
        "registered_domain",
        "n_urls",
        "n_kept",
        (F.col("n_urls") > F.col("n_kept")).alias("capped"),
    )


_DCAP_AUDIT_CAP = 100


def _domain_cap_psl_audit_oracle_sql() -> str:
    two = ", ".join("'" + s + "'" for s in text.TWO_LEVEL_SUFFIXES)
    three = ", ".join("'" + s + "'" for s in text.THREE_LEVEL_SUFFIXES)
    return f"""
WITH u AS (
  SELECT doc_id, 'https://' || source ||
         CASE WHEN doc_id % 10 = 0 THEN '.Example.CO.UK'
              WHEN doc_id % 10 = 1 THEN '.example.com'
              WHEN doc_id % 10 = 2 THEN '.mysite.GitHub.IO'
              WHEN doc_id % 10 = 3 THEN '.District.K12.CA.US'
              WHEN doc_id % 10 = 4 THEN '.shop.example.COM.CN'
              ELSE '.example.org' END ||
         '/d/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), s AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(trim(url), '#.*$', ''),
                        '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS u2
  FROM u
), hp AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(
           lower(regexp_extract(u2, '^([^/?]+)', 1)), ':[0-9]+$', ''),
           '^www\\.', '') AS host
  FROM s
), c AS (
  SELECT doc_id, host, string_split(host, '.') AS labels FROM hp
), reg AS (
  SELECT doc_id,
         CASE WHEN len(labels) >= 4
                   AND (labels[-3] || '.' || labels[-2] || '.' || labels[-1]) IN ({three})
              THEN labels[-4] || '.' || labels[-3] || '.' || labels[-2] || '.' || labels[-1]
              WHEN len(labels) >= 3
                   AND (labels[-2] || '.' || labels[-1]) IN ({two})
              THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
              WHEN len(labels) >= 2 THEN labels[-2] || '.' || labels[-1]
              ELSE host END AS registered_domain
  FROM c
), capd AS (
  SELECT doc_id, registered_domain,
         row_number() OVER (PARTITION BY registered_domain
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM reg
), tot AS (
  SELECT registered_domain, count(*) AS n_urls FROM reg GROUP BY 1
), k AS (
  SELECT registered_domain, count(*) AS n_kept FROM capd
  WHERE rk <= {_DCAP_AUDIT_CAP} GROUP BY 1
)
SELECT t.registered_domain, t.n_urls, k.n_kept,
       t.n_urls > k.n_kept AS capped
FROM tot t JOIN k USING (registered_domain)
"""


def _q_band_occupancy(spark, sf_dir):
    """LSH bucket-occupancy guard (`ops/dedup.py` band_occupancy): per
    band the bucket count, the hottest bucket, the singleton fraction,
    and the EXACT candidate-pair mass sum(sz*(sz-1)/2) the LSH self-join
    would generate — the pre-join quadratic-cost meter for the md5
    MinHash engine (16 hashes, 4 bands, 3-gram shingles — the
    minhash_md5_dup_pairs config — num_hashes/bands reuse the
    _SCURVE_HASHES/_SCURVE_BANDS shared constants so the meter, the
    analytic curve, and the empirical curve can never price different
    bandings).  The oracle replays shingling, signatures, banding, and
    both occupancy aggregates."""
    return dedup.band_occupancy(
        _spread_docs(spark, sf_dir),
        num_hashes=_SCURVE_HASHES,
        bands=_SCURVE_BANDS,
        shingle_n=_BOCC_SHINGLE,
    )


_BOCC_SHINGLE = 3


def _band_occupancy_oracle_sql() -> str:
    rpb = _SCURVE_HASHES // _SCURVE_BANDS
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+{_BOCC_SHINGLE - 1}], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - {_BOCC_SHINGLE - 1}, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+{_BOCC_SHINGLE - 1}], ' ')) > 0
), hs AS (
  SELECT id, hi, min(substr(md5(hi || ':' || shingle), 1, 16)) AS h
  FROM sh, UNNEST(generate_series(0, {_SCURVE_HASHES - 1})) AS t(hi)
  GROUP BY id, hi
), sig AS (
  SELECT id, list(h ORDER BY hi) AS hl FROM hs GROUP BY id
), bands AS (
  SELECT id, bi, md5(array_to_string(hl[bi*{rpb}+1 : bi*{rpb}+{rpb}], '|')) AS bucket
  FROM sig, UNNEST(generate_series(0, {_SCURVE_BANDS - 1})) AS t(bi)
), occ AS (
  SELECT bi AS band, bucket, count(*) AS sz FROM bands GROUP BY 1, 2
)
SELECT band, count(*) AS n_buckets,
       CAST(max(sz) AS BIGINT) AS max_bucket,
       CAST(round(CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)
                       AS DECIMAL(18,12)), 6) AS DOUBLE) AS singleton_frac,
       CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS n_candidate_pairs
FROM occ GROUP BY 1
"""


def _q_token_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level rolling-window exact-substring dedup (`ops/dedup.py`
    token_window_dup_coverage, k=8): per doc, the count/fraction of
    8-token windows shared verbatim with another document plus the
    longest consecutive duplicated run (a shared-substring length lower
    bound — the tractable distributed slice of suffix-array dedup).  The
    oracle replays window generation from the same split array, the
    min!=max shared flag, and the gaps-and-islands run length."""
    return dedup.token_window_dup_coverage(_spread_docs(spark, sf_dir), k=8)


_TOKEN_WINDOW_DEDUP_SQL = """
WITH ws AS (
  SELECT doc_id AS id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> length(w) > 0) AS l
  FROM documents
), pos AS (
  SELECT id, t.i AS i,
         md5(array_to_string(l[t.i:t.i + 7], ' ')) AS h
  FROM ws, UNNEST(generate_series(1, greatest(len(l) - 7, 1))) AS t(i)
), marked AS (
  SELECT id, i,
         (min(id) OVER (PARTITION BY h) != max(id) OVER (PARTITION BY h)) AS rep
  FROM pos
), isl AS (
  SELECT id, i, i - row_number() OVER (PARTITION BY id ORDER BY i) AS g
  FROM marked WHERE rep
), runs AS (
  SELECT id, max(rl) AS max_run
  FROM (SELECT id, g, count(*) AS rl FROM isl GROUP BY id, g) GROUP BY id
)
SELECT m.id AS doc_id, count(*) AS n_windows,
       CAST(sum(CASE WHEN m.rep THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       CAST(round(CAST(sum(CASE WHEN m.rep THEN 1 ELSE 0 END) / count(*)
                       AS DECIMAL(18,12)), 4) AS DOUBLE) AS dup_frac,
       CAST(coalesce(max(r.max_run), 0) AS BIGINT) AS max_dup_run
FROM marked m LEFT JOIN runs r ON m.id = r.id
GROUP BY m.id
"""


def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer cost profile (`ops/text.py`
    tokenizer_fertility): bytes/chars/whitespace-token/BPE-proxy-token
    sums plus bytes_per_token, chars_per_token, and fertility — the
    token-denominated budgeting stats a mixture planner needs before any
    real tokenizer pass.  The oracle replays the ceil(len/4) subword
    charge per word over the same split."""
    return text.tokenizer_fertility(
        read_table(spark, sf_dir, "documents"), "source", "text"
    )


_TOKENIZER_FERTILITY_SQL = f"""
WITH w AS (
  SELECT source, coalesce(text, '') AS t,
         list_filter(string_split(coalesce(text, ''), ' '),
                     x -> length(x) > 0) AS ws
  FROM documents
), agg AS (
  SELECT source AS grp, count(*) AS n_docs,
         CAST(sum(strlen(t)) AS BIGINT) AS n_bytes,
         CAST(sum(length(t)) AS BIGINT) AS n_chars,
         CAST(sum(len(ws)) AS BIGINT) AS n_ws_tokens,
         CAST(sum(coalesce(list_sum(list_transform(ws,
              x -> CAST(ceil(length(x) / {float(text.BPE_CHARS_PER_TOKEN)}) AS BIGINT))), 0))
              AS BIGINT) AS n_bpe_tokens
  FROM w GROUP BY 1
)
SELECT grp, n_docs, n_bytes, n_chars, n_ws_tokens, n_bpe_tokens,
       CAST(round(CAST(n_bytes / n_bpe_tokens AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS bytes_per_token,
       CAST(round(CAST(n_chars / n_bpe_tokens AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS chars_per_token,
       CAST(round(CAST(n_bpe_tokens / n_ws_tokens
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS fertility
FROM agg
"""


def _q_topic_share_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-mixture balance over embedding clusters (`ops/similarity.py`
    topic_shares, nlist=16): per coarse cluster, count, corpus share,
    balance ratio (share x k; 1.0 = even), and share rank — the
    semantic counterpart of source-level Gini concentration.  The oracle
    replays the md5-sampled literal centroids and the row-local argmax
    cosine assignment (the semantic_dedup quantizer), then the k-row
    rollup."""
    return similarity.topic_shares(
        _spread_embs(spark, sf_dir), nlist=_TOPIC_SHARE_NLIST
    )


# single source of truth for the query AND its oracle (round-8 advice: the
# oracle hardcoded 16 while the op took a parameter)
_TOPIC_SHARE_NLIST = 16

_TOPIC_SHARE_SQL = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         embedding AS cvec
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_TOPIC_SHARE_NLIST}
), scored AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS csim
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM scored) WHERE rk = 1
), counts AS (
  SELECT cluster, count(*) AS n_vecs FROM assigned GROUP BY 1
), tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM counts)
SELECT cluster, n_vecs,
       CAST(round(CAST(n_vecs / n_total AS DECIMAL(18,12)), 6) AS DOUBLE) AS share,
       CAST(round(CAST(n_vecs * {_TOPIC_SHARE_NLIST} / n_total AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS balance_ratio,
       CAST(row_number() OVER (ORDER BY n_vecs DESC, cluster) AS INT) AS share_rank
FROM counts, tot
"""

def _q_top_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus memorization audit (`ops/dedup.py` top_repeated_substrings,
    k=8, top 20): the most-repeated cross-document 8-token windows with
    occurrence and doc counts — the ranked WHAT-is-duplicated report
    complementing `q:token_window_dedup_docs`'s per-doc coverage.  The
    oracle replays the fingerprint aggregate, the (count desc,
    fingerprint) top-k cut, and the exemplar-based gram reconstruction."""
    return dedup.top_repeated_substrings(_spread_docs(spark, sf_dir), k=8, top=20)


_TOP_REPEATED_SQL = """
WITH ws AS (
  SELECT doc_id AS id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> length(w) > 0) AS l
  FROM documents
), pos AS (
  SELECT id, t.i AS i, md5(array_to_string(l[t.i:t.i + 7], ' ')) AS h
  FROM ws, UNNEST(generate_series(1, greatest(len(l) - 7, 1))) AS t(i)
), agg AS (
  SELECT h, count(*) AS n_occurrences, count(DISTINCT id) AS n_docs,
         min(id) AS eid
  FROM pos GROUP BY h HAVING count(DISTINCT id) >= 2
), top AS (
  SELECT * FROM agg ORDER BY n_occurrences DESC, h LIMIT 20
), ex AS (
  SELECT t.h, t.n_occurrences, t.n_docs, t.eid, min(p.i) AS ei
  FROM top t JOIN pos p ON p.h = t.h AND p.id = t.eid
  GROUP BY 1, 2, 3, 4
)
SELECT array_to_string(w.l[ex.ei:ex.ei + 7], ' ') AS gram,
       ex.n_occurrences, ex.n_docs
FROM ex JOIN ws w ON w.id = ex.eid
"""


def _q_syndication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplication matrix (`ops/dedup.py`
    cross_source_duplication) with a planted syndication feed: every
    7th document re-published under source 'mirror' — the query must
    report each (mirror, src*) pair's shared distinct contents and both
    relative shares.  The oracle replays the distinct (digest, source)
    reduction and the bounded digest self-join."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    mirror = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    return dedup.cross_source_duplication(docs.unionByName(mirror))


_SYNDICATION_SQL = """
WITH all_docs AS (
  SELECT text, source FROM documents
  UNION ALL
  SELECT text, 'mirror' FROM documents WHERE doc_id % 7 = 0
), ds AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS d, source AS src FROM all_docs
), tot AS (SELECT src, count(*) AS n FROM ds GROUP BY 1),
p AS (
  SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_shared
  FROM ds a JOIN ds b ON a.d = b.d AND a.src < b.src GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       CAST(round(CAST(n_shared / ta.n AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS share_of_a,
       CAST(round(CAST(n_shared / tb.n AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS share_of_b
FROM p JOIN tot ta ON p.source_a = ta.src JOIN tot tb ON p.source_b = tb.src
"""


def _q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency slope (`ops/text.py` zipf_slope,
    top 100 terms): OLS of ln(freq) on ln(rank) — the vocabulary-shape
    sentinel beside token_entropy.  The oracle replays the identical
    (count desc, term) ranking and the closed-form OLS."""
    return text.zipf_slope(
        read_table(spark, sf_dir, "documents"), "source", "text", top_n=100
    )


_ZIPF_SLOPE_SQL = """
WITH toks AS (
  SELECT source AS grp, t.w AS term
  FROM (SELECT source, string_split(coalesce(text, ''), ' ') AS ws
        FROM documents), UNNEST(ws) AS t(w)
  WHERE length(t.w) > 0
), c AS (
  SELECT grp, term, count(*) AS c FROM toks GROUP BY 1, 2
), r AS (
  SELECT grp, c,
         row_number() OVER (PARTITION BY grp ORDER BY c DESC, term) AS r
  FROM c
), xy AS (
  SELECT grp, ln(r) AS x, ln(c) AS y FROM r WHERE r <= 100
)
SELECT grp, count(*) AS n_terms,
       CAST(round(CAST(
         (count(*) * sum(x * y) - sum(x) * sum(y))
         / nullif(count(*) * sum(x * x) - sum(x) * sum(x), 0)
         AS DECIMAL(18,10)), 4) AS DOUBLE) AS zipf_slope
FROM xy GROUP BY grp
"""

def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (`ops/text.py` lang_confusion):
    labeled `documents.lang` vs the stopword-heuristic prediction, with
    per-truth-row shares — the eval-governance view of the classifier
    behind every language routing/filter decision.  The prediction is
    computed in the same projection as the truth (no self-join); the
    oracle reuses the lang_id replay as a CTE."""
    return text.lang_confusion(read_table(spark, sf_dir, "documents"))


def _lang_confusion_oracle_sql() -> str:
    return f"""
WITH pred AS ({_lang_id_oracle_sql()})
SELECT d.lang AS lang_true, p.lang_pred, count(*) AS n,
       CAST(round(CAST(count(*) / sum(count(*)) OVER (PARTITION BY d.lang)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS row_frac
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""


def _q_dedup_loss_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship accounting (`ops/dedup.py` dedup_loss_by_source)
    with the planted 'mirror' syndication feed (every 7th document
    re-published under higher ids): the mirror must show loss_frac 1.0
    with everything lost-to-other, while original sources lose nothing —
    the who-pays-for-dedup complement of `q:syndication_matrix`.  The
    oracle replays the keep-lowest-id winner window and both loss
    splits."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    mirror = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    return dedup.dedup_loss_by_source(docs.unionByName(mirror))


_DEDUP_LOSS_SQL = """
WITH all_docs AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, 'mirror' FROM documents WHERE doc_id % 7 = 0
), w AS (
  SELECT source,
         (doc_id = first_value(doc_id) OVER
            (PARTITION BY md5(coalesce(text, '')) ORDER BY doc_id)) AS kept,
         (first_value(source) OVER
            (PARTITION BY md5(coalesce(text, '')) ORDER BY doc_id)
          != source) AS ext
  FROM all_docs
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN NOT kept AND ext THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lost_to_other,
       CAST(round(CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) / count(*)
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS loss_frac
FROM w GROUP BY 1
"""


