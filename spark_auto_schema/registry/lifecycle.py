"""Corpus lifecycle + batch inference: snapshots, SCD2, incremental dedup, governance.

Mechanically split from __spark_entry__.py (round 11); no semantic change.
Assembled by __spark_entry__.queries() / oracle_sql() — the single driver contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from spark_auto_schema.ops import corpus
from spark_auto_schema.ops import dedup
from spark_auto_schema.io import read_table
from spark_auto_schema.ops import scoring
from spark_auto_schema.ops._tokens import _words
from spark_auto_schema.registry.extensions import _spread_docs, _words_sql

# ---------------------------------------------------------------------------
# corpus lifecycle + batch inference (round 3 additions)
# ---------------------------------------------------------------------------


def _q_profile_docs(spark, sf_dir):
    """Per-column data-quality profile of documents in ONE scan (the same
    partial->final 1-row aggregate shape as the inference flagship), then a
    stack unpivot; the oracle is a per-column UNION ALL over five scans —
    DuckDB pays five passes for what Spark does in one."""
    return corpus.profile_table(read_table(spark, sf_dir, "documents"))


_PROFILE_DOCS_SQL = " UNION ALL ".join(
    f"""
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents"""
    for c in ["doc_id", "text", "lang", "source", "n_chars"]
)


def _corpus_v2(docs):
    """Deterministic synthetic next corpus snapshot: drop doc_id%17==3,
    rewrite text for doc_id%13==1, add fresh ids for doc_id%29==5."""
    kept = docs.where(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 1, F.concat(F.col("text"), F.lit(" vNEXT"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where(F.col("doc_id") % 29 == 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    return kept.unionByName(added)


def _q_corpus_diff(spark, sf_dir):
    """Snapshot diff old vs synthetic v2: ADDED/REMOVED/CHANGED rows only.
    Data-level sibling of schema_diff — same full-outer-join + CASE shape,
    on md5 content fingerprints (the join moves 32-byte digests)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return corpus.corpus_diff(docs, _corpus_v2(docs), fingerprint_cols=["text"])


_CORPUS_DIFF_SQL = """
WITH old AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 1 THEN md5(text || ' vNEXT') ELSE md5(text) END AS new_fp
  FROM documents WHERE doc_id % 17 != 3
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, md5('new ' || text) AS new_fp
  FROM documents WHERE doc_id % 29 = 5
)
SELECT doc_id,
       CASE WHEN old_fp IS NULL THEN 'ADDED'
            WHEN new_fp IS NULL THEN 'REMOVED'
            WHEN old_fp != new_fp THEN 'CHANGED'
            ELSE 'UNCHANGED' END AS status,
       old_fp, new_fp
FROM old FULL OUTER JOIN v2 USING (doc_id)
WHERE (CASE WHEN old_fp IS NULL THEN 'ADDED'
            WHEN new_fp IS NULL THEN 'REMOVED'
            WHEN old_fp != new_fp THEN 'CHANGED'
            ELSE 'UNCHANGED' END) != 'UNCHANGED'
"""


def _q_epoch_shuffle(spark, sf_dir):
    """Deterministic sharded epoch shuffle: (doc_id, shard, pos_in_shard),
    a pure function of (seed, doc_id).  The row_number window partitions BY
    SHARD (never global — plan-asserted no SinglePartition in tests); the
    oracle replays shard assignment via hex-literal cast and the identical
    in-shard ordering."""
    out = corpus.epoch_shuffle(
        read_table(spark, sf_dir, "documents"), seed=7, num_shards=16
    )
    return out.select(
        "doc_id", "shard", F.col("pos_in_shard").cast("long").alias("pos_in_shard")
    )


_EPOCH_SHUFFLE_SQL = """
WITH h AS (
  SELECT doc_id,
         md5('7:' || CAST(doc_id AS VARCHAR)) AS hx,
         CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 16 AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT)
         AS pos_in_shard
FROM h
"""


def _q_mix_weights(spark, sf_dir):
    """Temperature (alpha=0.7) domain mixing weights over sources; floor of
    a 6-decimal pre-round keeps target_docs stable across engines whose
    pow() differs in the last ulp."""
    return corpus.mix_weights(
        read_table(spark, sf_dir, "documents"), "source", alpha=0.7, budget=10000
    )


_MIX_WEIGHTS_SQL = """
WITH c AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), p AS (
  SELECT domain, n_docs, pow(CAST(n_docs AS DOUBLE), 0.7) AS pw FROM c
), z AS (SELECT sum(pw) AS z FROM p)
SELECT domain, n_docs, round(pw / z, 4) AS weight,
       CAST(floor(round(10000.0 * pw / z, 6)) AS BIGINT) AS target_docs
FROM p, z
"""


def _q_materialize_mix(spark, sf_dir):
    """mix_weights -> physical corpus: every domain emitted exactly
    target_docs times (full copies + md5-hash-ranked remainder).  The
    oracle replays the temperature weights, the per-domain hash rank, and
    the generate_series explode."""
    docs = read_table(spark, sf_dir, "documents")
    targets = corpus.mix_weights(docs, "source", alpha=0.7, budget=10000)
    return corpus.materialize_mix(docs, targets, domain_col="source")


_MATERIALIZE_MIX_SQL = """
WITH c AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), p AS (
  SELECT domain, n_docs, pow(CAST(n_docs AS DOUBLE), 0.7) AS pw FROM c
), z AS (SELECT sum(pw) AS z FROM p),
t AS (
  SELECT domain, CAST(floor(round(10000.0 * pw / z, 6)) AS BIGINT) AS tgt
  FROM p, z
), r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
), j AS (
  SELECT doc_id, source, (tgt // n) + CASE WHEN rk <= tgt % n THEN 1 ELSE 0 END
           AS copies
  FROM r JOIN t ON source = domain
)
SELECT doc_id, source, copy_idx
FROM j, UNNEST(generate_series(0, copies - 1)) AS u(copy_idx)
WHERE copies > 0
"""


def _q_select_token_budget(spark, sf_dir):
    """Greedy highest-score-first selection under a token budget WITHOUT a
    global sort: integer score buckets, a bucket-table running sum, whole
    buckets kept via semi-join, and a bucket-local cumsum only inside the
    one boundary bucket.  Score = alpha ratio, tokens = whitespace count;
    the oracle replays buckets, the bucket cumsum, and the boundary fill."""
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("long").alias("n_tokens"),
        (
            F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("score"),
    )
    return corpus.select_token_budget(scored, budget_tokens=8000)


_SELECT_TOKEN_BUDGET_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(len({_words_sql()}) AS BIGINT) AS n_tokens,
         CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                    / greatest(length(text), 1) * 1000.0 + 0.5) AS BIGINT)
           AS bucket
  FROM documents
), t AS (
  SELECT bucket, sum(n_tokens) AS bt FROM d GROUP BY 1
), c AS (
  SELECT bucket, bt,
         sum(bt) OVER (ORDER BY bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
), fullb AS (SELECT bucket FROM c WHERE cum <= 8000),
bnd AS (
  SELECT bucket, 8000 - (cum - bt) AS rem FROM c
  WHERE cum - bt < 8000 AND cum > 8000
), kb AS (
  SELECT d.doc_id, d.bucket, d.n_tokens, rem,
         sum(d.n_tokens) OVER (
           PARTITION BY d.bucket
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM d JOIN bnd USING (bucket)
)
SELECT doc_id, bucket, n_tokens FROM d WHERE bucket IN (SELECT bucket FROM fullb)
UNION ALL
SELECT doc_id, bucket, n_tokens FROM kb WHERE run <= rem
"""


def _q_segment_dedup(spark, sf_dir):
    """Sub-document segment dedup: 8-word segments, global first-occurrence
    wins, surviving text reassembled in order.  The oracle replays segment
    slicing, the md5-keyed first-occurrence window, and the ordered
    string_agg reassembly."""
    return dedup.segment_dedup(
        read_table(spark, sf_dir, "documents"), seg_words=8
    )


_SEGMENT_DEDUP_SQL = f"""
WITH segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(w[(i * 8 + 1):(i * 8 + 8)], ' ') AS seg
  FROM (SELECT doc_id, {_words_sql()} AS w FROM documents),
       UNNEST(generate_series(0, greatest(CAST(ceil(len(w) / 8.0) AS INT) - 1, 0)))
         AS t(i)
), marked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) = 1
           AS keep
  FROM segs
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '')
         AS clean_text
FROM marked GROUP BY doc_id
"""


def _q_ngram_novelty(spark, sf_dir):
    """Per-document incremental novelty: fraction of distinct 3-gram
    shingles whose corpus-wide first occurrence (min doc_id) is this
    document."""
    # single-row-group input: spread before the shingle explode (2.0 -> 0.9 s)
    return dedup.ngram_novelty(_spread_docs(spark, sf_dir), n=3)


_NGRAM_NOVELTY_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
), firsts AS (SELECT shingle, min(doc_id) AS first_id FROM sh GROUP BY 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS novelty
FROM sh JOIN firsts USING (shingle) GROUP BY doc_id
"""


def _q_classifier_scores(spark, sf_dir):
    """Arrow batch inference: JVM-side featurize -> mapInPandas vectorized
    logistic scoring.  The stand-in model is closed-form, so the oracle
    replays features, weights, and sigmoid exactly — verifying the whole
    Arrow path value-for-value."""
    return scoring.classifier_score(read_table(spark, sf_dir, "documents"))


# ops/scoring.featurize and classifier_score's logistic model, replayed over
# a relation with doc_id, text and ws (the text's words): shared by every
# oracle of a classifier_score query
_FEATURES_SQL = """ln(len(ws) + 1.0) AS log_tokens,
         length(replace(text, ' ', '')) / len(ws) AS mean_word_len,
         len(list_filter(ws, w -> lower(w) IN
             ('the','a','of','and','to','in','is','on','for','with')))
           / len(ws) AS stopword_ratio,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text)
           AS alpha_ratio"""
_SCORE_SQL = """round(1.0 / (1.0 + exp(-(-1.0 + 0.35 * log_tokens
                                + 0.12 * mean_word_len
                                + 1.8 * stopword_ratio
                                + 0.9 * alpha_ratio))), 4)"""

_CLASSIFIER_SCORES_SQL = f"""
WITH d AS (SELECT doc_id, text, {_words_sql()} AS ws FROM documents),
f AS (SELECT doc_id, {_FEATURES_SQL} FROM d)
SELECT doc_id, {_SCORE_SQL} AS score FROM f
"""


