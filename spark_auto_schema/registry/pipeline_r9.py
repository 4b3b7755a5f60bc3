"""Round-9 operator cohort: PII density, recall panels, streaming monitors, sweeps.

Mechanically split from __spark_entry__.py (round 11); no semantic change.
Assembled by __spark_entry__.queries() / oracle_sql() — the single driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import SparkSession
from spark_auto_schema.ops import corpus
from spark_auto_schema.ops import dedup
from spark_auto_schema.io import read_table
from spark_auto_schema.ops import sampling
from spark_auto_schema.ops import similarity
from spark_auto_schema.ops import text
from spark_auto_schema.registry.extensions import (
    _spread_docs,
    _spread_embs,
    _words_sql,
)
from spark_auto_schema.registry.analytics import (
    _STREAM_SEQ,
    _dot_sql,
    _events_stream_dir,
)

# ---------------------------------------------------------------------------
# round-9 operators
# ---------------------------------------------------------------------------


def _q_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure rollup (`ops/text.py` pii_density): plant
    deterministic synthetic PII — an email on every 3rd document, a
    formatted phone number on every 5th — then roll match counts,
    documents-with-any-PII, and matches-per-1,000-chars up to source
    granularity.  The oracle rebuilds the same decorated text and replays
    both regexes via regexp_extract_all."""
    d = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    t = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), sid, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" call +1 (555) 010-"), F.lpad(sid, 4, "0")),
        ).otherwise(F.lit("")),
    )
    return text.pii_density(d.select(F.col("source"), t.alias("text")))


_PII_DENSITY_SQL = f"""
WITH dec AS (
  SELECT source,
         coalesce(text, '') ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN ' call +1 (555) 010-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
              ELSE '' END AS t
  FROM documents
), m AS (
  SELECT source AS grp,
         len(regexp_extract_all(t, '{text.EMAIL_RE}')) AS e,
         len(regexp_extract_all(t, '{text.PHONE_RE}')) AS p,
         length(t) AS c
  FROM dec
)
SELECT grp, count(*) AS n_docs,
       CAST(sum(CASE WHEN e + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       CAST(sum(e) AS BIGINT) AS n_emails,
       CAST(sum(p) AS BIGINT) AS n_phones,
       CAST(round(CAST(1000.0 * (sum(e) + sum(p)) / sum(c) AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS pii_per_kchar
FROM m GROUP BY 1
"""


def _q_lang_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-mix drift (`ops/corpus.py` mix_drift): the L1
    distance between each source's within-snapshot language shares,
    snapshots synthesized by the md5 hash split of doc_id (the
    quality_drift_sources convention — id arithmetic is source-determined
    in the testdata).  The categorical complement of lm_kl_sources: KL
    watches the token distribution, this watches the composition the
    mixing weights are computed from.  The oracle replays the hash
    split, both count grids, and the share-difference sum."""
    d = read_table(spark, sf_dir, "documents")
    half = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(2),
    )
    return corpus.mix_drift(
        d.where(half == 0), d.where(half == 1), "source", "lang"
    )


_LANG_MIX_DRIFT_SQL = """
WITH h AS (
  SELECT source AS grp, lang AS cat,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
           AS half
  FROM documents
), c AS (
  SELECT grp, cat,
         count(*) FILTER (WHERE half = 0) AS ca,
         count(*) FILTER (WHERE half = 1) AS cb
  FROM h GROUP BY 1, 2
), t AS (
  SELECT grp, sum(ca) AS na, sum(cb) AS nb FROM c GROUP BY 1
)
SELECT c.grp, CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
       count(*) AS n_cats,
       CAST(round(CAST(sum(abs(c.ca * 1.0 / t.na - c.cb * 1.0 / t.nb))
                       AS DECIMAL(18,12)), 6) AS DOUBLE) AS l1_distance
FROM c JOIN t ON c.grp = t.grp
WHERE t.na > 0 AND t.nb > 0
GROUP BY c.grp, t.na, t.nb
"""


def _q_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction effectiveness audit (`ops/text.py` redaction_audit): the
    same synthetic PII decoration pii_density_sources plants (email on
    every 3rd doc, formatted phone on every 5th), scrubbed by
    redact_pii's replacement chain and re-counted — per source the
    before/after match totals, the all-clean verdict, and residual
    matches per 1,000 chars.  The oracle rebuilds the decoration and
    replays redact + both recounts regex-for-regex."""
    d = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    t = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), sid, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" call +1 (555) 010-"), F.lpad(sid, 4, "0")),
        ).otherwise(F.lit("")),
    )
    return text.redaction_audit(d.select(F.col("source"), t.alias("text")))


_REDACTION_AUDIT_SQL = f"""
WITH dec AS (
  SELECT source,
         coalesce(text, '') ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN ' call +1 (555) 010-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
              ELSE '' END AS t
  FROM documents
), r AS (
  SELECT source AS grp,
         len(regexp_extract_all(t, '{text.EMAIL_RE}'))
           + len(regexp_extract_all(t, '{text.PHONE_RE}')) AS b,
         regexp_replace(regexp_replace(t, '{text.EMAIL_RE}', '<EMAIL>', 'g'),
                        '{text.PHONE_RE}', '<PHONE>', 'g') AS red
  FROM dec
), m AS (
  SELECT grp, b,
         len(regexp_extract_all(red, '{text.EMAIL_RE}'))
           + len(regexp_extract_all(red, '{text.PHONE_RE}')) AS a,
         length(red) AS c
  FROM r
)
SELECT grp, count(*) AS n_docs,
       CAST(sum(b) AS BIGINT) AS n_matches_before,
       CAST(sum(a) AS BIGINT) AS n_matches_after,
       sum(a) = 0 AS all_clean,
       CAST(round(CAST(1000.0 * sum(a) / sum(c) AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS residual_per_kchar
FROM m GROUP BY 1
"""


def _q_lm_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source smoothed unigram-LM KL divergence vs the corpus
    (`ops/text.py` lm_kl_divergence): the corpus-shape drift sentinel.
    The oracle replays the identical seen/unseen closed-form split — the
    full |sources| x |vocab| sum reduced to per-source scalars — from the
    same (group, term) count frame."""
    return text.lm_kl_divergence(read_table(spark, sf_dir, "documents"))


_LM_KL_SQL = """
WITH tk AS (
  SELECT source AS grp, w
  FROM (SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS w
        FROM documents)
  WHERE length(w) > 0
), sc AS (
  SELECT grp, w, count(*) AS cs FROM tk GROUP BY 1, 2
), cc AS (
  SELECT w, CAST(sum(cs) AS BIGINT) AS c FROM sc GROUP BY 1
), scal AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n_corpus, CAST(count(*) AS DOUBLE) AS v,
         sum(ln(c + 1)) AS l_corpus
  FROM cc
), per AS (
  SELECT grp, CAST(sum(cs) AS DOUBLE) AS ns, CAST(count(*) AS DOUBLE) AS vs,
         sum((cs + 1) * ln(cs + 1)) AS a,
         sum((cs + 1) * ln(c + 1)) AS cterm,
         sum(ln(c + 1)) AS e
  FROM sc JOIN cc USING (w) GROUP BY 1
)
SELECT grp, CAST(ns AS BIGINT) AS n_tokens, CAST(vs AS BIGINT) AS vocab_seen,
       CAST(round(CAST(
         (a - (ns + vs) * ln(ns + v) - cterm + (ns + vs) * ln(n_corpus + v))
           / (ns + v)
         + (-(v - vs) * ln(ns + v)
            - ((l_corpus - v * ln(n_corpus + v)) - (e - vs * ln(n_corpus + v))))
           / (ns + v)
       AS DECIMAL(18,10)), 4) AS DOUBLE) AS kl_nats
FROM per, scal
"""


def _q_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval harness (`ops/similarity.py` retrieval_recall_eval):
    recall@10 of the IVF path (nlist=16, nprobe=5) vs brute-force exact
    cosine for an 8-query panel, one distributed job — probe lists ranked
    in-plan, no per-query driver loop.  The oracle replays the exact
    truth, the md5-sampled centroids, the argmax assignment, the ranked
    probe lists, and the per-query rerank."""
    return similarity.retrieval_recall_eval(
        _spread_embs(spark, sf_dir),
        query_ids=list(range(_RECALL_PANEL)),
        k=_RECALL_K,
        nlist=_RECALL_NLIST,
        nprobe=_RECALL_NPROBE,
    )


# single source of truth for the query AND its oracle (the topic_shares
# convention): a one-sided tuning edit becomes structurally impossible
_RECALL_PANEL, _RECALL_K, _RECALL_NLIST, _RECALL_NPROBE = 8, 10, 16, 5


def _cos_sql(a: str, b: str) -> str:
    """Cosine-similarity SQL snippet between two embedding columns."""
    d = f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    na = f"sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    nb = f"sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))"
    return f"{d} / ({na} * {nb})"


_RETRIEVAL_RECALL_SQL = f"""
WITH qs AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id < {_RECALL_PANEL}
), sims AS (
  SELECT q.qid, e.vec_id, {_cos_sql("e.embedding", "q.qvec")} AS sim
  FROM embeddings e, qs q WHERE e.vec_id != q.qid
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
    FROM sims) WHERE rk <= {_RECALL_K}
), cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_RECALL_NLIST}
), cscore AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_cos_sql("e.embedding", "c.cvec")} AS csim
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM cscore) WHERE rk = 1
), probes AS (
  SELECT qid, qvec, cid FROM (
    SELECT q.qid, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {_cos_sql("q.qvec", "c.cvec")} DESC, c.cid) AS rk
    FROM qs q, cents c) WHERE rk <= {_RECALL_NPROBE}
), approx AS (
  SELECT qid, vec_id FROM (
    SELECT p.qid, a.vec_id,
           row_number() OVER (PARTITION BY p.qid
             ORDER BY {_cos_sql("a.embedding", "p.qvec")} DESC, a.vec_id) AS rk
    FROM assigned a JOIN probes p ON a.cid = p.cid
    WHERE a.vec_id != p.qid) WHERE rk <= {_RECALL_K}
), hits AS (
  SELECT e.qid, count(*) AS n FROM exact e
  JOIN approx x ON e.qid = x.qid AND e.vec_id = x.vec_id GROUP BY 1
)
SELECT q.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(round(CAST(coalesce(h.n, 0) / {float(_RECALL_K)} AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS recall_at_k
FROM qs q LEFT JOIN hits h ON q.qid = h.qid
"""


def _q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-path retrieval eval (`ops/similarity.py` lsh_recall_eval):
    recall@10 and candidate-set size of the multi-table hyperplane LSH
    path (3 planes, 6 tables — ann_lsh_topk's production config) vs
    brute-force exact cosine for the same 8-query panel
    retrieval_recall_panel scores the IVF path with.  The hyperplanes
    are seeded driver constants, so the oracle embeds the SAME plane
    literals and replays every signature, the bucket-collision candidate
    sets, both top-k cuts, and the recall."""
    return similarity.lsh_recall_eval(
        _spread_embs(spark, sf_dir),
        query_ids=list(range(_LSHR_PANEL)),
        k=_LSHR_K,
        num_planes=_LSHR_PLANES,
        num_tables=_LSHR_TABLES,
        seed=_LSHR_SEED,
    )


# single source of truth for the query AND its oracle; planes/tables/seed
# deliberately equal ann_lsh_topk's config so this panel measures the
# recall of the EXACT path the production query serves
_LSHR_PANEL, _LSHR_K, _LSHR_PLANES, _LSHR_TABLES, _LSHR_SEED = 8, 10, 3, 6, 42


def _lsh_recall_oracle_sql() -> str:
    """Full DuckDB replay of lsh_recall_eval: plane literals interpolated
    exactly like _ann_lsh_oracle_sql (repr() round-trips doubles; both
    engines sum dot products sequentially, so sign tests agree
    bit-for-bit), then the same exact-truth / bucket-collision /
    rank / recall dataflow."""
    from spark_auto_schema.ops.similarity import _hyperplanes

    tables = [
        _hyperplanes(64, _LSHR_PLANES, _LSHR_SEED + 1000 * t)
        for t in range(_LSHR_TABLES)
    ]
    sig_cols = []
    for t, planes in enumerate(tables):
        bits = " + ".join(
            f"(CASE WHEN {_dot_sql('embedding', p)} > 0 THEN {2**i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        sig_cols.append(f"({bits}) AS sig{t}")
    qsigs = ", ".join(f"sig{t} AS qsig{t}" for t in range(_LSHR_TABLES))
    collide = " OR ".join(f"s.sig{t} = q.qsig{t}" for t in range(_LSHR_TABLES))
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {', '.join(sig_cols)} FROM embeddings
), qs AS (
  SELECT vec_id AS qid, embedding AS qvec, {qsigs}
  FROM sigs WHERE vec_id < {_LSHR_PANEL}
), sims AS (
  SELECT q.qid, s.vec_id, {_cos_sql("s.embedding", "q.qvec")} AS sim
  FROM sigs s, qs q WHERE s.vec_id != q.qid
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
    FROM sims) WHERE rk <= {_LSHR_K}
), cand AS (
  SELECT q.qid, s.vec_id, {_cos_sql("s.embedding", "q.qvec")} AS sim
  FROM sigs s JOIN qs q ON ({collide})
  WHERE s.vec_id != q.qid
), ncand AS (
  SELECT qid, count(*) AS n FROM cand GROUP BY 1
), approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
    FROM cand) WHERE rk <= {_LSHR_K}
), hits AS (
  SELECT e.qid, count(*) AS n FROM exact e
  JOIN approx x ON e.qid = x.qid AND e.vec_id = x.vec_id GROUP BY 1
)
SELECT q.qid, CAST(coalesce(nc.n, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(round(CAST(coalesce(h.n, 0) / {float(_LSHR_K)} AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS recall_at_k
FROM qs q LEFT JOIN ncand nc ON q.qid = nc.qid LEFT JOIN hits h ON q.qid = h.qid
"""


def _q_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-search eval (`ops/similarity.py` quantized_recall_eval):
    recall@10 of asymmetric cosine over the int8-dequantized corpus
    (quantize_embeddings' exact per-dimension code arithmetic) vs float
    exact, same 8-query panel as the IVF and LSH panels — the
    compression member of the retrieval-eval triptych.  The oracle
    replays the per-dimension stats, the half-up code rounding, the
    dequantization, and both ranked sides."""
    return similarity.quantized_recall_eval(
        _spread_embs(spark, sf_dir),
        query_ids=list(range(_RECALL_PANEL)),
        k=_RECALL_K,
        levels=_QREC_LEVELS,
    )


_QREC_LEVELS = 256


def _quantized_recall_oracle_sql() -> str:
    lv = _QREC_LEVELS - 1
    return f"""
WITH ex AS (
  SELECT vec_id, t.i - 1 AS pos, CAST(embedding[t.i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), stats AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM ex GROUP BY 1),
dv AS (
  SELECT vec_id,
         list(CASE WHEN hi > lo
                   THEN lo + CAST(floor((v - lo) / (hi - lo) * {lv} + 0.5) AS INT)
                        / {lv}::DOUBLE * (hi - lo)
                   ELSE lo END ORDER BY pos) AS dvec
  FROM ex JOIN stats USING (pos) GROUP BY vec_id
), qs AS (
  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
  WHERE vec_id < {_RECALL_PANEL}
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {_cos_sql("e.embedding", "q.qvec")} DESC, e.vec_id) AS rk
    FROM embeddings e, qs q WHERE e.vec_id != q.qid) WHERE rk <= {_RECALL_K}
), approx AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, d.vec_id,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {_cos_sql("d.dvec", "q.qvec")} DESC, d.vec_id) AS rk
    FROM dv d, qs q WHERE d.vec_id != q.qid) WHERE rk <= {_RECALL_K}
), hits AS (
  SELECT e.qid, count(*) AS n FROM exact e
  JOIN approx x ON e.qid = x.qid AND e.vec_id = x.vec_id GROUP BY 1
)
SELECT q.qid, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(round(CAST(coalesce(h.n, 0) / {float(_RECALL_K)} AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS recall_at_k
FROM qs q LEFT JOIN hits h ON q.qid = h.qid
"""


def _q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (`ops/sampling.py` dsir_importance_sample,
    Xie et al. 2023): hashed unigram+bigram features (1024 md5 buckets),
    add-one-smoothed target (lang='en') vs raw bucket models, per-doc log
    importance weights, Gumbel top-100 with reproducible md5 uniforms.
    The oracle replays feature hashing, both models, the weight sum, and
    the Gumbel draw constant-for-constant."""
    # spread: the gram explode + 1024-bucket md5 hashing otherwise runs in
    # one scan task (guide §2.5; measured 2.02 -> 1.62 s at sf0.1)
    d = _spread_docs(spark, sf_dir)
    return sampling.dsir_importance_sample(
        d,
        target=F.col("lang") == _DSIR_TARGET_LANG,
        n=_DSIR_N,
        num_buckets=_DSIR_BUCKETS,
    )


_DSIR_TARGET_LANG, _DSIR_N, _DSIR_BUCKETS = "en", 100, 1024


_DSIR_SQL = f"""
WITH ws AS (
  SELECT doc_id AS id, lang,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> length(w) > 0) AS l
  FROM documents
), grams AS (
  SELECT id, lang, l[i] AS f
  FROM ws, UNNEST(generate_series(1, len(l))) AS t(i)
  UNION ALL
  SELECT id, lang, l[i] || ' ' || l[i + 1] AS f
  FROM ws, UNNEST(generate_series(1, len(l) - 1)) AS t(i)
), feats AS (
  SELECT id, coalesce(lang = '{_DSIR_TARGET_LANG}', FALSE) AS is_t,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS} AS b
  FROM grams
), model AS (
  SELECT b, CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         count(*) AS cr
  FROM feats GROUP BY 1
), totals AS (
  SELECT CAST(sum(ct) AS DOUBLE) AS nt, CAST(sum(cr) AS DOUBLE) AS nr
  FROM model
), scored AS (
  SELECT b, ln((ct + 1) / (nt + {_DSIR_BUCKETS})) - ln((cr + 1) / (nr + {_DSIR_BUCKETS})) AS lw
  FROM model, totals
), per_doc AS (
  SELECT id, sum(lw) AS logw
  FROM feats JOIN scored USING (b) GROUP BY 1
), drawn AS (
  SELECT id, logw,
         -ln(-ln((CAST(('0x' || substr(md5('dsir:' || CAST(id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 1.0) / (4294967296.0 + 1.0))) AS g
  FROM per_doc
)
SELECT id AS doc_id,
       CAST(round(CAST(logw AS DECIMAL(18,10)), 4) AS DOUBLE) AS log_weight,
       CAST(round(CAST(logw + g AS DECIMAL(18,10)), 4) AS DOUBLE) AS gumbel_score
FROM drawn
ORDER BY gumbel_score DESC, doc_id LIMIT {_DSIR_N}
"""


def _q_paragraph_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity MinHash near-dedup (`ops/dedup.py`
    paragraph_minhash_pairs): 8-word segments, md5 MinHash (16 hashes, 4
    bands, 3-gram shingles), Jaccard >= 0.8 verify, rolled up to
    cross-document pairs — catches partial-overlap docs whose doc-level
    Jaccard is tiny.  The oracle replays segmentation, shingling,
    signatures, banding, the verify, and the doc rollup md5-for-md5."""
    return dedup.paragraph_minhash_pairs(_spread_docs(spark, sf_dir))


_PARAGRAPH_MINHASH_SQL = f"""
WITH ws AS (
  SELECT doc_id AS did, {_words_sql()} AS w
  FROM documents
), segs AS (
  SELECT CAST(did AS VARCHAR) || ':' || CAST(s AS VARCHAR) AS id,
         array_to_string(w[s*8+1 : s*8+8], ' ') AS seg
  FROM ws, UNNEST(generate_series(0,
         greatest(CAST(ceil(len(w) / 8.0) AS INT) - 1, 0))) AS t(s)
), sh AS (
  SELECT DISTINCT id, array_to_string(sw[i:i+2], ' ') AS shingle
  FROM (SELECT id, string_split(seg, ' ') AS sw FROM segs),
       UNNEST(generate_series(1, greatest(len(sw) - 2, 1))) AS t(i)
  WHERE length(array_to_string(sw[i:i+2], ' ')) > 0
), hs AS (
  SELECT id, hi, min(substr(md5(hi || ':' || shingle), 1, 16)) AS h
  FROM sh, UNNEST(generate_series(0, 15)) AS t(hi)
  GROUP BY id, hi
), sig AS (
  SELECT id, list(h ORDER BY hi) AS hl FROM hs GROUP BY id
), bands AS (
  SELECT id, bi, md5(array_to_string(hl[bi*4+1 : bi*4+4], '|')) AS bucket
  FROM sig, UNNEST(generate_series(0, 3)) AS t(bi)
), cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.bi = y.bi AND x.bucket = y.bucket
  WHERE x.id < y.id
), sizes AS (
  SELECT id, count(*) AS sz FROM sh GROUP BY id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS c
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
), ver AS (
  SELECT id_a, id_b, CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) >= 0.8
), docs_pairs AS (
  -- strip only the trailing ':<digits>' segment suffix, exactly like the
  -- op's rollup — string_split(...)[1] would corrupt string doc ids that
  -- themselves contain ':' (e.g. 'urn:doc:1'), which the op supports
  SELECT CAST(regexp_replace(id_a, ':[0-9]+$', '') AS BIGINT) AS da,
         CAST(regexp_replace(id_b, ':[0-9]+$', '') AS BIGINT) AS db,
         jaccard
  FROM ver
)
SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
       count(*) AS n_seg_pairs, max(jaccard) AS max_jaccard
FROM docs_pairs WHERE da != db GROUP BY 1, 2
"""


def _q_recency_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type recency weighting (`ops/analytics.py`
    recency_weighted_stats, 7-day half-life against the corpus max
    timestamp): the freshness dial for per-domain mixing.  The oracle
    replays the epoch-microsecond ages, the 2^(-age/hl) weights, and all
    three weighted rollups."""
    from spark_auto_schema.ops import analytics

    return analytics.recency_weighted_stats(
        read_table(spark, sf_dir, "events"), half_life_days=_RECENCY_HL_DAYS
    )


_RECENCY_HL_DAYS = 7.0


_RECENCY_WEIGHTS_SQL = f"""
WITH ref AS (SELECT max(epoch_ns(ts) // 1000) AS tmax FROM events),
w AS (
  SELECT event_type AS grp, value AS v,
         pow(2.0, -((tmax - epoch_ns(ts) // 1000) / 86400000000.0)
                  / {_RECENCY_HL_DAYS}) AS wt
  FROM events, ref
)
SELECT grp, count(*) AS n_events,
       CAST(round(CAST(sum(wt) AS DECIMAL(38,12)), 6) AS DOUBLE)
         AS weighted_count,
       CAST(round(CAST(sum(v * wt) / sum(wt) AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS weighted_value,
       CAST(round(CAST(sum(wt) / count(*) AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS effective_fraction
FROM w GROUP BY 1
"""


def _q_streaming_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed novelty-rate monitor (`streaming.py` novelty_stream): the
    stateful first-seen digest stream (keyed on md5(event_type:user_id),
    one emission per novel digest, minimum event time within the batch)
    plus a complete-mode windowed total, joined per hour window into
    (window_start, n_events, n_novel, novelty_rate).  The oracle computes
    first-seen via min(ts) per digest — exactly the semantics the
    stateful operator guarantees."""
    from spark_auto_schema.streaming import (
        novelty_stream,
        read_event_stream,
        run_to_memory,
    )

    n1 = f"__novelty_{next(_STREAM_SEQ)}"
    # NULL event-time rows are dropped INSIDE novelty_stream (its default
    # drop_null_ts=True contract, moved op-level per the round-10 verdict);
    # the windowed-total stream below keeps its own explicit filter and the
    # oracle's d CTE mirrors both, so the twins stay identical under any
    # NULL pattern (latent only because current testdata has no NULL ts).
    # max_files_per_trigger=None: the whole drop backlog in ONE availableNow
    # batch, so the stateful batch-min first_ts equals the oracle's global
    # min(ts) even when the staged table arrives as many part files
    # independent of the windowed-total drain below (separate streaming
    # queries; both sinks read only after both terminate) — start both,
    # await both (guide §2.6: overlap independent jobs)
    q1 = run_to_memory(
        novelty_stream(
            read_event_stream(
                spark, _events_stream_dir(sf_dir), max_files_per_trigger=None
            ),
            ["event_type", "user_id"],
        ),
        n1,
        output_mode="update",
        state_partitions=8,
        wait=False,
    )
    n2 = f"__novelty_tot_{next(_STREAM_SEQ)}"
    tot_stream = (
        read_event_stream(spark, _events_stream_dir(sf_dir))
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    q2 = run_to_memory(
        tot_stream, n2, output_mode="complete", state_partitions=2, wait=False
    )
    q1.awaitTermination()
    q2.awaitTermination()
    novel = (
        spark.table(n1)
        .groupBy(F.date_trunc("hour", "first_ts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    snapped = lambda c: F.round(c.cast("decimal(18,12)"), 6).cast("double")
    return (
        spark.table(n2)
        .join(novel, "window_start", "left")
        .select(
            "window_start",
            "n_events",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            snapped(
                F.coalesce("n_novel", F.lit(0)) / F.col("n_events")
            ).alias("novelty_rate"),
        )
    )


_STREAMING_NOVELTY_SQL = """
WITH d AS (
  SELECT md5(coalesce(event_type, '') || ':' ||
             coalesce(CAST(user_id AS VARCHAR), '')) AS dg, ts
  FROM events WHERE ts IS NOT NULL
), tot AS (
  SELECT date_trunc('hour', ts) AS window_start, count(*) AS n_events
  FROM d GROUP BY 1
), f AS (
  SELECT dg, min(ts) AS first_ts FROM d GROUP BY 1
), nov AS (
  SELECT date_trunc('hour', first_ts) AS ws, count(*) AS n_novel
  FROM f GROUP BY 1
)
SELECT t.window_start, t.n_events,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       CAST(round(CAST(coalesce(n.n_novel, 0) * 1.0 / t.n_events
                       AS DECIMAL(18,12)), 6) AS DOUBLE) AS novelty_rate
FROM tot t LEFT JOIN nov n ON t.window_start = n.ws
"""


def _q_lsh_empirical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH detection curve (`ops/dedup.py`
    lsh_empirical_detection): per 0.05 Jaccard bin, the fraction of
    exact-truth pairs (uncapped n-gram Jaccard >= 0.5) the md5 MinHash
    banding's candidate stage recovered, next to the analytic
    1-(1-s^r)^b at the bin's lower edge — the measured twin of
    lsh_s_curve_contract (16 hashes / 4 bands, the same shared
    constants).  The oracle replays truth, signatures, banding,
    candidates, the integer-exact binning, and both rates."""
    return dedup.lsh_empirical_detection(
        _spread_docs(spark, sf_dir),
        num_hashes=_SCURVE_HASHES,
        bands=_SCURVE_BANDS,
        min_jaccard=_LSH_EMP_MINJ,
        bin_width=_LSH_EMP_BIN,
    )


_LSH_EMP_MINJ, _LSH_EMP_BIN = 0.5, 0.05


def _lsh_empirical_oracle_sql() -> str:
    units = int(round(_LSH_EMP_BIN * 10_000))
    r = _SCURVE_HASHES // _SCURVE_BANDS
    rpb = r
    snap = lambda e: f"CAST(round(CAST({e} AS DECIMAL(18,12)), 6) AS DOUBLE)"
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
), sizes AS (
  SELECT id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id GROUP BY 1, 2
), jac AS (
  SELECT id_a, id_b,
         CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) AS jaccard
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) >= {_LSH_EMP_MINJ}
), hs AS (
  SELECT id, hi, min(substr(md5(hi || ':' || shingle), 1, 16)) AS h
  FROM sh, UNNEST(generate_series(0, {_SCURVE_HASHES - 1})) AS t(hi)
  GROUP BY id, hi
), sig AS (
  SELECT id, list(h ORDER BY hi) AS hl FROM hs GROUP BY id
), bands AS (
  SELECT id, bi, md5(array_to_string(hl[bi*{rpb}+1 : bi*{rpb}+{rpb}], '|')) AS bucket
  FROM sig, UNNEST(generate_series(0, {_SCURVE_BANDS - 1})) AS t(bi)
), cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b, 1 AS det
  FROM bands x JOIN bands y ON x.bi = y.bi AND x.bucket = y.bucket
  WHERE x.id < y.id
), binned AS (
  SELECT CAST(round(jaccard * 10000) AS BIGINT) // {units} AS bin,
         coalesce(cand.det, 0) AS det
  FROM jac LEFT JOIN cand USING (id_a, id_b)
)
SELECT {snap(f"bin * {units} / 10000.0")} AS bin_lo,
       count(*) AS n_truth,
       CAST(sum(det) AS BIGINT) AS n_detected,
       {snap("sum(det) * 1.0 / count(*)")} AS detect_rate,
       {snap(f"1.0 - pow(1.0 - pow(bin * {units} / 10000.0, {float(r)}), {float(_SCURVE_BANDS)})")} AS p_analytic
FROM binned GROUP BY bin
"""


def _q_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter contract (`ops/dedup.py` lsh_s_curve): the analytic
    detection curve 1-(1-s^r)^b for the (16 hashes, 4 bands) config the
    md5 MinHash engine runs, plus the standard threshold s* =
    (1/b)^(1/r) (where p = 1-(1-1/b)^b, the steep region).  The
    oracle replays the closed form on the same grid — a banding change
    anywhere in the engine diffs here first."""
    return dedup.lsh_s_curve(
        spark, num_hashes=_SCURVE_HASHES, bands=_SCURVE_BANDS
    )


_SCURVE_HASHES, _SCURVE_BANDS, _SCURVE_GRID = 16, 4, 20


_LSH_S_CURVE_SQL = f"""
SELECT CAST(round(CAST(i / {float(_SCURVE_GRID)} AS DECIMAL(18,12)), 6) AS DOUBLE) AS s,
       CAST(round(CAST(1 - pow(1 - pow(i / {float(_SCURVE_GRID)},
                                       {float(_SCURVE_HASHES // _SCURVE_BANDS)}),
                               {float(_SCURVE_BANDS)})
                       AS DECIMAL(18,12)), 6) AS DOUBLE) AS p_detect,
       CAST(round(CAST(pow({1.0 / _SCURVE_BANDS}, {1.0 / (_SCURVE_HASHES // _SCURVE_BANDS)})
                       AS DECIMAL(18,12)), 6) AS DOUBLE) AS s_star,
       CAST({_SCURVE_HASHES // _SCURVE_BANDS} AS INT) AS band_rows,
       CAST({_SCURVE_BANDS} AS INT) AS n_bands
FROM UNNEST(generate_series(1, {_SCURVE_GRID})) AS t(i)
"""


def _q_lm_kl_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source snapshot-drift KL (`ops/text.py` lm_kl_between):
    synthesize two snapshots of the documents table by doc_id parity and
    score KL(even || odd) per source over the union vocabulary — the
    re-crawl acceptance test.  The oracle replays the two wordcounts,
    the full-outer union frame, and the smoothed sum."""
    d = read_table(spark, sf_dir, "documents")
    return text.lm_kl_between(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1)
    )


_LM_KL_SNAPSHOTS_SQL = """
WITH tk AS (
  SELECT doc_id % 2 AS half, source AS grp, w
  FROM (SELECT doc_id, source,
               unnest(string_split(coalesce(text, ''), ' ')) AS w
        FROM documents)
  WHERE length(w) > 0
), wa AS (
  SELECT grp, w, count(*) AS ca FROM tk WHERE half = 0 GROUP BY 1, 2
), wb AS (
  SELECT grp, w, count(*) AS cb FROM tk WHERE half = 1 GROUP BY 1, 2
), both_c AS (
  SELECT coalesce(wa.grp, wb.grp) AS grp,
         coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM wa FULL OUTER JOIN wb ON wa.grp = wb.grp AND wa.w = wb.w
), scal AS (
  SELECT grp, CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb,
         CAST(count(*) AS DOUBLE) AS v
  FROM both_c GROUP BY 1
)
SELECT b.grp,
       CAST(max(na) AS BIGINT) AS n_tokens_a,
       CAST(max(nb) AS BIGINT) AS n_tokens_b,
       count(*) AS vocab_union,
       CAST(round(CAST(sum(((ca + 1) / (na + v))
                 * (ln((ca + 1) / (na + v)) - ln((cb + 1) / (nb + v))))
             AS DECIMAL(18,10)), 4) AS DOUBLE) AS kl_nats
FROM both_c b JOIN scal s ON b.grp = s.grp
GROUP BY 1
"""
