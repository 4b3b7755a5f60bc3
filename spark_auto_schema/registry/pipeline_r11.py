"""Round-11 operator cohort: dedup-rate drift, curriculum phases, contamination sweep, rerank, dup spans, config sweeps.

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
from spark_auto_schema.ops import similarity
from spark_auto_schema.ops import text
from spark_auto_schema.registry.extensions import (
    _quality_expr_sql,
    _spread_docs,
    _spread_embs,
    _words_sql,
)
from spark_auto_schema.registry.analytics import (_CONTAMINATION_PROBES)
from spark_auto_schema.registry.curation import (_RRF_POOL_CTE)
from spark_auto_schema.registry.pipeline_r9 import (
    _RECALL_K,
    _RECALL_NLIST,
    _RECALL_PANEL,
    _cos_sql,
)

# ---------------------------------------------------------------------------
# round-11 operators
# ---------------------------------------------------------------------------

_SNAP6 = lambda e: f"CAST(round(CAST({e} AS DECIMAL(18,12)), 6) AS DOUBLE)"

# md5 hash split shared by the r10/r11 drift queries (NOT id arithmetic:
# testdata source = f(doc_id % 20), so any mod/bit split is source-determined)
_MD5_HALF_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2"
)


def _md5_half_col() -> "F.Column":
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(2),
    )


def _q_dedup_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup-rate drift (`ops/dedup.py` dedup_rate_drift):
    exact-dup survivorship fractions per source in two md5-hash-split
    snapshots of the documents table, compared — the release dial that
    catches a source starting (or stopping) syndication between
    snapshots.  The oracle replays the hash split, both keep-lowest-id
    survivorship windows, and the snapped fraction compare."""
    d = read_table(spark, sf_dir, "documents")
    half = _md5_half_col()
    return dedup.dedup_rate_drift(d.where(half == 0), d.where(half == 1))


_DEDUP_RATE_DRIFT_SQL = f"""
WITH d AS (
  SELECT doc_id, source, md5(coalesce(text, '')) AS dg,
         {_MD5_HALF_SQL} AS half
  FROM documents
), m AS (
  SELECT half, source,
         (doc_id = min(doc_id) OVER (PARTITION BY half, dg)) AS kept,
         (first_value(source) OVER (PARTITION BY half, dg ORDER BY doc_id)
            != source) AS ext
  FROM d
), s AS (
  SELECT half, source, count(*) AS n_docs,
         sum(CASE WHEN kept THEN 0 ELSE 1 END) AS n_dropped,
         sum(CASE WHEN NOT kept AND ext THEN 1 ELSE 0 END) AS n_lost
  FROM m GROUP BY 1, 2
), fr AS (
  SELECT half, source, n_docs,
         {_SNAP6("n_dropped * 1.0 / n_docs")} AS lf,
         {_SNAP6("n_lost * 1.0 / n_docs")} AS xf
  FROM s
)
SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs_a,
       CAST(b.n_docs AS BIGINT) AS n_docs_b,
       a.lf AS loss_frac_a, b.lf AS loss_frac_b,
       {_SNAP6("b.lf - a.lf")} AS loss_drift,
       {_SNAP6("b.xf - a.xf")} AS xloss_drift
FROM fr a JOIN fr b ON a.source = b.source AND a.half = 0 AND b.half = 1
"""


def _q_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum bands (`ops/corpus.py` curriculum_phases over
    `ops/text.py` quality_score): 4 exact score-quantile phases with
    per-phase counts/share/score stats — the handoff a quality-annealing
    training loader consumes.  The oracle replays the score arithmetic
    (shared _quality_expr_sql fragment), the snapped interior boundaries,
    the ties-down phase rule, and the rollup."""
    scored = text.quality_score(read_table(spark, sf_dir, "documents"))
    return corpus.curriculum_phases(scored, "quality", n_phases=_CURR_PHASES)


_CURR_PHASES = 4


def _curriculum_oracle_sql() -> str:
    probs = ", ".join(
        f"{i / _CURR_PHASES!r}::DOUBLE" for i in range(1, _CURR_PHASES)
    )
    return f"""
WITH s AS (SELECT {_quality_expr_sql()} AS v FROM documents),
b AS (
  SELECT list_transform(quantile_cont(v, [{probs}]),
                        x -> {_SNAP6("x")}) AS bs
  FROM s
), p AS (
  SELECT v, CAST(1 + len(list_filter(bs, x -> v > x)) AS BIGINT) AS phase
  FROM s, b
), g AS (
  SELECT phase, count(*) AS n_docs, min(v) AS mn, max(v) AS mx,
         avg(v) AS av
  FROM p GROUP BY 1
), t AS (SELECT sum(n_docs) AS tot FROM g)
SELECT phase, CAST(n_docs AS BIGINT) AS n_docs,
       {_SNAP6("n_docs * 1.0 / tot")} AS share,
       mn AS min_score, mx AS max_score, {_SNAP6("av")} AS avg_score
FROM g, t
"""


def _q_contamination_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train<->eval n-gram-size sweep (`ops/dedup.py`
    contamination_ngram_sweep): the decontamination dial at n = 4/8/13
    (GPT-3's 13-gram rule at one end) between the corpus and the same
    probe documents contamination_check anchors.  The oracle replays the
    per-n gram relations, the distinct eval sets, and both hit counts."""
    d = _spread_docs(spark, sf_dir)
    probes = list(_CONTAMINATION_PROBES)
    return dedup.contamination_ngram_sweep(
        d.where(~F.col("doc_id").isin(probes)),
        d.where(F.col("doc_id").isin(probes)),
        ns=_CSWEEP_NS,
    )


_CSWEEP_NS = (4, 8, 13)


def _contamination_sweep_oracle_sql() -> str:
    probes = ", ".join(str(p) for p in _CONTAMINATION_PROBES)
    parts = []
    for n in _CSWEEP_NS:
        m = n - 1
        gram = f"array_to_string(w[i:i+{m}], ' ')"
        parts.append(f"""
SELECT CAST({n} AS BIGINT) AS n, ne.n_eval_grams, h.n_eval_grams_hit,
       h.n_train_docs_hit,
       {_SNAP6("h.n_eval_grams_hit * 1.0 / ne.n_eval_grams")} AS eval_hit_rate
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_eval_grams FROM (
    SELECT DISTINCT {gram} AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE doc_id IN ({probes})),
         UNNEST(generate_series(1, greatest(len(w) - {m}, 1))) AS t(i)
    WHERE length({gram}) > 0)
) ne, (
  SELECT CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_train_docs_hit,
         CAST(count(DISTINCT g.s) AS BIGINT) AS n_eval_grams_hit
  FROM (
    SELECT DISTINCT doc_id, {gram} AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE doc_id NOT IN ({probes})),
         UNNEST(generate_series(1, greatest(len(w) - {m}, 1))) AS t(i)
    WHERE length({gram}) > 0) g
  JOIN (
    SELECT DISTINCT {gram} AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE doc_id IN ({probes})),
         UNNEST(generate_series(1, greatest(len(w) - {m}, 1))) AS t(i)
    WHERE length({gram}) > 0) e USING (s)
) h""")
    return "\nUNION ALL\n".join(parts)


def _q_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-style rerank harness (`ops/similarity.py`
    cross_rerank) over the SAME RRF pool rrf_hybrid_topk anchors: the
    10-candidate fused pool re-scored by the deterministic lexical-F1
    default scorer (the injection seam for a real cross-encoder UDF),
    with rank movement.  The oracle extends the shared _RRF_POOL_CTE
    with the pool-rank window and the list-intersection F1."""
    docs = read_table(spark, sf_dir, "documents")
    embs = _spread_embs(spark, sf_dir)
    lex = text.bm25_topk(docs, list(_RERANK_TERMS), topk=50).withColumnRenamed(
        "doc_id", "vec_id"
    )
    dense = similarity.cosine_topk(embs, query_id=0, k=50)
    pool = similarity.rrf_fuse([lex, dense], topk=10)
    return similarity.cross_rerank(pool, docs, list(_RERANK_TERMS))


_RERANK_TERMS = ("merge", "window", "vector")


def _rerank_oracle_sql() -> str:
    q = sorted(set(_RERANK_TERMS))
    terms = ", ".join(f"'{t}'" for t in q)
    f1 = (
        f"2.0 * len(list_intersect(list_distinct({_words_sql('d.text')}), "
        f"[{terms}])) / ({len(q)} + len(list_distinct({_words_sql('d.text')})))"
    )
    return _RRF_POOL_CTE + f""", pool AS (
  SELECT id, row_number() OVER (ORDER BY rrf DESC, id) AS pool_rank
  FROM (SELECT id, rrf FROM f ORDER BY rrf DESC, id LIMIT 10)
), ce AS (
  SELECT p.id, CAST(p.pool_rank AS BIGINT) AS pool_rank,
         {_SNAP6(f1)} AS ce_score
  FROM pool p JOIN documents d ON d.doc_id = p.id
)
SELECT id AS vec_id, pool_rank, ce_score,
       CAST(row_number() OVER (ORDER BY ce_score DESC, id) AS BIGINT)
         AS ce_rank,
       CAST(pool_rank - row_number() OVER (ORDER BY ce_score DESC, id)
            AS BIGINT) AS rank_delta
FROM ce
"""


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span extraction (`ops/dedup.py` dup_span_extract):
    maximal 8-token-window duplicated ranges per document with the span
    text — the actionable-removal completion of top_repeated_substrings.
    The oracle replays the window fingerprints, the distinct-doc filter,
    the gaps-and-islands merge, and the slice reconstruction."""
    return dedup.dup_span_extract(
        _spread_docs(spark, sf_dir), k=_DSPAN_K, min_docs=2
    )


_DSPAN_K = 8


def _dup_spans_oracle_sql() -> str:
    m = _DSPAN_K - 1
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (
  SELECT doc_id, i, md5(array_to_string(ws[i:i+{m}], ' ')) AS h
  FROM w, UNNEST(generate_series(1, greatest(len(ws) - {m}, 1))) AS t(i)
), dh AS (
  SELECT h, count(DISTINCT doc_id) AS nd FROM pos GROUP BY 1
  HAVING count(DISTINCT doc_id) >= 2
), fl AS (SELECT p.doc_id, p.i, dh.nd FROM pos p JOIN dh USING (h)),
isl AS (
  SELECT doc_id, i, nd,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM fl
), sp AS (
  SELECT doc_id, min(i) AS s, max(i) AS e,
         CAST(min(nd) AS BIGINT) AS min_share_docs
  FROM isl GROUP BY doc_id, g
)
SELECT sp.doc_id, CAST(s AS BIGINT) AS span_start,
       CAST(len(ws[s:e+{m}]) AS BIGINT) AS n_tokens, min_share_docs,
       array_to_string(ws[s:e+{m}], ' ') AS span_text
FROM sp JOIN w USING (doc_id)
"""


def _q_semantic_tsweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup threshold pressure curve (`ops/similarity.py`
    semantic_threshold_sweep): pair/doc/drop counts at cosine 0.2/0.3/0.4
    over the same 16-cluster quantizer the anchored semantic_dedup
    (threshold 0.3) uses — n_dropped at 0.3 EQUALS that query's drop
    count by the shared-pair-stage law.  The oracle replays the
    centroids, assignment, cluster-local pairs at the loosest cut, and
    the per-threshold rollups."""
    return similarity.semantic_threshold_sweep(
        _spread_embs(spark, sf_dir),
        thresholds=_STS_THRESHOLDS,
        nlist=16,
    )


_STS_THRESHOLDS = (0.2, 0.3, 0.4)


def _semantic_tsweep_oracle_sql() -> str:
    ts = ", ".join(f"{t!r}::DOUBLE" for t in _STS_THRESHOLDS)
    cos_ab = _cos_sql("a.embedding", "b.embedding")
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         embedding AS cvec
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_cos_sql("e.embedding", "c.cvec")} AS csim
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, embedding, cid AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM scored) WHERE rk = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({cos_ab}, 4) AS cos
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round({cos_ab}, 4) >= {min(_STS_THRESHOLDS)!r}::DOUBLE
), ts AS (SELECT unnest([{ts}]) AS threshold),
j AS (
  SELECT ts.threshold, p.id_a, p.id_b
  FROM ts LEFT JOIN pairs p ON p.cos >= ts.threshold
), np AS (SELECT threshold, count(id_a) AS c FROM j GROUP BY 1),
nd AS (
  SELECT threshold, count(DISTINCT id) AS c
  FROM (SELECT threshold, unnest([id_a, id_b]) AS id FROM j
        WHERE id_a IS NOT NULL) GROUP BY 1
), ndr AS (
  SELECT threshold, count(DISTINCT id_b) AS c FROM j
  WHERE id_a IS NOT NULL GROUP BY 1
)
SELECT ts.threshold, CAST(coalesce(np.c, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(nd.c, 0) AS BIGINT) AS n_docs_involved,
       CAST(coalesce(ndr.c, 0) AS BIGINT) AS n_dropped
FROM ts LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
LEFT JOIN ndr USING (threshold)
"""


def _q_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe recall/cost curve (`ops/similarity.py` ivf_nprobe_sweep)
    over the same 8-query panel / nlist=16 / k=10 config
    retrieval_recall_panel anchors at its single nprobe=5 point: one
    candidate fan-out with probe ranks attached, rank-filtered per sweep
    value.  The oracle replays the exact truth, the centroids, probe
    ranks up to max(nprobes), and every per-nprobe rollup."""
    return similarity.ivf_nprobe_sweep(
        _spread_embs(spark, sf_dir),
        query_ids=list(range(_RECALL_PANEL)),
        nprobes=_NPROBE_SWEEP,
        k=_RECALL_K,
        nlist=_RECALL_NLIST,
    )


_NPROBE_SWEEP = (1, 2, 4)


def _ivf_nprobe_sweep_oracle_sql() -> str:
    ps = ", ".join(str(p) for p in _NPROBE_SWEEP)
    return f"""
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
), pranks AS (
  SELECT qid, qvec, cid, crank FROM (
    SELECT q.qid, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY {_cos_sql("q.qvec", "c.cvec")} DESC, c.cid) AS crank
    FROM qs q, cents c) WHERE crank <= {max(_NPROBE_SWEEP)}
), cand AS (
  SELECT p.qid, a.vec_id, {_cos_sql("a.embedding", "p.qvec")} AS sim, p.crank
  FROM assigned a JOIN pranks p ON a.cid = p.cid
  WHERE a.vec_id != p.qid
), t AS (SELECT unnest([{ps}]) AS nprobe),
sel AS (SELECT t.nprobe, c.* FROM t JOIN cand c ON c.crank <= t.nprobe),
appx AS (
  SELECT nprobe, qid, vec_id FROM (
    SELECT nprobe, qid, vec_id,
           row_number() OVER (PARTITION BY nprobe, qid
             ORDER BY sim DESC, vec_id) AS rk
    FROM sel) WHERE rk <= {_RECALL_K}
), hits AS (
  SELECT a.nprobe, a.qid, count(*) AS h FROM appx a
  JOIN exact e ON e.qid = a.qid AND e.vec_id = a.vec_id GROUP BY 1, 2
), ncand AS (SELECT nprobe, qid, count(*) AS c FROM sel GROUP BY 1, 2),
perq AS (
  SELECT t.nprobe, q.qid, coalesce(h.h, 0) AS h, coalesce(nc.c, 0) AS c
  FROM t CROSS JOIN qs q
  LEFT JOIN hits h ON h.nprobe = t.nprobe AND h.qid = q.qid
  LEFT JOIN ncand nc ON nc.nprobe = t.nprobe AND nc.qid = q.qid
)
SELECT CAST(nprobe AS BIGINT) AS nprobe,
       CAST(count(*) AS BIGINT) AS n_queries,
       {_SNAP6("avg(c)")} AS avg_candidates,
       {_SNAP6(f"avg(h * 1.0 / {float(_RECALL_K)!r})")} AS avg_recall_at_k
FROM perq GROUP BY 1
"""


def _q_lsh_config_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-shape tuner (`ops/dedup.py` lsh_config_sweep): candidate
    volume / verified pairs / precision at bands 2/4/8 over one 16-hash
    md5 signature pass — bands=4 reproduces the anchored
    minhash_md5_dup_pairs config, so its n_verified equals that query's
    pair count (law-tested).  The oracle replays the signatures, every
    config's prefix banding, the single candidate-union verify, and the
    per-config rollups."""
    return dedup.lsh_config_sweep(_spread_docs(spark, sf_dir))


_LCS_BANDS = (2, 4, 8)


def _lsh_config_sweep_oracle_sql() -> str:
    nh = 16
    bs = ", ".join(str(b) for b in _LCS_BANDS)
    est_rows = ", ".join(
        f"({b}, {nh // b}, CAST({round((1.0 / b) ** (b / nh), 6)!r} AS DOUBLE))"
        for b in _LCS_BANDS
    )
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
), hs AS (
  SELECT id, hi, min(substr(md5(hi || ':' || shingle), 1, 16)) AS h
  FROM sh, UNNEST(generate_series(0, {nh - 1})) AS t(hi)
  GROUP BY id, hi
), sig AS (
  SELECT id, list(h ORDER BY hi) AS hl FROM hs GROUP BY id
), cfg AS (SELECT unnest([{bs}]) AS b),
bands AS (
  SELECT c.b, s.id, bi,
         md5(array_to_string(hl[bi*({nh}//c.b)+1 : bi*({nh}//c.b)+({nh}//c.b)], '|'))
           AS bucket
  FROM sig s, cfg c, UNNEST(generate_series(0, c.b - 1)) AS t(bi)
), cand AS (
  SELECT DISTINCT x.b, x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y
    ON x.b = y.b AND x.bi = y.bi AND x.bucket = y.bucket
  WHERE x.id < y.id
), up AS (SELECT DISTINCT id_a, id_b FROM cand),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT u.id_a, u.id_b, count(*) AS c FROM up u
  JOIN sh a ON a.id = u.id_a
  JOIN sh b2 ON b2.id = u.id_b AND b2.shingle = a.shingle
  GROUP BY 1, 2
), jac AS (
  SELECT id_a, id_b,
         CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4)
              AS DOUBLE) AS j
  FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
), judged AS (
  SELECT cd.b,
         CASE WHEN coalesce(jac.j, 0.0) >= 0.8 THEN 1 ELSE 0 END AS ok
  FROM cand cd LEFT JOIN jac USING (id_a, id_b)
), agg AS (
  SELECT b, count(*) AS n_candidates, sum(ok) AS n_verified
  FROM judged GROUP BY 1
), est AS (SELECT * FROM (VALUES {est_rows}) AS e(b, rpb, est_threshold))
SELECT CAST(est.b AS BIGINT) AS bands, CAST(rpb AS BIGINT) AS rows_per_band,
       est_threshold,
       CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(n_verified, 0) AS BIGINT) AS n_verified,
       {_SNAP6("n_verified * 1.0 / n_candidates")} AS "precision"
FROM est LEFT JOIN agg USING (b)
"""
