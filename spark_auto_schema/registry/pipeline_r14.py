"""Round-14 operator cohort: the two-level (coarse-quantizer) centroid
assignment tier driver-checked above the flat-join cutover, and
paragraph-granular dedup provenance.

Assembled by __spark_entry__.queries() / oracle_sql() — the single driver
contract.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import SparkSession

from spark_auto_schema.io import read_table, spread_small_scan
from spark_auto_schema.ops import similarity
from spark_auto_schema.registry.extensions import _words_sql
from spark_auto_schema.registry.pipeline_r11 import _SNAP6

# ---------------------------------------------------------------------------
# round-14 operators
# ---------------------------------------------------------------------------


# ------------------------------------------- centroid two-level path
# The codebook is the pairwise-mean closure of 56 md5-sampled corpus
# vectors: C(56,2) = 1540 centroids — above _TWO_LEVEL_CENTROID_BUDGET
# (1024) at EVERY scale factor, so the pruned two-level tier runs
# end-to-end (coarse top-probe over the 40 group means, refine equi-join
# within the probed groups), not the flat BNLJ.  Every derived constant
# below is computed with the SAME formulas _assign_nearest_two_level
# uses, and a law test pins the two derivations against each other.
_CATL_SAMPLE = 56
_CATL_K = _CATL_SAMPLE * (_CATL_SAMPLE - 1) // 2  # 1540
_CATL_M = math.isqrt(_CATL_K - 1) + 1  # ceil(sqrt(k)) = 40
_CATL_GSZ = -(-_CATL_K // _CATL_M)  # 39
_CATL_NGROUPS = -(-_CATL_K // _CATL_GSZ)  # 40
_CATL_PROBE = max(
    1, math.ceil(_CATL_NGROUPS * similarity._TWO_LEVEL_DEFAULT_PROBE_FRAC)
)  # 10


def _q_centroid_assign_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid assignment through the two-level coarse-quantizer
    tier (`ops/similarity.py` _assign_nearest_two_level via
    kmeans_assign): 1540 pairwise-mean centroids — above the 1024
    two-level centroid budget at every scale factor, so the pruned
    assignment runs (top-10 of 40 super-centroid groups, refine within
    the probed groups' 39-centroid buckets; O(n*sqrt(k)) arithmetic
    instead of the flat path's O(n*k) — the r13-verdict's residual scale
    ceiling made driver-checkable).  Output is the per-vector PRUNED
    assignment (vec_id, cluster, sq_dist rounded to 6); the oracle
    replays the pairwise codebook, the cid-ordered group means, the
    (d, gid)-tie-broken top-probe coarse selection, and the refine
    argmin with (d, cid) tie-break — the full two-level pipeline in
    SQL, not just the exact argmin."""
    embs = spread_small_scan(read_table(spark, sf_dir, "embeddings"))
    init = (
        embs.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_CATL_SAMPLE)
        .collect()
    )
    base = [[float(x) for x in r["embedding"]] for r in init]
    dim = len(base[0])
    cents = []
    cid = 0
    for i in range(len(base)):
        for j in range(i + 1, len(base)):
            cents.append(
                (cid, [(base[i][t] + base[j][t]) / 2.0 for t in range(dim)])
            )
            cid += 1
    # keep_vec=False: only (vec_id, cluster, sq_dist) is read — the refine
    # join's min(struct) state drops the embedding array (guide §2.3)
    out = similarity.kmeans_assign(embs, cents, keep_vec=False)
    return out.select(
        "vec_id",
        "cluster",
        F.round(F.col("sq_dist").cast("decimal(18,12)"), 6)
        .cast("double")
        .alias("sq_dist"),
    )


_CENTROID_ASSIGN_TWO_LEVEL_SQL = f"""
WITH samp AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS sid,
         CAST(embedding AS DOUBLE[]) AS svec
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_CATL_SAMPLE}
), cents AS (
  SELECT row_number() OVER (ORDER BY a.sid, b.sid) - 1 AS cid,
         list_transform(list_zip(a.svec, b.svec), x -> (x[1] + x[2]) / 2) AS cvec
  FROM samp a JOIN samp b ON a.sid < b.sid
), cg AS (
  SELECT cid, cvec, CAST(floor(cid / {_CATL_GSZ}) AS INT) AS gid FROM cents
), cex AS (
  SELECT gid, cid, t.i AS pos, cvec[t.i] AS v
  FROM cg, UNNEST(generate_series(1, len(cvec))) AS t(i)
), sup AS (
  -- cid-ordered left fold, matching the Python sum over cid-sorted members
  SELECT gid, pos, list_sum(list(v ORDER BY cid)) / count(*) AS sv
  FROM cex GROUP BY gid, pos
), supers AS (
  SELECT gid, list(sv ORDER BY pos) AS gvec FROM sup GROUP BY gid
), coarse AS (
  SELECT vec_id, gid FROM (
    SELECT e.vec_id, s.gid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(
               list_zip(CAST(e.embedding AS DOUBLE[]), s.gvec),
               x -> (x[1] - x[2]) * (x[1] - x[2]))), s.gid) AS rk
    FROM embeddings e, supers s) WHERE rk <= {_CATL_PROBE}
), refined AS (
  SELECT e.vec_id, cg.cid,
         list_sum(list_transform(
           list_zip(CAST(e.embedding AS DOUBLE[]), cg.cvec),
           x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM embeddings e
  JOIN coarse ON coarse.vec_id = e.vec_id
  JOIN cg ON cg.gid = coarse.gid
)
SELECT vec_id, cid AS cluster,
       {_SNAP6("d")} AS sq_dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
  FROM refined) WHERE rk = 1
"""


# ------------------------------------------- paragraph provenance
def _q_paragraph_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular dedup provenance (`ops/dedup.py`
    paragraph_dedup_provenance): dedup_provenance's audit trail at
    paragraph_minhash_pairs' 8-word-segment granularity — per segment,
    whether it survived (kept), lost to an identical segment (exact,
    winner = lowest (doc, seg) digest holder), or lost to a verified
    MinHash near-dup among exact survivors (near, winner = numerically
    smallest partner) — the WHICH-PARAGRAPH answer behind a takedown or
    syndication dispute.  The oracle replays segmentation, the
    segment-digest window, the md5 MinHash+LSH banding over survivors,
    the Jaccard verify, the numeric re-canonicalization, and the
    min-partner attribution."""
    from spark_auto_schema.ops import dedup
    from spark_auto_schema.registry.extensions import _spread_docs

    return dedup.paragraph_dedup_provenance(_spread_docs(spark, sf_dir))


_PARAGRAPH_PROVENANCE_SQL = f"""
WITH ws AS (
  SELECT doc_id AS did, source, {_words_sql()} AS w
  FROM documents
), segs AS (
  SELECT did, source, s,
         array_to_string(w[s*8+1 : s*8+8], ' ') AS seg
  FROM ws, UNNEST(generate_series(0,
         greatest(CAST(ceil(len(w) / 8.0) AS INT) - 1, 0))) AS t(s)
), marked AS (
  SELECT did, source, s, seg,
         first_value(did) OVER (PARTITION BY md5(seg) ORDER BY did, s) AS wdid,
         first_value(s) OVER (PARTITION BY md5(seg) ORDER BY did, s) AS wseg
  FROM segs
), surv AS (
  SELECT CAST(did AS VARCHAR) || ':' || CAST(s AS VARCHAR) AS id, seg
  FROM marked WHERE did = wdid AND s = wseg
), sh AS (
  SELECT DISTINCT id, array_to_string(sw[i:i+2], ' ') AS shingle
  FROM (SELECT id, string_split(seg, ' ') AS sw FROM surv),
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
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4)
             AS DOUBLE) >= 0.8
), verpairs AS (
  -- strip only the trailing ':<digits>' suffix (robust to ':' inside
  -- string doc ids) and RE-canonicalize by the NUMERIC (doc, seg) order
  SELECT CAST(regexp_replace(id_a, ':[0-9]+$', '') AS BIGINT) AS da,
         CAST(regexp_extract(id_a, ':([0-9]+)$', 1) AS INT) AS sa,
         CAST(regexp_replace(id_b, ':[0-9]+$', '') AS BIGINT) AS db,
         CAST(regexp_extract(id_b, ':([0-9]+)$', 1) AS INT) AS sb
  FROM ver
), oriented AS (
  SELECT CASE WHEN da < db OR (da = db AND sa < sb) THEN db ELSE da END AS vd,
         CASE WHEN da < db OR (da = db AND sa < sb) THEN sb ELSE sa END AS vs,
         CASE WHEN da < db OR (da = db AND sa < sb) THEN da ELSE db END AS ld,
         CASE WHEN da < db OR (da = db AND sa < sb) THEN sa ELSE sb END AS ls
  FROM verpairs
), nw AS (
  SELECT vd, vs, ld AS nwdid, ls AS nwseg FROM (
    SELECT *, row_number() OVER (PARTITION BY vd, vs ORDER BY ld, ls) AS rk
    FROM oriented) WHERE rk = 1
)
SELECT m.did AS doc_id, m.s AS seg_idx, m.source,
       CASE WHEN m.did != m.wdid OR m.s != m.wseg THEN 'exact'
            WHEN nw.nwdid IS NOT NULL THEN 'near'
            ELSE 'kept' END AS stage,
       CASE WHEN m.did != m.wdid OR m.s != m.wseg THEN m.wdid
            ELSE nw.nwdid END AS winner_doc_id,
       CASE WHEN m.did != m.wdid OR m.s != m.wseg THEN m.wseg
            ELSE nw.nwseg END AS winner_seg_idx
FROM marked m LEFT JOIN nw ON nw.vd = m.did AND nw.vs = m.s
"""


# ------------------------------------------- two-level probe sweep
# The sweep carries its OWN codebook (C(33,2) = 528 pairwise-mean
# centroids): the contract's exact side is inherently n x k, and the
# 1540-centroid codebook priced it at ~30 s per bench run — out of the
# family's cost range for a per-round query.  528 keeps the same
# geometry class and the same derivation formulas (law-pinned below)
# at ~1/3 the arithmetic; the sweep grid holds the tier's DEFAULT probe
# (ceil(23/4) = 6) plus the n_groups exactness anchor (23).
_TLPS_SAMPLE = 33
_TLPS_K = _TLPS_SAMPLE * (_TLPS_SAMPLE - 1) // 2  # 528
_TLPS_M, _TLPS_GSZ, _TLPS_NGROUPS = similarity._two_level_params(_TLPS_K)
_TLPS_SWEEP_PROBES = (1, 2, 4, 6)


def _q_two_level_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe pressure curve for the two-level tier (`ops/similarity.py`
    two_level_probe_sweep): over a 528-centroid pairwise-mean codebook (the
    centroid_assign_two_level construction at a third the arithmetic —
    the exact side is n x k by nature), the fraction of vectors whose
    pruned assignment matches the exhaustive argmin at probe 1, 2, 4, 6
    (the tier default for k=528) and 23 (= n_groups, the law-guaranteed
    exactness anchor at agreement 1.0) — the read that prices the probe knob
    before a corpus-scale pruned SemDeDup/topic run, the clustering-path
    sibling of ivf_nprobe_sweep.  The oracle replays the codebook, the
    group means, the full coarse rank table, the per-probe filtered
    argmin, and the agreement join."""
    embs = spread_small_scan(read_table(spark, sf_dir, "embeddings"))
    init = (
        embs.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_TLPS_SAMPLE)
        .collect()
    )
    base = [[float(x) for x in r["embedding"]] for r in init]
    dim = len(base[0])
    cents = []
    cid = 0
    for i in range(len(base)):
        for j in range(i + 1, len(base)):
            cents.append(
                (cid, [(base[i][t] + base[j][t]) / 2.0 for t in range(dim)])
            )
            cid += 1
    return similarity.two_level_probe_sweep(
        embs, cents, probes=_TLPS_SWEEP_PROBES
    )


_TWO_LEVEL_PROBE_SWEEP_SQL = f"""
WITH samp AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS sid,
         CAST(embedding AS DOUBLE[]) AS svec
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_TLPS_SAMPLE}
), cents AS (
  SELECT row_number() OVER (ORDER BY a.sid, b.sid) - 1 AS cid,
         list_transform(list_zip(a.svec, b.svec), x -> (x[1] + x[2]) / 2) AS cvec
  FROM samp a JOIN samp b ON a.sid < b.sid
), cg AS (
  SELECT cid, cvec, CAST(floor(cid / {_TLPS_GSZ}) AS INT) AS gid FROM cents
), cex AS (
  SELECT gid, cid, t.i AS pos, cvec[t.i] AS v
  FROM cg, UNNEST(generate_series(1, len(cvec))) AS t(i)
), sup AS (
  SELECT gid, pos, list_sum(list(v ORDER BY cid)) / count(*) AS sv
  FROM cex GROUP BY gid, pos
), supers AS (
  SELECT gid, list(sv ORDER BY pos) AS gvec FROM sup GROUP BY gid
), coarse AS (
  SELECT e.vec_id, s.gid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_sum(list_transform(
             list_zip(CAST(e.embedding AS DOUBLE[]), s.gvec),
             x -> (x[1] - x[2]) * (x[1] - x[2]))), s.gid) AS crank
  FROM embeddings e, supers s
), refined AS (
  SELECT c.vec_id, c.crank, cg.cid,
         list_sum(list_transform(
           list_zip(CAST(e.embedding AS DOUBLE[]), cg.cvec),
           x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM embeddings e
  JOIN coarse c ON c.vec_id = e.vec_id
  JOIN cg ON cg.gid = c.gid
), pr AS (
  SELECT unnest([{", ".join(str(p) for p in _TLPS_SWEEP_PROBES)}, {_TLPS_NGROUPS}]) AS probe
), best AS (
  SELECT probe, vec_id, cid FROM (
    SELECT pr.probe, r.vec_id, r.cid,
           row_number() OVER (PARTITION BY pr.probe, r.vec_id
                              ORDER BY r.d, r.cid) AS rk
    FROM pr JOIN refined r ON r.crank <= pr.probe) WHERE rk = 1
), ex AS (
  SELECT vec_id, cid AS ecid FROM best WHERE probe = {_TLPS_NGROUPS}
)
SELECT b.probe,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN b.cid = ex.ecid THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match,
       {{snap}} AS agreement
FROM best b JOIN ex USING (vec_id)
GROUP BY 1
""".format(
    snap=_SNAP6(
        "sum(CASE WHEN b.cid = ex.ecid THEN 1 ELSE 0 END) * 1.0 / count(*)"
    )
)


# ------------------------------------------- quantizer lifecycle
_QRT_NLIST = 16
_QRT_DIRS: dict[str, str] = {}


def _quantizer_dir(sf_dir: str) -> str:
    import tempfile

    key = f"{sf_dir}#quantizer"
    if key not in _QRT_DIRS:
        _QRT_DIRS[key] = tempfile.mkdtemp(prefix="quantizer_artifact_")
    return _QRT_DIRS[key]


def _q_quantizer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-quantizer lifecycle (`ops/similarity.py` save_centroids /
    load_centroids): sample a 16-centroid codebook, PERSIST it as the
    k-row parquet artifact, load it back, and assign the corpus against
    the LOADED copy — the production shape where one trained quantizer
    serves every snapshot, epoch and streaming restart with comparable
    cluster ids (today's ops re-derive a sample per call; the artifact
    is the durable `cents` source they all accept).  Parquet stores the
    doubles exactly, so the oracle is the plain argmax-cosine
    assignment replay over the same md5 sample — any roundtrip
    imprecision or id reshuffle hash-fails."""
    from spark_auto_schema.ops.similarity import (
        _assign_nearest,
        load_centroids,
        save_centroids,
    )

    embs = spread_small_scan(read_table(spark, sf_dir, "embeddings"))
    init = (
        embs.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_QRT_NLIST)
        .collect()
    )
    cents = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(init)
    ]
    path = _quantizer_dir(sf_dir)
    save_centroids(cents, path, spark)
    loaded = load_centroids(spark, path)
    out = _assign_nearest(
        embs, loaded, "embedding", "vec_id", metric="cos", keep_vec=False
    )
    snap = lambda c: F.round(c.cast("decimal(18,12)"), 6).cast("double")
    return out.select(
        "vec_id", "cluster", snap(-F.col("__score")).alias("cosine")
    )


def _quantizer_roundtrip_sql() -> str:
    from spark_auto_schema.registry.pipeline_r9 import _cos_sql

    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         embedding AS cvec
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_QRT_NLIST}
)
SELECT vec_id, cid AS cluster,
       {_SNAP6("cs")} AS cosine
FROM (
  SELECT e.vec_id, c.cid, {_cos_sql("e.embedding", "c.cvec")} AS cs,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_cos_sql("e.embedding", "c.cvec")} DESC, c.cid) AS rk
  FROM embeddings e, cents c) WHERE rk = 1
"""


_QUANTIZER_ROUNDTRIP_SQL = _quantizer_roundtrip_sql()
