"""LLM-pipeline extension queries: text stats, dedup, similarity, multimodal, drift panels.

Mechanically split from __spark_entry__.py (round 11); no semantic change.
Assembled by __spark_entry__.queries() / oracle_sql() — the single driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import SparkSession
from spark_auto_schema.ops import dedup
from spark_auto_schema.inference import infer_table_schema
from spark_auto_schema.inference import inference_to_df
from spark_auto_schema.ops import multimodal
from spark_auto_schema.io import read_table
from spark_auto_schema.ops import relational
from spark_auto_schema.ops import scoring
from spark_auto_schema.ops import similarity
from spark_auto_schema.ops import text
from spark_auto_schema.ops._tokens import _words

# ---------------------------------------------------------------------------
# extension queries (text / dedup / similarity / multimodal)
# ---------------------------------------------------------------------------


def _words_sql(text: str = "text") -> str:
    """The DuckDB replay of ``ops/_tokens._words``: the non-empty
    single-space tokens of ``text`` (a NULL text has none)."""
    return f"list_filter(string_split(coalesce({text}, ''), ' '), w -> length(w) > 0)"


def _stop_pat(lang: str) -> str:
    return r"\b(" + "|".join(text.STOPWORDS[lang]) + r")\b"


def _lang_id_oracle_sql() -> str:
    langs = sorted(text.STOPWORDS)
    hits = {
        lang: f"len(regexp_extract_all(text, '{_stop_pat(lang)}'))" for lang in langs
    }
    greatest = "greatest(" + ", ".join(hits[lang] for lang in langs) + ")"
    whens = " ".join(
        f"WHEN {hits[lang]} = {greatest} THEN '{lang}'" for lang in langs
    )
    return (
        f"SELECT doc_id, CASE {whens} END AS lang_pred, "
        f"{greatest} AS lang_hits FROM documents"
    )


def _quality_expr_sql() -> str:
    """The quality_score arithmetic as a DuckDB expression — the single
    source both the quality_score oracle and the quality_drift_sources
    oracle interpolate."""
    stop = f"len(regexp_extract_all(text, '{_stop_pat('en')}'))"
    punct = r"len(regexp_extract_all(text, '[^\w\s]'))"
    nw = f"len({_words_sql()})"
    # literals cast to DOUBLE (DuckDB types bare x.y literals as DECIMAL) and
    # the final round done through DECIMAL(18,10), mirroring
    # ops.text.quality_score's portable double-rounding; a text with no
    # word has no score
    raw = (
        f"least(1.0::DOUBLE, {nw} / 100.0::DOUBLE) * 0.5::DOUBLE + "
        f"(1.0::DOUBLE - {punct} / length(text)) * 0.3::DOUBLE + "
        f"least(1.0::DOUBLE, {stop} / {nw} * 5.0::DOUBLE) * 0.2::DOUBLE"
    )
    return (
        f"CAST(round(CAST(CASE WHEN {nw} > 0 THEN {raw} END AS DECIMAL(18,10)), 4)"
        " AS DOUBLE)"
    )


def _quality_oracle_sql() -> str:
    return f"SELECT doc_id, {_quality_expr_sql()} AS quality FROM documents"


def _q_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score drift between snapshots (`ops/scoring.py`
    score_drift over `ops/text.py` quality_score): the 11-point exact
    percentile grid of the quality score per (source, snapshot) — the
    snapshots are synthesized by an md5 hash split of doc_id (NOT id
    arithmetic: the testdata assigns source by doc_id modulo, so any
    mod/bit split is source-determined and would leave each source's
    snapshot sets disjoint and the inner drift join empty) — compared
    pointwise into (max_qdiff, avg_qdiff).  The oracle replays the score
    arithmetic, the hash split, both quantile_cont grids, and the
    pointwise list compare."""
    d = read_table(spark, sf_dir, "documents")
    scored = text.quality_score(d, keep_cols=["source"])
    half = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(2),
    )
    return scoring.score_drift(
        scored.where(half == 0),
        scored.where(half == 1),
        value_col="quality",
        group_col="source",
        grid=_QDRIFT_GRID,
    )


_QDRIFT_GRID = 11


def _score_drift_tail_sql(base_cte: str, grid: int) -> str:
    """Shared DuckDB replay of ops/scoring.score_drift: ``base_cte`` must
    be a WITH prefix ending in a relation ``h(grp, v, half)``; this
    appends the two FILTERed quantile_cont grids, the pointwise list
    compare, and the snapped max/avg — interpolated identically by every
    drift oracle (quality_drift_sources, embedding_norm_drift)."""
    probs = ", ".join(repr(i / (grid - 1)) for i in range(grid))
    snap = lambda e: f"CAST(round(CAST({e} AS DECIMAL(18,12)), 6) AS DOUBLE)"
    return (
        base_cte
        + f""", g AS (
  SELECT grp,
         count(*) FILTER (WHERE half = 0) AS n_a,
         count(*) FILTER (WHERE half = 1) AS n_b,
         quantile_cont(v, [{probs}]) FILTER (WHERE half = 0) AS qa,
         quantile_cont(v, [{probs}]) FILTER (WHERE half = 1) AS qb
  FROM h GROUP BY 1
), d AS (
  SELECT grp, n_a, n_b,
         list_transform(range(1, {grid + 1}), i -> abs(qa[i] - qb[i])) AS ds
  FROM g WHERE n_a > 0 AND n_b > 0
)
SELECT grp, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       {snap("list_max(ds)")} AS max_qdiff,
       {snap(f"list_sum(ds) / {float(grid)}")} AS avg_qdiff
FROM d
"""
    )


def _quality_drift_oracle_sql() -> str:
    return _score_drift_tail_sql(
        f"""
WITH sc AS (
  SELECT doc_id, source, {_quality_expr_sql()} AS quality FROM documents
), h AS (
  SELECT source AS grp, quality AS v,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
           AS half
  FROM sc
)""",
        _QDRIFT_GRID,
    )


def _q_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-LENGTH drift (`ops/scoring.py` score_drift
    over whitespace token counts): the 11-point percentile grid of doc
    token counts per (source, snapshot), hash-split like
    quality_drift_sources — the extraction-regression sentinel: a
    source whose length distribution collapses between crawls lost its
    article bodies to a template change even when its doc count held.
    The oracle replays the token count, the hash split, and the shared
    drift tail."""
    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        F.size(_words(F.col("text"))).cast("double").alias("n_tokens"),
    )
    half = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(2),
    )
    return scoring.score_drift(
        scored.where(half == 0),
        scored.where(half == 1),
        value_col="n_tokens",
        group_col="source",
        grid=_QDRIFT_GRID,
    )


def _length_drift_oracle_sql() -> str:
    return _score_drift_tail_sql(
        f"""
WITH h AS (
  SELECT source AS grp,
         CAST(len({_words_sql()}) AS DOUBLE) AS v,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
           AS half
  FROM documents
)""",
        _QDRIFT_GRID,
    )


def _q_embedding_dim_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding drift: the top-k dimensions whose mean
    value moved most between two hash-split snapshots — ``(pos, mean_a,
    mean_b, abs_diff)`` — the fine-grained encoder-health view under
    embedding_norm_drift (a whole-norm drift localizes to WHICH
    dimensions moved).  One posexplode pass, a d-row (pos, half)
    aggregate, a d-row pivot compare, and a TakeOrdered top-k — nothing
    after the first aggregate is corpus-sized.  The oracle replays the
    unnest, the conditional means, and the ranked cut."""
    e = read_table(spark, sf_dir, "embeddings")
    half = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(2),
    )
    ex = e.select(
        half.alias("half"), F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    snap = lambda c: F.round(c.cast("decimal(18,12)"), 6).cast("double")
    g = ex.groupBy("pos").agg(
        F.avg(F.when(F.col("half") == 0, F.col("v"))).alias("__ma"),
        F.avg(F.when(F.col("half") == 1, F.col("v"))).alias("__mb"),
    )
    return (
        g.select(
            "pos",
            snap(F.col("__ma")).alias("mean_a"),
            snap(F.col("__mb")).alias("mean_b"),
            snap(F.abs(F.col("__ma") - F.col("__mb"))).alias("abs_diff"),
        )
        .orderBy(F.col("abs_diff").desc(), F.col("pos"))
        .limit(_DIMDRIFT_TOPK)
    )


_DIMDRIFT_TOPK = 5


def _embedding_dim_drift_oracle_sql() -> str:
    snap = lambda e: f"CAST(round(CAST({e} AS DECIMAL(18,12)), 6) AS DOUBLE)"
    return f"""
WITH ex AS (
  SELECT CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
           AS half,
         t.i - 1 AS pos, CAST(embedding[t.i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), g AS (
  SELECT pos,
         avg(v) FILTER (WHERE half = 0) AS ma,
         avg(v) FILTER (WHERE half = 1) AS mb
  FROM ex GROUP BY 1
)
SELECT pos, {snap("ma")} AS mean_a, {snap("mb")} AS mean_b,
       {snap("abs(ma - mb)")} AS abs_diff
FROM g ORDER BY {snap("abs(ma - mb)")} DESC, pos LIMIT {_DIMDRIFT_TOPK}
"""


def _q_embedding_norm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health drift (`ops/scoring.py` score_drift over L2
    norms): per label, the 11-point percentile grid of vector norms
    compared between two md5-hash-split snapshots of the embeddings
    table — (max_qdiff, avg_qdiff) per label.  The embedding analogue of
    quality_drift_sources: a label whose norm distribution moves between
    encoder releases signals a drifted encoder or a content shift, long
    before recall metrics react.  The oracle replays the norm
    (list_dot_product sums in the same sequential order as the Spark
    fold), the hash split, and the shared drift tail."""
    e = read_table(spark, sf_dir, "embeddings")
    scored = e.select(
        F.col("vec_id"),
        F.col("label"),
        similarity.norm(F.col("embedding")).alias("nrm"),
    )
    half = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(2),
    )
    return scoring.score_drift(
        scored.where(half == 0),
        scored.where(half == 1),
        value_col="nrm",
        group_col="label",
        grid=_QDRIFT_GRID,
    )


def _norm_drift_oracle_sql() -> str:
    ldp = "list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))"
    return _score_drift_tail_sql(
        f"""
WITH h AS (
  SELECT label AS grp, sqrt({ldp}) AS v,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
           AS half
  FROM embeddings
)""",
        _QDRIFT_GRID,
    )


_TEXT_STATS_SQL = rf"""
SELECT doc_id, length(text) AS n_chars,
       len({_words_sql()}) AS n_words,
       round(length(replace(text, ' ', '')) / len({_words_sql()}), 4) AS avg_word_len,
       len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
FROM documents
"""

_TOKEN_COUNT_SQL = rf"""
SELECT doc_id, len({_words_sql()}) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
FROM documents
"""

_FINGERPRINT_SQL = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
FROM documents
"""

_HASH_DEDUP_SQL = """
SELECT md5(coalesce(text, '')) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""

_MULTIMODAL_BYTES_SQL = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
"""

_NGRAM_JACCARD_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) >= 0.8
"""

_EMBEDDING_TOPK_SQL = """
SELECT b.vec_id,
       round(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))), 4) AS cos_sim
FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) a, embeddings b
WHERE b.vec_id != 0
ORDER BY cos_sim DESC, b.vec_id LIMIT 10
"""


def _q_text_stats(spark, sf_dir):
    return text.text_stats(read_table(spark, sf_dir, "documents"))


def _q_token_count(spark, sf_dir):
    return text.token_count(read_table(spark, sf_dir, "documents"))


def _q_lang_id(spark, sf_dir):
    return text.language_id(read_table(spark, sf_dir, "documents"))


def _q_quality(spark, sf_dir):
    return text.quality_score(read_table(spark, sf_dir, "documents"))


def _q_fingerprint(spark, sf_dir):
    return text.fingerprint(read_table(spark, sf_dir, "documents"))


def _spread_docs(spark, sf_dir):
    from spark_auto_schema.io import spread_small_scan

    return spread_small_scan(read_table(spark, sf_dir, "documents"))


def _spread_embs(spark, sf_dir):
    """Spread the single-row-group embeddings file before expensive
    per-row vector work (assignment fan-outs, posexplode pipelines):
    unspread, a BNLJ or d-wide explode runs in ONE scan task (guide §2.5;
    measured 5.3 -> 1.4 s on the centroid_assign_join assignment at
    sf0.1).  Top-k and the semantic-dedup queries read unspread: their
    plans are pinned to the shuffles the operator itself needs."""
    from spark_auto_schema.io import spread_small_scan

    return spread_small_scan(read_table(spark, sf_dir, "embeddings"))


def _q_hash_dedup(spark, sf_dir):
    return dedup.hash_dedup(read_table(spark, sf_dir, "documents"))


def _q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_spread_docs(spark, sf_dir), threshold=0.8)


def _q_multimodal_bytes(spark, sf_dir):
    payloads = multimodal.attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return payloads.select("doc_id", F.col("media_meta.n_bytes").alias("n_bytes"))


def _q_embedding_topk(spark, sf_dir):
    return similarity.cosine_topk(
        read_table(spark, sf_dir, "embeddings"), query_id=0, k=10
    )


def _q_top_terms(spark, sf_dir):
    return text.top_terms(read_table(spark, sf_dir, "documents"), k=20)


_TOP_TERMS_SQL = """
SELECT term, count(*) AS n FROM (
  SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' ')) AS term
  FROM documents)
WHERE length(term) > 0
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""


def _q_frame_sample(spark, sf_dir):
    payloads = multimodal.attach_binary_payload(read_table(spark, sf_dir, "documents"))
    frames = multimodal.frame_sample_stub(payloads, every_n_bytes=64, max_frames=8)
    return frames.select(
        "doc_id", "frame_idx", F.md5("frame_bytes").alias("frame_md5")
    )


# documents text is pure ASCII (verified at sf0.1), so byte offsets equal
# character offsets and DuckDB's varchar substring replays the binary slicing
_FRAME_SAMPLE_SQL = """
SELECT doc_id, i AS frame_idx, md5(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_md5
FROM documents,
     UNNEST(generate_series(0, least(7, CAST(floor(length(text) / 64) AS BIGINT)))) AS t(i)
"""


def _q_label_neardup(spark, sf_dir):
    return similarity.label_blocked_near_dup(
        _spread_embs(spark, sf_dir), threshold=0.3
    )


_LABEL_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) >= 0.3
"""


def _q_infer_embeddings_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type inference in native mode (compat_nested=False): the
    array<float> column reports its real Spark type instead of the
    reference's varchar flattening.  Scalar columns are unchanged."""
    df = read_table(spark, sf_dir, "embeddings")
    return inference_to_df(
        spark, infer_table_schema(df, compat_nested=False)
    ).select("field", "proposed_type")


_INFER_NATIVE_SQL = """
SELECT * FROM (VALUES
  ('vec_id', 'int4'),
  ('embedding', 'array<float>'),
  ('label', 'int4')) AS t(field, proposed_type)
"""


_CSV_DIRS: dict[str, str] = {}


def _region_csv_path(sf_dir: str) -> str:
    """Materialize the driver's region table as a `|`-delimited CSV once per
    sf_dir (same data, different encoding — exercises the CSV scan path)."""
    if sf_dir not in _CSV_DIRS:
        import csv
        import tempfile

        import pyarrow.parquet as pq

        d = tempfile.mkdtemp(prefix="region_csv_")
        tbl = pq.read_table(f"{sf_dir.rstrip('/')}/region.parquet")
        path = f"{d}/region.csv"
        with open(path, "w", newline="") as f:
            w = csv.writer(f, delimiter="|", quotechar='"')
            w.writerow(tbl.column_names)
            for row in zip(*[c.to_pylist() for c in tbl.columns]):
                w.writerow(row)
        _CSV_DIRS[sf_dir] = path
    return _CSV_DIRS[sf_dir]


def _q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan (SURVEY 2A #1): read the `|`-delimited re-encoding of region
    through the reference-default CSV reader; values must equal the parquet
    table DuckDB reads."""
    from spark_auto_schema.io import load_file

    df = load_file(spark, _region_csv_path(sf_dir), fmt="csv")
    return df.select(
        F.col("r_regionkey").cast("long").alias("r_regionkey"), "r_name"
    )


def _q_csv_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference over the CSV encoding must propose the same types as over
    parquet (CSV schema inference feeds the same decision tree)."""
    from spark_auto_schema.io import load_file

    df = load_file(spark, _region_csv_path(sf_dir), fmt="csv")
    return inference_to_df(spark, infer_table_schema(df)).select(
        "field", "proposed_type"
    )


_FMT_DIRS: dict[tuple[str, str], str] = {}


def _region_fmt_path(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Materialize region in another source format once per (sf_dir, fmt) —
    same data, different encoding, exercising that reader path."""
    key = (sf_dir, fmt)
    if key not in _FMT_DIRS:
        import tempfile

        d = tempfile.mkdtemp(prefix=f"region_{fmt}_")
        read_table(spark, sf_dir, "region").coalesce(1).write.mode(
            "overwrite"
        ).format(fmt).save(d)
        _FMT_DIRS[key] = d
    return _FMT_DIRS[key]


_VALUE_TIERS = [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1e9)]


def _q_range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (SURVEY 2A gap-filler): classify event values into tiers
    via a broadcast band table, then count per (event_type, tier)."""
    e = read_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(_VALUE_TIERS, "tier string, lo double, hi double")
    joined = relational.range_join(e, tiers, "value", "lo", "hi")
    return joined.groupBy("event_type", "tier").agg(
        F.count(F.lit(1)).alias("n")
    )


def _range_join_oracle_sql() -> str:
    vals = ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in _VALUE_TIERS)
    return f"""
WITH tiers(tier, lo, hi) AS (VALUES {vals})
SELECT event_type, tier, count(*) AS n
FROM events JOIN tiers ON value >= lo AND value < hi
GROUP BY event_type, tier
"""


def _q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan: region re-encoded as JSONL, read back via the
    generic format path; values must equal the parquet truth."""
    from spark_auto_schema.io import load_file

    df = load_file(spark, _region_fmt_path(spark, sf_dir, "json"), fmt="json")
    return df.select(F.col("r_regionkey").cast("long").alias("r_regionkey"), "r_name")


def _q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan through the same generic format dispatch."""
    from spark_auto_schema.io import load_file

    df = load_file(spark, _region_fmt_path(spark, sf_dir, "orc"), fmt="orc")
    return df.select(F.col("r_regionkey").cast("long").alias("r_regionkey"), "r_name")


def _q_bucketed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path read-back for ``io.write_bucketed``: lineitem written as
    an 8-bucket external table bucketed+sorted on l_orderkey, read back
    through the catalog, and aggregated — the aggregate must equal the same
    aggregate DuckDB computes over the SOURCE parquet, proving the bucketed
    write neither drops, duplicates, nor mutates rows.  (The no-Exchange
    join property of the bucketed layout is plan-asserted separately in
    tests/test_plans.py.)  The tiny aggregate is collected BEFORE the table
    is dropped — cleanup must not race the lazy scan — so the returned
    frame is a local literal."""
    import shutil
    import tempfile

    from spark_auto_schema.io import write_bucketed

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice",
    )
    d = tempfile.mkdtemp(prefix="bucketed_rt_")
    tbl = "bucketed_rt_lineitem"
    try:
        write_bucketed(li, tbl, "l_orderkey", buckets=8, path=f"{d}/{tbl}")
        rows = (
            spark.table(tbl)
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                r["l_returnflag"],
                r["l_linestatus"],
                float(r["sum_qty"]),
                float(r["sum_base_price"]),
                r["n"],
            )
            for r in rows
        ],
        "l_returnflag string, l_linestatus string, sum_qty double, "
        "sum_base_price double, n bigint",
    )


_BUCKETED_ROUNDTRIP_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def _q_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path read-back for ``io.write_partitioned``: lineitem written
    partitioned by l_returnflag, read back with a partition-pruning filter
    (only the ``l_returnflag=R`` directory is scanned — pruning itself is
    plan-asserted in tests/test_plans.py), and aggregated; must equal the
    filtered aggregate over the source parquet in DuckDB.  Collected before
    cleanup for the same lazy-scan reason as the bucketed twin."""
    import shutil
    import tempfile

    from spark_auto_schema.io import write_partitioned

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    d = tempfile.mkdtemp(prefix="partitioned_rt_")
    try:
        write_partitioned(li, d, ["l_returnflag"])
        rows = (
            spark.read.parquet(d)
            .where(F.col("l_returnflag") == "R")
            .groupBy("l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                r["l_linestatus"],
                float(r["sum_qty"]),
                float(r["sum_base_price"]),
                r["n"],
            )
            for r in rows
        ],
        "l_linestatus string, sum_qty double, sum_base_price double, n bigint",
    )


_PARTITIONED_ROUNDTRIP_SQL = """
SELECT l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       count(*) AS n
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_linestatus
"""


