"""Behavioral analytics, collocations, MERGE, schema evolution, funnels, data-quality gates.

Mechanically split from __spark_entry__.py (round 11); no semantic change.
Assembled by __spark_entry__.queries() / oracle_sql() — the single driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import SparkSession
from pyspark.sql.window import Window
from spark_auto_schema import _cache
from spark_auto_schema.ops import corpus
from spark_auto_schema.ops import dedup
from spark_auto_schema.ops import multimodal
from spark_auto_schema.ops import packing
from spark_auto_schema.io import read_table
from spark_auto_schema.ops import relational
from spark_auto_schema.ops import sampling
from spark_auto_schema.ops import similarity
from spark_auto_schema.ops import text
from spark_auto_schema.registry.inference import (_infer_table_sql)
from spark_auto_schema.registry.extensions import (_spread_docs, _spread_embs, _stop_pat)

# ---------------------------------------------------------------------------
# round-6 additions: behavioral analytics, collocations, MERGE, schema
# evolution (ops/analytics.py, ops/text.py bigram_pmi, ops/relational.py
# merge_upsert, io.py read_parquet_evolving)
# ---------------------------------------------------------------------------


def _q_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle over the event log: two hash aggs
    and one dim-sized join (ops/analytics.cohort_retention)."""
    from spark_auto_schema.ops import analytics

    e = read_table(spark, sf_dir, "events")
    return analytics.cohort_retention(e, "user_id", "ts", bucket="week")


_RETENTION_SQL = """
WITH f AS (SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
           FROM events GROUP BY 1),
a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.w) / 7 AS INT) AS week_offset,
       count(*) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup -> click -> purchase funnel on first touches: one
    conditional-min aggregate per user, strictly-increasing chain check
    (ops/analytics.funnel_counts)."""
    from spark_auto_schema.ops import analytics

    e = read_table(spark, sf_dir, "events")
    return analytics.funnel_counts(
        e, "user_id", "ts", "event_type", ["signup", "click", "purchase"]
    )


_FUNNEL_SQL = """
WITH m AS (SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
           FROM events GROUP BY 1)
SELECT 1 AS stage_idx, 'signup' AS stage,
       count(*) FILTER (WHERE t0 IS NOT NULL) AS n_users FROM m
UNION ALL
SELECT 2, 'click',
       count(*) FILTER (WHERE t0 IS NOT NULL AND t1 > t0) FROM m
UNION ALL
SELECT 3, 'purchase',
       count(*) FILTER (WHERE t0 IS NOT NULL AND t1 > t0 AND t2 > t1) FROM m
"""


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of events.value; bin arithmetic is the
    same double expression the oracle evaluates, so assignment bit-matches
    (ops/analytics.value_histogram)."""
    from spark_auto_schema.ops import analytics

    e = read_table(spark, sf_dir, "events")
    return analytics.value_histogram(e, "value", nbins=20)


_HISTOGRAM_SQL = """
WITH s AS (SELECT CAST(min(value) AS DOUBLE) AS mn, CAST(max(value) AS DOUBLE) AS mx
           FROM events),
b AS (SELECT CAST(least(floor((CAST(value AS DOUBLE) - mn) * 20 / (mx - mn)), 19) AS INT) AS bin,
             mn, mx
      FROM events, s)
SELECT bin,
       round(min(mn + bin * ((mx - mn) / 20)), 4) AS lo,
       round(min(mn + (bin + 1) * ((mx - mn) / 20)), 4) AS hi,
       count(*) AS n
FROM b GROUP BY bin
"""


def _q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier summary at |z| > 2.5; z is rounded to
    4 decimals before the comparison so the boundary is engine-stable
    (ops/analytics.zscore_outliers)."""
    from spark_auto_schema.ops import analytics

    e = read_table(spark, sf_dir, "events")
    return analytics.zscore_outliers(e, "event_type", "value", threshold=2.5)


_ZSCORE_SQL = """
WITH s AS (SELECT event_type AS k, avg(CAST(value AS DOUBLE)) AS mu,
                  stddev_samp(CAST(value AS DOUBLE)) AS sd
           FROM events GROUP BY 1)
SELECT event_type, count(*) AS n,
       count(*) FILTER (WHERE round(abs(CAST(value AS DOUBLE) - mu) / sd, 4) > 2.5)
         AS n_outliers,
       round(min(mu), 4) AS avg_value,
       round(min(sd), 4) AS stddev_value
FROM events JOIN s ON event_type = k
GROUP BY event_type
"""


def _q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI over documents (min bigram count
    5); tokenization shared with top_terms (ops/text.bigram_pmi)."""
    d = read_table(spark, sf_dir, "documents")
    return text.bigram_pmi(d, text_col="text", min_count=5, k=20)


_BIGRAM_PMI_SQL = r"""
WITH toks AS (
  SELECT list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
                     x -> len(x) > 0) AS t
  FROM documents),
tot AS (SELECT CAST(sum(len(t)) AS DOUBLE) AS nu,
               CAST(sum(greatest(len(t) - 1, 0)) AS DOUBLE) AS nb
        FROM toks),
uni AS (SELECT term, CAST(count(*) AS DOUBLE) AS c
        FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1),
big AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS n
        FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                           i -> [t[i], t[i + 1]])) AS p
              FROM toks)
        GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT w1, w2, n,
       round(ln((n / nb) / ((u1.c / nu) * (u2.c / nu))), 4) AS pmi
FROM big JOIN uni u1 ON big.w1 = u1.term JOIN uni u2 ON big.w2 = u2.term, tot
ORDER BY pmi DESC, w1, w2 LIMIT 20
"""


def _q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert) driven through ops/relational.merge_upsert: a
    deterministic update batch (every 7th order re-priced + re-statused,
    every 97th inserted as a new key) merged into orders, then aggregated
    per status — the oracle replays the same merge as a per-column
    coalesce over a full outer join (equivalent here: the update batch has
    no NULLs)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
    )
    new = o.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    merged = relational.merge_upsert(o, upd.unionByName(new), "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


_MERGE_UPSERT_SQL = """
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 100 AS o_totalprice
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'N', o_totalprice
  FROM base WHERE o_orderkey % 97 = 0),
merged AS (
  SELECT coalesce(u.o_orderstatus, b.o_orderstatus) AS st,
         coalesce(u.o_totalprice, b.o_totalprice) AS price
  FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey)
SELECT st AS o_orderstatus, count(*) AS n, round(sum(price), 2) AS sum_price
FROM merged GROUP BY 1
"""


def _q_merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE ... WHEN NOT MATCHED THEN INSERT only (insert_only=True):
    matched update rows are IGNORED (base wins), unmatched rows insert —
    the append-only ingest pattern.  Same batch as merge_upsert_orders,
    so the two queries pin both precedence modes against each other."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
    )
    new = o.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    merged = relational.merge_upsert(
        o, upd.unionByName(new), "o_orderkey", insert_only=True
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


_MERGE_INSERT_ONLY_SQL = """
WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 100 AS o_totalprice
  FROM base WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'N', o_totalprice
  FROM base WHERE o_orderkey % 97 = 0),
merged AS (
  SELECT coalesce(b.o_orderstatus, u.o_orderstatus) AS st,
         coalesce(b.o_totalprice, u.o_totalprice) AS price
  FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey)
SELECT st AS o_orderstatus, count(*) AS n, round(sum(price), 2) AS sum_price
FROM merged GROUP BY 1
"""


def _q_range_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path read-back for ``io.write_range_partitioned``: events
    written range-sorted on value (8 files, disjoint spans — the zone-map
    property is plan/stat-asserted in tests/test_plans.py), read back
    with a range predicate, aggregated; must equal the filtered aggregate
    over the source parquet.  Collected before cleanup (lazy-scan race,
    same as the other roundtrips)."""
    import shutil
    import tempfile

    from spark_auto_schema.io import write_range_partitioned

    e = read_table(spark, sf_dir, "events").select("event_type", "value")
    d = tempfile.mkdtemp(prefix="range_rt_")
    try:
        write_range_partitioned(e, d, "value", num_files=8)
        rows = (
            spark.read.parquet(d)
            .where(F.col("value") > 50.0)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [(r["event_type"], r["n"], float(r["sum_value"])) for r in rows],
        "event_type string, n bigint, sum_value double",
    )


_RANGE_ROUNDTRIP_SQL = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events WHERE value > 50.0 GROUP BY event_type
"""


def _q_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read-back for ``io.read_parquet_evolving`` — the
    scenario the reference library exists for (a landed dataset gains a
    column; RedshiftAutoSchema.py's diff then proposes ALTER ADD COLUMN):
    v1 files (even order keys, 3 columns) and v2 files (odd keys, +
    o_orderpriority) written into ONE dataset dir, read back with footer
    merging, aggregated; must equal the CASE-reconstructed aggregate over
    the source table in DuckDB.  Collected before cleanup (lazy-scan race,
    same as bucketed_roundtrip)."""
    import shutil
    import tempfile

    from spark_auto_schema.io import read_parquet_evolving

    o = read_table(spark, sf_dir, "orders")
    v1 = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    d = tempfile.mkdtemp(prefix="schema_evo_rt_")
    try:
        v1.write.mode("append").parquet(d)
        v2.write.mode("append").parquet(d)
        rows = (
            read_parquet_evolving(spark, d)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("o_orderpriority").alias("n_with_priority"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                r["o_orderstatus"],
                r["n"],
                r["n_with_priority"],
                float(r["sum_price"]),
            )
            for r in rows
        ],
        "o_orderstatus string, n bigint, n_with_priority bigint, sum_price double",
    )


_SCHEMA_EVOLUTION_SQL = """
SELECT o_orderstatus, count(*) AS n,
       count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS n_with_priority,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders GROUP BY 1
"""


def _q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic over events.user_id: top-5 hottest keys with
    corpus share and the global max/mean skew ratio — the measurement that
    decides between plain shuffle, salting, AQE skew-split, or broadcast
    (ops/skew.skew_profile)."""
    from spark_auto_schema.ops import skew

    e = read_table(spark, sf_dir, "events")
    return skew.skew_profile(e, "user_id", top_k=5)


_SKEW_PROFILE_SQL = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
           FROM events GROUP BY 1),
s AS (SELECT CAST(sum(n) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS nk,
             CAST(max(n) AS DOUBLE) AS mx
      FROM c)
SELECT key, n, round(n / total, 6) AS share, round(mx * nk / total, 4) AS skew_ratio
FROM c, s ORDER BY n DESC, key LIMIT 5
"""


def _q_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (salted) — must equal the plain
    group-by the oracle computes."""
    from spark_auto_schema.ops import skew

    e = read_table(spark, sf_dir, "events")
    out = skew.salted_aggregate(
        e,
        key_col="event_type",
        row_key_col="event_id",
        aggs={
            "n_events": ("event_id", "count"),
            "max_value": ("value", "max"),
        },
        salt=8,
    )
    return out.select(
        "event_type", "n_events", F.round("max_value", 4).alias("max_value")
    )


_SALTED_COUNTS_SQL = """
SELECT event_type, count(event_id) AS n_events, round(max(value), 4) AS max_value
FROM events GROUP BY event_type
"""


def _q_catalog_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog point lookups (SURVEY 2A #20-21) pushed through the driver
    gate: probe existing + missing schema/table/view, emit (probe, result)."""
    from spark_auto_schema import catalog

    read_table(spark, sf_dir, "region").createOrReplaceTempView("__cat_probe_region")
    rows = [
        ("schema_default_exists", catalog.schema_exists(spark, "default")),
        ("schema_missing", catalog.schema_exists(spark, "no_such_schema_xyz")),
        ("view_counts_as_table", spark.catalog.tableExists("__cat_probe_region")),
        ("table_missing", catalog.table_exists(spark, "default", "no_such_tbl_xyz")),
    ]
    return spark.createDataFrame(rows, "probe string, result boolean")


_CATALOG_CHECKS_SQL = """
SELECT * FROM (VALUES
  ('schema_default_exists', TRUE),
  ('schema_missing', FALSE),
  ('view_counts_as_table', TRUE),
  ('table_missing', FALSE)) AS t(probe, result)
"""

# Fixed input for the DDL-emitter golden check: every emitter feature at once
# (notype coercion, export field, PK, DISTKEY, SORTKEY, grants, ALTER, Spark
# dialect).  SURVEY 2A #29-30.
_DDL_COLUMNS = [
    ("id", "int8"),
    ("name", "varchar(256)"),
    ("price", "float8"),
    ("extra", "notype"),
]


def _q_ddl_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_auto_schema import ddl

    rows = [
        ("schema_ddl", ddl.generate_schema_ddl("analytics")),
        ("schema_grant", ddl.generate_schema_permissions("analytics")),
        (
            "table_ddl",
            ddl.generate_table_ddl(
                "analytics",
                "widgets",
                _DDL_COLUMNS,
                export_field_name="export_date",
                export_field_type="date",
                primary_key="id",
                dist_key="id",
                sort_key="id,name",
            ),
        ),
        ("table_grant", ddl.generate_table_permissions("analytics", "widgets")),
        (
            "column_ddl",
            ddl.generate_column_ddl(
                "analytics", "widgets", [("added_col", "varchar(256)")]
            ),
        ),
        (
            "spark_ddl",
            ddl.generate_spark_table_ddl(
                "analytics", "widgets", _DDL_COLUMNS, partitioned_by=["id"]
            ),
        ),
    ]
    return spark.createDataFrame(rows, "kind string, ddl string")


def _ddl_strings_oracle_sql() -> str:
    """Golden strings, independently written (mirrors the reference's output
    shape at RedshiftAutoSchema.py:125-200 minus its to_string whitespace)."""
    golden = {
        "schema_ddl": "CREATE SCHEMA IF NOT EXISTS analytics;",
        "schema_grant": "GRANT USAGE ON SCHEMA analytics TO GROUP dbreader;",
        "table_ddl": (
            "CREATE TABLE analytics.widgets (\n"
            '"id" int8\n'
            ', "name" varchar(256)\n'
            ', "price" float8\n'
            ', "extra" varchar(256)\n'
            " , export_date date\n"
            " , PRIMARY KEY (id)\n"
            ")\n"
            "DISTKEY (id)\n"
            "SORTKEY (id,name)\n"
        ),
        "table_grant": "GRANT SELECT ON analytics.widgets TO GROUP dbreader;",
        "column_ddl": "ALTER TABLE analytics.widgets ADD COLUMN added_col varchar(256);",
        "spark_ddl": (
            "CREATE TABLE analytics.widgets (\n"
            "  id BIGINT,\n"
            "  name STRING,\n"
            "  price DOUBLE,\n"
            "  extra STRING\n"
            ")\n"
            "USING parquet\n"
            "PARTITIONED BY (id)"
        ),
    }
    vals = ", ".join(
        "('{k}', e'{v}')".format(k=k, v=v.replace("\\", "\\\\").replace("\n", "\\n").replace("'", "''"))
        for k, v in golden.items()
    )
    return f"SELECT * FROM (VALUES {vals}) AS t(kind, ddl)"


def _q_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    o = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    return e.intersect(o)


def _q_except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # set-semantics EXCEPT: distinct-subtract, matching SQL EXCEPT exactly
    # (exceptAll().distinct() keeps keys whose multiplicity merely exceeds
    # the right side's, which only coincidentally matches on this data)
    o = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    e = read_table(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    return o.subtract(e)


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    piv = e.groupBy("user_id").pivot("event_type", list(_EVENT_TYPES)).count()
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


def _pivot_oracle_sql() -> str:
    cols = ", ".join(
        f"count(*) FILTER (event_type = '{t}') AS {t}" for t in _EVENT_TYPES
    )
    return f"SELECT user_id, {cols} FROM events GROUP BY user_id"


def _q_moving_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.sum("o_totalprice").alias("total")
    )
    w = Window.orderBy("month").rowsBetween(-2, 0)
    return monthly.select(
        "month", F.round(F.avg("total").over(w), 2).alias("ma3")
    )


_MOVING_AVG_SQL = """
WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, sum(o_totalprice) AS total
           FROM orders GROUP BY 1)
SELECT month, round(avg(total) OVER (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS ma3
FROM m
"""


def _q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
    )


_PERCENTILES_SQL = """
SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90
FROM events GROUP BY event_type
"""


def _q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode(F.col("embedding").cast("array<double>")))
    return ex.groupBy(F.col("pos").alias("dim")).agg(
        F.round(F.avg("col"), 4).alias("avg_x"),
        F.round(F.min("col"), 4).alias("min_x"),
        F.round(F.max("col"), 4).alias("max_x"),
    )


_EMBEDDING_DIM_STATS_SQL = """
SELECT i - 1 AS dim,
       round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS avg_x,
       round(min(CAST(embedding[i] AS DOUBLE)), 4) AS min_x,
       round(max(CAST(embedding[i] AS DOUBLE)), 4) AS max_x
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY 1
"""


_STREAM_SEQ = iter(range(1, 1_000_000))
_STREAM_DIRS: dict[str, str] = {}


def _stage_events(src: str, d: str, tag: str) -> None:
    """Copy the events table into a drop-dir as one or more parquet drops.
    Handles both shapes the table arrives in: the driver testdata's single
    file AND a Spark-written DIRECTORY of part files (the scaling probe's
    replica corpora)."""
    import glob
    import os
    import shutil

    if os.path.isdir(src):
        parts = sorted(glob.glob(f"{src}/part-*.parquet")) or sorted(
            glob.glob(f"{src}/*.parquet")
        )
        for i, p in enumerate(parts):
            shutil.copy(p, f"{d}/drop{tag}_{i}.parquet")
    else:
        shutil.copy(src, f"{d}/drop{tag}.parquet")


def _events_stream_dir(sf_dir: str) -> str:
    """File-source streams need a *directory*; stage the events file into a
    temp drop-dir once per sf_dir."""
    if sf_dir not in _STREAM_DIRS:
        import tempfile

        d = tempfile.mkdtemp(prefix="events_stream_")
        _stage_events(f"{sf_dir.rstrip('/')}/events.parquet", d, "1")
        _STREAM_DIRS[sf_dir] = d
    return _STREAM_DIRS[sf_dir]


def _events_stream_dir_dup(sf_dir: str) -> str:
    """Drop-dir with the events file staged TWICE — an at-least-once source
    that redelivers every record, for exercising streaming dedup."""
    key = f"{sf_dir}#dup"
    if key not in _STREAM_DIRS:
        import tempfile

        d = tempfile.mkdtemp(prefix="events_stream_dup_")
        src = f"{sf_dir.rstrip('/')}/events.parquet"
        _stage_events(src, d, "1")
        _stage_events(src, d, "2")
        _STREAM_DIRS[key] = d
    return _STREAM_DIRS[key]


def _q_streaming_dedup(spark, sf_dir):
    """Streaming exactly-once dedup, value-checked: every event is delivered
    TWICE (two copies of the file in the drop-dir); after
    dropDuplicatesWithinWatermark on event_id the per-type counts must equal
    the batch counts over the ORIGINAL (single-copy) table — which is what
    the oracle computes.  The dedup happens in the stream (stateful,
    watermark-bounded); the memory sink is then aggregated as a batch."""
    from spark_auto_schema.streaming import (
        read_event_stream,
        run_to_memory,
        streaming_dedup,
    )

    name = f"__stream_dedup_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _events_stream_dir_dup(sf_dir))
    run_to_memory(
        streaming_dedup(stream, ["event_id"]), name, state_partitions=8
    )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_STREAMING_DEDUP_SQL = """
SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
"""


def _q_salted_join_segments(spark, sf_dir):
    """Exact skew-safe join driven through the gate: events (big, skewed
    user) salted-joined to customer (mid-size dim) on the user key, then
    aggregated per market segment — must equal the plain join the oracle
    computes."""
    from spark_auto_schema.ops import skew

    e = read_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("cust"), "event_id", "value"
    )
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), "c_mktsegment"
    )
    joined = skew.salted_join(e, c, on="cust", big_row_key="event_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_SALTED_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def _q_weighted_sample(spark, sf_dir):
    """Weight-proportional top-k sample (A-ES), weights = document length;
    the oracle replays the identical u^(1/w) race, rebuilding the 8-hex-digit
    md5-prefix uniform as CAST('0x' || prefix AS BIGINT)."""
    d = read_table(spark, sf_dir, "documents").withColumn(
        "w", F.length("text").cast("double")
    )
    return sampling.weighted_sample(d, "doc_id", "w", k=50).select("doc_id", "w")


_WEIGHTED_SAMPLE_SQL = """
WITH d AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents
), u AS (
  SELECT doc_id, w,
         (CAST(('0x' || h) AS BIGINT) + 1.0) / 4294967296.0 AS u
  FROM d WHERE w > 0
)
SELECT doc_id, w FROM u ORDER BY pow(u, 1.0 / w) DESC, doc_id LIMIT 50
"""


def _q_chunk_documents(spark, sf_dir):
    """Corpus -> training/RAG units: 64-token windows advancing by 48 (16
    overlap); the oracle re-slices the same whitespace token arrays."""
    return text.chunk_documents(
        read_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


_CHUNK_DOCS_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, t.i // 48 AS chunk_id,
       array_to_string(w[t.i + 1 : t.i + 64], ' ') AS chunk_text,
       least(len(w) - t.i, 64) AS n_tokens
FROM w, UNNEST(generate_series(0, greatest(len(w) - 1, 0), 48)) AS t(i)
WHERE length(array_to_string(w[t.i + 1 : t.i + 64], ' ')) > 0
"""


def _q_sample_bias_audit(spark, sf_dir):
    """Stratification audit (`ops/sampling.py` sample_bias_audit): per
    source, the realized hash_sample rate at fraction 0.15 vs target,
    with relative deviation — the one-pass check that the deterministic
    sampler is not silently biased against any source.  The oracle
    replays the shared md5-prefix threshold and both rate columns."""
    return sampling.sample_bias_audit(
        read_table(spark, sf_dir, "documents"),
        key_col="doc_id",
        group_col="source",
        fraction=_SBIAS_FRACTION,
    )


_SBIAS_FRACTION = 0.15


def _sample_bias_oracle_sql() -> str:
    thr = sampling.fraction_threshold(_SBIAS_FRACTION)
    # deviation vs the REALIZED threshold probability (r10-advice fix),
    # interpolated from the op's own helper so both engines stay in lockstep
    f = sampling.realized_fraction(_SBIAS_FRACTION)
    snap = lambda e: f"CAST(round(CAST({e} AS DECIMAL(18,12)), 6) AS DOUBLE)"
    return f"""
WITH k AS (
  SELECT source AS grp,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{thr}'
              THEN 1 ELSE 0 END AS kp
  FROM documents
)
SELECT grp, count(*) AS n_corpus,
       CAST(sum(kp) AS BIGINT) AS n_sampled,
       {snap("sum(kp) * 1.0 / count(*)")} AS rate,
       {snap(f"(sum(kp) * 1.0 / count(*) - {f}) / {f}")} AS rel_deviation
FROM k GROUP BY 1
"""


def _q_chunk_reconstruction(spark, sf_dir):
    """Chunking losslessness contract (`ops/text.py`
    chunk_reconstruction_check, 64/16 — chunk_documents' registry
    config): every document reassembled from its actual chunk output
    must equal its own token stream, with the exact overlap overhead
    accounted.  The oracle replays the chunk windows, the
    keep-first-step / full-last-chunk reassembly, and the compare."""
    return text.chunk_reconstruction_check(
        read_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


_CHUNK_RECON_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ch AS (
  SELECT doc_id, t.i // 48 AS chunk_id,
         array_to_string(w[t.i + 1 : t.i + 64], ' ') AS chunk_text,
         least(len(w) - t.i, 64) AS n_tokens
  FROM w, UNNEST(generate_series(0, greatest(len(w) - 1, 0), 48)) AS t(i)
  WHERE length(array_to_string(w[t.i + 1 : t.i + 64], ' ')) > 0
), mx AS (SELECT doc_id, max(chunk_id) AS m FROM ch GROUP BY 1),
parts AS (
  SELECT ch.doc_id, chunk_id, n_tokens,
         CASE WHEN chunk_id < m
              THEN array_to_string(string_split(chunk_text, ' ')[1:48], ' ')
              ELSE chunk_text END AS part
  FROM ch JOIN mx USING (doc_id)
), rb AS (
  SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens_total,
         string_agg(part, ' ' ORDER BY chunk_id) AS rebuilt
  FROM parts GROUP BY 1
)
SELECT w.doc_id, rb.n_chunks,
       CAST(len(w.w) AS BIGINT) AS doc_tokens,
       rb.chunk_tokens_total,
       rb.chunk_tokens_total - CAST(len(w.w) AS BIGINT) AS overhead_tokens,
       rb.rebuilt = array_to_string(w.w, ' ') AS ok
FROM w JOIN rb ON w.doc_id = rb.doc_id
"""


def _q_label_centroids(spark, sf_dir):
    """Element-wise mean embedding per label (class prototypes); oracle
    recomputes via UNNEST + per-position averages.  The gate output is the
    EXPLODED (label, pos, m) form — scalar columns only, because the
    harness's canonicalizer sorts on every column and array cells are
    unsortable; the library op still returns the assembled centroid
    array."""
    out = similarity.label_centroids(read_table(spark, sf_dir, "embeddings"))
    return out.select(
        "label", "n_vectors", F.posexplode("centroid").alias("pos", "m")
    ).select("label", "pos", "m", "n_vectors")


_LABEL_CENTROIDS_SQL = """
SELECT label, t.i - 1 AS pos,
       round(avg(CAST(embedding[t.i] AS DOUBLE)), 6) AS m,
       count(*) AS n_vectors
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY label, t.i
"""


def _q_gopher_filter(spark, sf_dir):
    return text.gopher_quality_filter(read_table(spark, sf_dir, "documents"))


def _gopher_oracle_sql() -> str:
    """Generated from the same ops.text.GOPHER_* constants as the Spark op."""
    stop = f"len(regexp_extract_all(text, '{_stop_pat('en')}'))"
    nw = "len(string_split(text, ' '))"
    awl = f"(length(replace(text, ' ', '')) / {nw})"
    af = (
        "(len(list_filter(string_split(text, ' '), "
        f"w -> regexp_matches(w, '[A-Za-z]'))) / {nw})"
    )
    wc = f"({nw} >= {text.GOPHER_MIN_WORDS} AND {nw} <= {text.GOPHER_MAX_WORDS})"
    wl = (
        f"({awl} >= {text.GOPHER_MIN_AVG_WORD_LEN}::DOUBLE AND "
        f"{awl} <= {text.GOPHER_MAX_AVG_WORD_LEN}::DOUBLE)"
    )
    so = f"({stop} >= {text.GOPHER_MIN_STOPWORD_HITS})"
    ao = f"({af} >= {text.GOPHER_MIN_ALPHA_FRAC}::DOUBLE)"
    return (
        f"SELECT doc_id, {wc} AS wordcount_ok, {wl} AS word_len_ok, "
        f"{so} AS stop_ok, {ao} AS alpha_ok, "
        f"({wc} AND {wl} AND {so} AND {ao}) AS keep FROM documents"
    )


def _q_unigram_logprob(spark, sf_dir):
    return text.unigram_logprob(read_table(spark, sf_dir, "documents"))


_UNIGRAM_LOGPROB_SQL = """
WITH toks AS (
  SELECT doc_id, t.w AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       UNNEST(ws) AS t(w)
  WHERE length(t.w) > 0
), model AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT sum(c) AS n, count(*) AS v FROM model),
lp AS (SELECT w, ln(CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE)) AS lp
       FROM model, tot)
SELECT doc_id,
       CAST(round(CAST(avg(lp) AS DECIMAL(18,10)), 4) AS DOUBLE) AS avg_logprob,
       count(*) AS n_tokens
FROM toks JOIN lp USING (w) GROUP BY doc_id
"""


def _q_quantize_embeddings(spark, sf_dir):
    """Scalar-quantization gate query.  The gate output is the EXPLODED
    (vec_id, pos, code, mean_abs_err) form — scalar columns only, because
    the harness's canonicalizer sorts on every column and array cells are
    unsortable; the library op still returns the packed codes array."""
    out = similarity.quantize_embeddings(read_table(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id", "mean_abs_err", F.posexplode("codes").alias("pos", "code")
    ).select("vec_id", "pos", "code", "mean_abs_err")


_QUANTIZE_SQL = """
WITH ex AS (
  SELECT vec_id, t.i - 1 AS pos, CAST(embedding[t.i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), stats AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM ex GROUP BY 1),
coded AS (
  SELECT vec_id, pos, v, lo, hi,
         CASE WHEN hi > lo
              THEN CAST(floor((v - lo) / (hi - lo) * 255 + 0.5) AS INT)
              ELSE 0 END AS code
  FROM ex JOIN stats USING (pos)
), werr AS (
  SELECT vec_id, pos, code,
         abs(v - (CASE WHEN hi > lo
                       THEN lo + code / 255::DOUBLE * (hi - lo)
                       ELSE lo END)) AS err
  FROM coded
)
SELECT vec_id, pos, code,
       CAST(round(CAST(avg(err) OVER (PARTITION BY vec_id) AS DECIMAL(18,10)), 6)
            AS DOUBLE) AS mean_abs_err
FROM werr
"""


def _q_repeated_ngram_coverage(spark, sf_dir):
    return dedup.repeated_ngram_coverage(_spread_docs(spark, sf_dir))


_REPEATED_NGRAM_SQL = """
WITH pos AS (
  SELECT doc_id AS id, md5(substr(text, t.i, 40)) AS g
  FROM documents,
       UNNEST(generate_series(1, greatest(length(text) - 39, 1))) AS t(i)
), rep AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT id) >= 2)
SELECT id AS doc_id, count(*) AS n_grams,
       count(CASE WHEN rep.g IS NOT NULL THEN 1 END) AS n_dup_grams,
       CAST(round(CAST(count(CASE WHEN rep.g IS NOT NULL THEN 1 END) / count(*)
                       AS DECIMAL(18,12)), 4) AS DOUBLE) AS dup_frac
FROM pos LEFT JOIN rep ON pos.g = rep.g
GROUP BY id
"""


def _q_vocab_coverage(spark, sf_dir):
    return text.vocab_coverage(read_table(spark, sf_dir, "documents"), vocab_size=10)


_VOCAB_COVERAGE_SQL = """
WITH toks AS (
  SELECT doc_id, t.w AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       UNNEST(ws) AS t(w)
  WHERE length(t.w) > 0
), vocab AS (
  SELECT w FROM (SELECT w, count(*) AS c FROM toks GROUP BY 1
                 ORDER BY c DESC, w LIMIT 10)
)
SELECT doc_id, count(*) AS n_tokens,
       count(CASE WHEN vocab.w IS NOT NULL THEN 1 END) AS n_covered,
       round(count(CASE WHEN vocab.w IS NOT NULL THEN 1 END) / count(*), 4)
           AS coverage
FROM toks LEFT JOIN vocab ON toks.w = vocab.w
GROUP BY doc_id
"""


def _q_tfidf_pairs(spark, sf_dir):
    # single-row-group input: spread before the term explode (3.3 -> 2.2 s)
    return text.tfidf_top_pairs(_spread_docs(spark, sf_dir))


_TFIDF_PAIRS_SQL = """
WITH toks AS (
  SELECT doc_id AS id, array_to_string(ws[i:i+2], ' ') AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       UNNEST(generate_series(1, greatest(len(ws) - 2, 1))) AS t(i)
), tf AS (SELECT id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
kept AS (
  SELECT w, ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / df) AS idf
  FROM dfreq
  WHERE df <= CAST(floor(0.5 * (SELECT count(*) FROM documents)) AS BIGINT)
),
wt AS (SELECT id, w, tf * idf AS wt FROM tf JOIN kept USING (w)),
norms AS (SELECT id, sqrt(sum(wt * wt)) AS nm FROM wt GROUP BY 1),
unit AS (SELECT id, w, wt / nm AS u FROM wt JOIN norms USING (id))
SELECT a.id AS id_a, b.id AS id_b, round(sum(a.u * b.u), 4) AS tfidf_sim
FROM unit a JOIN unit b USING (w) WHERE a.id < b.id
GROUP BY 1, 2 HAVING round(sum(a.u * b.u), 4) >= 0.2
"""


def _q_kmeans_inertia_ok(spark, sf_dir):
    """Accuracy contract for distributed Lloyd's k-means: 3 iterations from
    the deterministic hash-sampled init must not increase inertia, and the
    assignment must use at most k clusters.  The contract row (not the
    iterative state) is the oracle-checked value."""
    emb = _spread_embs(spark, sf_dir)
    cents3, assigned, history = similarity.kmeans_lloyd(emb, k=8, iters=3)
    i0 = history[0]  # inertia under the init centroids, free with iter 1
    # ONE final assignment scan serves both contract probes: sum(sq_dist)
    # IS kmeans_inertia(emb, cents3) (identical assignment expressions),
    # and the cluster count rides the same aggregate — formerly two extra
    # full scans (a second kmeans_assign pass + a distinct().count())
    # beyond `assigned`'s own (guide §1.2: fewer passes; 5.02 -> 2.79 s
    # fresh-process median at sf0.1)
    row = assigned.agg(
        F.sum("sq_dist").alias("inertia"),
        F.count_distinct("cluster").alias("n_clusters"),
    ).collect()[0]
    i3 = float(row["inertia"])
    rows = [
        ("inertia_nonincreasing", bool(i3 <= i0)),
        ("k_bound", bool(int(row["n_clusters"]) <= 8)),
    ]
    return spark.createDataFrame(rows, "method string, ok boolean")


_KMEANS_INERTIA_SQL = """
SELECT * FROM (VALUES ('inertia_nonincreasing', TRUE), ('k_bound', TRUE))
AS t(method, ok)
"""


def _q_pack_sequences(spark, sf_dir):
    """Documents -> fixed-token-budget training packs: BPE-ish token counts,
    8 hash buckets, budget 256.  The oracle replays the identical bucket
    assignment (md5-prefix arithmetic), hash ordering, window cumsum, and
    pack composition."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.regexp_count("text", F.lit(text.BPE_TOKEN_RE)).alias("tokens")
    )
    return packing.pack_sequences(
        toks, id_col="doc_id", token_col="tokens", budget=256, n_buckets=8
    )


def _q_packing_length_sweep(spark, sf_dir):
    """Packing-efficiency curve (`ops/packing.py` packing_length_sweep):
    pack counts and wasted-token fractions at budgets 128/256/512 from
    one budget-independent cumsum over the pack_sequences ordering
    (BPE-ish token counts, 8 hash buckets — the pack_sequences registry
    config).  The oracle replays the bucket/order/cumsum machinery and
    the per-budget projections."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(text.BPE_TOKEN_RE)).alias("tokens"),
    )
    return packing.packing_length_sweep(
        toks,
        budgets=_PACK_SWEEP_BUDGETS,
        id_col="doc_id",
        token_col="tokens",
        n_buckets=8,
    )


_PACK_SWEEP_BUDGETS = (128, 256, 512)


def _packing_length_sweep_oracle_sql() -> str:
    blist = ", ".join(str(b) for b in _PACK_SWEEP_BUDGETS)
    return r"""
WITH d AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
  FROM documents
), b AS (
  SELECT doc_id, tokens, h,
         CAST(('0x' || h8) AS BIGINT) % 8 AS bucket
  FROM d
), c AS (
  SELECT tokens, bucket,
         CAST(sum(tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM b
), e AS (
  SELECT tokens, bucket, cum, u.budget
  FROM c, UNNEST([""" + blist + r"""]) AS u(budget)
), packs AS (
  SELECT budget, bucket, (cum - tokens) // budget AS pack_local,
         sum(tokens) AS pt
  FROM e GROUP BY 1, 2, 3
)
SELECT CAST(budget AS INT) AS budget, count(*) AS n_packs,
       CAST(sum(pt) AS BIGINT) AS total_tokens,
       CAST(round(CAST(sum(greatest(budget - pt, 0)) * 1.0
                       / (count(*) * budget) AS DECIMAL(18,12)), 6)
            AS DOUBLE) AS waste_pct
FROM packs GROUP BY budget
"""


_PACK_SEQUENCES_SQL = r"""
WITH d AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS tokens,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
  FROM documents
), b AS (
  SELECT doc_id, tokens, h,
         CAST(('0x' || h8) AS BIGINT) % 8 AS bucket
  FROM d
), c AS (
  SELECT doc_id, tokens, h, bucket,
         CAST(sum(tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM b
), p AS (
  SELECT doc_id, tokens, h, bucket, (cum - tokens) // 256 AS pack_local
  FROM c
)
SELECT doc_id, tokens,
       CAST(bucket * 4294967296 + pack_local AS BIGINT) AS pack_id,
       CAST(row_number() OVER (PARTITION BY bucket, pack_local
                               ORDER BY h, doc_id) AS BIGINT) AS pack_pos
FROM p
"""


def _q_corpus_mix(spark, sf_dir):
    """Domain re-weighting: keep all English, half the German, a quarter of
    everything else — one CASE-threshold filter, no shuffle."""
    return packing.mix_by_column(
        read_table(spark, sf_dir, "documents"),
        domain_col="lang",
        key_col="doc_id",
        fractions={"en": 1.0, "de": 0.5},
        default_fraction=0.25,
    ).select("doc_id", "lang", "source")


_CORPUS_MIX_SQL = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE lang WHEN 'en' THEN 'g' WHEN 'de' THEN '8000' ELSE '4000' END
"""


# Incremental-dedup split: the first 75% of documents (by id-hash) are the
# already-deduplicated corpus; the rest arrive as the new batch.
_INCR_SPLIT = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) >= 'c000'"


def _incr_split(spark, sf_dir):
    # spread the single-row-group file before the split: both halves feed
    # md5-grade shingle+signature pipelines whose per-row work otherwise
    # runs in ONE scan task (guide §2.5 input parallelism; measured
    # 5.1 -> 2.9 s on incremental_near_dedup at sf0.1)
    docs = _spread_docs(spark, sf_dir)
    # Same predicate as _INCR_SPLIT, built from column functions (Spark's
    # SQL parser rejects un-lengthed VARCHAR casts that DuckDB requires).
    is_batch = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) >= "c000"
    return docs.where(is_batch), docs.where(~is_batch)


def _q_incremental_dedup(spark, sf_dir):
    """Exact dedup of a new batch against an existing corpus: surviving
    (content_hash, keep_id) rows whose content the corpus lacks."""
    batch, corpus = _incr_split(spark, sf_dir)
    return dedup.incremental_exact_dedup(batch, corpus)


_INCREMENTAL_DEDUP_SQL = f"""
WITH batch AS (SELECT doc_id, text FROM documents WHERE {_INCR_SPLIT}),
corpus AS (SELECT text FROM documents WHERE NOT ({_INCR_SPLIT})),
b AS (SELECT md5(text) AS content_hash, min(doc_id) AS keep_id
      FROM batch GROUP BY 1)
SELECT content_hash, keep_id FROM b
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = b.content_hash)
"""


def _q_incremental_near_dedup(spark, sf_dir):
    """Fuzzy incremental dedup, verification-grade: batch doc ids with no
    md5-MinHash-LSH-verified near-duplicate (jaccard >= 0.5) in the corpus.
    The oracle replays the full pipeline: shingles, md5 minhash signatures,
    band buckets, batch x corpus bucket collisions, exact-Jaccard verify."""
    batch, corpus = _incr_split(spark, sf_dir)
    return dedup.incremental_near_dedup(
        batch, corpus, verify_threshold=0.5, md5_grade=True
    ).select("doc_id")


_INCREMENTAL_NEAR_DEDUP_SQL = f"""
WITH split AS (
  SELECT doc_id, text, {_INCR_SPLIT} AS is_batch FROM documents
), sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM split),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
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
  SELECT DISTINCT n.id AS id_new, c.id AS id_cor
  FROM bands n
  JOIN bands c ON n.bi = c.bi AND n.bucket = c.bucket
  JOIN split sn ON sn.doc_id = n.id AND sn.is_batch
  JOIN split sc ON sc.doc_id = c.id AND NOT sc.is_batch
), sizes AS (
  SELECT id, count(*) AS sz FROM sh GROUP BY id
), inter AS (
  SELECT cd.id_new, cd.id_cor, count(*) AS c
  FROM cand cd
  JOIN sh a ON a.id = cd.id_new
  JOIN sh b ON b.id = cd.id_cor AND b.shingle = a.shingle
  GROUP BY cd.id_new, cd.id_cor
), dup AS (
  SELECT DISTINCT id_new
  FROM inter
  JOIN sizes sa ON sa.id = inter.id_new
  JOIN sizes sb ON sb.id = inter.id_cor
  WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) >= 0.5
)
SELECT doc_id FROM split
WHERE is_batch AND doc_id NOT IN (SELECT id_new FROM dup)
"""


def _q_dedup_clusters(spark, sf_dir):
    """Pair set -> keep/drop decision: connected components over the n-gram
    Jaccard near-dup pairs, each doc labeled with its cluster representative
    (min id).  The oracle rebuilds identical clusters with a recursive CTE
    over the same pair set."""
    pairs = dedup.ngram_jaccard_pairs(_spread_docs(spark, sf_dir), threshold=0.8)
    return dedup.dedup_clusters(pairs)


# The n-gram Jaccard pair set + transitive closure as a reusable CTE prefix
# (same shingling/threshold as _NGRAM_JACCARD_SQL / _DEDUP_CLUSTERS_SQL),
# ending in clusters(id, cluster_id) for queries that consume the cluster
# assignment rather than the pair set.
_CLUSTER_CLOSURE_CTE = """
WITH RECURSIVE sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), jac AS (
  SELECT id_a, id_b,
         CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) >= 0.8
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM jac
  UNION SELECT id_b, id_a FROM jac
), cc AS (
  SELECT DISTINCT src AS id, src AS comp FROM edges
  UNION
  SELECT e.dst AS id, c.comp FROM cc c JOIN edges e ON e.src = c.id
), clusters AS (
  SELECT id, min(comp) AS cluster_id FROM cc GROUP BY id
)
"""

# the closure's canonical projection (cc accumulates every label reachable
# from each node over symmetric edges; min = component min)
_DEDUP_CLUSTERS_SQL = _CLUSTER_CLOSURE_CTE + "SELECT id, cluster_id FROM clusters"


def _q_dedup_threshold_sweep(spark, sf_dir):
    """Dedup-pressure curve (`ops/dedup.py` dedup_threshold_sweep): pair
    and implicated-doc counts at candidate Jaccard cuts 0.7/0.8/0.9 from
    ONE pair pipeline at the loosest threshold — the production-cut
    tuning dial.  The oracle replays the shared shingle/jaccard CTEs and
    the per-threshold rollups (uncapped max_df at test scale so the SQL
    twin is exact)."""
    return dedup.dedup_threshold_sweep(
        _spread_docs(spark, sf_dir),
        thresholds=_SWEEP_THRESHOLDS,
        max_df=None,
    )


_SWEEP_THRESHOLDS = (0.7, 0.8, 0.9)


def _dedup_threshold_sweep_oracle_sql() -> str:
    tlist = ", ".join(repr(t) for t in _SWEEP_THRESHOLDS)
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), jac AS (
  SELECT id_a, id_b,
         CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) >= {min(_SWEEP_THRESHOLDS)!r}
), ts AS (SELECT CAST(x AS DOUBLE) AS threshold FROM UNNEST([{tlist}]) AS u(x)),
h AS (
  SELECT ts.threshold, j.id_a, j.id_b
  FROM jac j JOIN ts ON j.jaccard >= ts.threshold
), np AS (SELECT threshold, count(*) AS c FROM h GROUP BY 1),
nd AS (
  SELECT threshold, count(DISTINCT id) AS c
  FROM (SELECT threshold, unnest([id_a, id_b]) AS id FROM h) GROUP BY 1
)
SELECT ts.threshold,
       CAST(coalesce(np.c, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(nd.c, 0) AS BIGINT) AS n_docs
FROM ts LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
"""


def _q_dedup_cluster_stats(spark, sf_dir):
    """Cluster-cohesion audit (`ops/dedup.py` cluster_stats) over the
    n-gram Jaccard pair set and its connected components: per cluster the
    member count, within-cluster edge count, graph density 2E/(m(m-1)),
    and mean edge Jaccard — the chain-formation sentinel guarding
    canonical collapse.  An edge counts only when BOTH endpoints map to
    the same cluster, and edge-free clusters are kept at density 0.0
    (r10-advice fix).  The oracle extends the shared closure CTE with
    the same two |clusters|-row aggregates."""
    # persist the pair set: dedup_clusters' edge build executes it during
    # query construction and cluster_stats re-reads it (twice — one join
    # per edge endpoint) at collect time; un-persisted the full n-gram
    # pair pipeline would run three times (guide §5)
    pairs = _cache.persist(
        dedup.ngram_jaccard_pairs(_spread_docs(spark, sf_dir), threshold=0.8)
    )
    return dedup.cluster_stats(pairs, dedup.dedup_clusters(pairs))


_DEDUP_CLUSTER_STATS_SQL = _CLUSTER_CLOSURE_CTE + """
, e AS (
  SELECT c.cluster_id, count(*) AS n_edges, avg(j.jaccard) AS aj
  FROM jac j
  JOIN clusters c  ON c.id  = j.id_a
  JOIN clusters c2 ON c2.id = j.id_b AND c2.cluster_id = c.cluster_id
  GROUP BY 1
), mm AS (
  SELECT cluster_id, count(*) AS n_members FROM clusters GROUP BY 1
)
SELECT mm.cluster_id, mm.n_members,
       CAST(coalesce(e.n_edges, 0) AS BIGINT) AS n_edges,
       coalesce(
         CAST(round(CAST(2.0 * e.n_edges / (mm.n_members * (mm.n_members - 1))
                         AS DECIMAL(18,12)), 6) AS DOUBLE), 0.0) AS density,
       CAST(round(CAST(e.aj AS DECIMAL(18,12)), 6) AS DOUBLE) AS avg_jaccard
FROM mm LEFT JOIN e USING (cluster_id)
"""


def _q_streaming_window_counts(spark, sf_dir):
    """Structured Streaming windowed aggregation drained with availableNow
    over the static events file — the result must equal the batch group-by,
    which is what the DuckDB oracle computes."""
    from spark_auto_schema.streaming import (
        read_event_stream,
        run_to_memory,
        windowed_event_counts,
    )

    name = f"__win_counts_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _events_stream_dir(sf_dir))
    run_to_memory(
        windowed_event_counts(stream, "1 hour", "2 hours"),
        name,
        output_mode="complete",
        # (window, event_type) state is ~330 rows and partial-aggregated:
        # 2 partitions are scale-correct (state tracks time, not data)
        state_partitions=2,
    )
    return spark.table(name)


# 1-hour tumbling windows are epoch-aligned = date_trunc('hour')
_STREAM_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def _q_streaming_user_stats(spark, sf_dir):
    from spark_auto_schema.streaming import (
        read_event_stream,
        run_to_memory,
        running_user_stats_stream,
    )

    name = f"__user_stats_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _events_stream_dir(sf_dir))
    # state partitions sized to key cardinality (1.5k users), not the batch
    # shuffle default — see run_to_memory's docstring
    run_to_memory(
        running_user_stats_stream(stream),
        name,
        output_mode="update",
        state_partitions=8,
    )
    # final state per user = the max-n_events emission
    t = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        t.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("user_id", "n_events", F.round("sum_value", 2).alias("sum_value"))
    )


def _q_streaming_domain_cap(spark, sf_dir):
    """Streaming frequency-cap monitor (`streaming.py` domain_cap_stream,
    cap 2000 on event_type): the ingest-time twin of domain_cap — per
    key the final running count, the admitted count min(n, cap), and the
    over-cap flag (the rare 'error' type stays under cap at sf0.01, the
    hot types trip it — both branches live).  Final state per key = the
    max-n_seen emission; the oracle is the batch group-by the stream
    must agree with."""
    from spark_auto_schema.streaming import (
        domain_cap_stream,
        read_event_stream,
        run_to_memory,
    )

    name = f"__dcap_{next(_STREAM_SEQ)}"
    run_to_memory(
        domain_cap_stream(
            read_event_stream(spark, _events_stream_dir(sf_dir)),
            key_col="event_type",
            cap=_SCAP_CAP,
        ),
        name,
        output_mode="update",
        # keyed by event_type (~6 keys): >6 state partitions are provably
        # empty; 2 cuts per-batch state-task overhead at any scale
        state_partitions=2,
    )
    t = spark.table(name)
    w = Window.partitionBy("key").orderBy(F.col("n_seen").desc())
    return (
        t.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("key", "n_seen", "n_admitted", "capped")
    )


_SCAP_CAP = 2000


def _streaming_domain_cap_oracle_sql() -> str:
    return f"""
SELECT event_type AS key, count(*) AS n_seen,
       CAST(least(count(*), {_SCAP_CAP}) AS BIGINT) AS n_admitted,
       count(*) > {_SCAP_CAP} AS capped
FROM events GROUP BY 1
"""


def _q_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming schema-drift monitor through the gate: the events stream
    is inferred per microbatch (the same single-pass aggregate as the
    flagship) and diffed against a deliberately-drifted baseline —
    ``value`` declared int4 (actual float8 -> TYPE MISMATCH), ``props``
    omitted (-> MISSING), phantom ``ghost_col`` (-> DEPRECATED).  The
    oracle recomputes the expected drift by running the generated
    inference SQL over the same table and joining the same baseline
    literals (streaming.SchemaDriftMonitor, streaming.py)."""
    from spark_auto_schema.streaming import SchemaDriftMonitor, read_event_stream

    baseline = {
        "event_id": "int4",
        "ts": "timestamp",
        "user_id": "int4",
        "event_type": "varchar(256)",
        "value": "int4",
        "ghost_col": "float8",
    }
    records: list[dict] = []
    monitor = SchemaDriftMonitor(baseline, lambda bid, drift: records.extend(drift))
    q = monitor.attach(read_event_stream(spark, _events_stream_dir(sf_dir)))
    q.awaitTermination()
    rows = [
        (d["field"], d["reason"], d.get("proposed"), d.get("deployed"))
        for d in records
    ]
    return spark.createDataFrame(
        rows, "field string, reason string, proposed string, deployed string"
    )


def _streaming_drift_oracle_sql() -> str:
    return f"""
WITH inferred AS ({_infer_table_sql("events")}),
base(field, deployed) AS (VALUES
  ('event_id', 'int4'), ('ts', 'timestamp'), ('user_id', 'int4'),
  ('event_type', 'varchar(256)'), ('value', 'int4'), ('ghost_col', 'float8'))
SELECT coalesce(i.field, b.field) AS field,
       CASE WHEN b.field IS NULL THEN 'MISSING'
            WHEN i.field IS NULL THEN 'DEPRECATED'
            ELSE 'TYPE MISMATCH' END AS reason,
       i.proposed_type AS proposed,
       CASE WHEN i.field IS NULL THEN CAST(NULL AS VARCHAR)
            ELSE b.deployed END AS deployed
FROM inferred i FULL OUTER JOIN base b USING (field)
WHERE b.field IS NULL OR i.field IS NULL
   OR (i.proposed_type <> b.deployed AND i.proposed_type <> 'notype')
"""


def _q_streaming_enriched_counts(spark, sf_dir):
    """Stream-static join: the event stream enriched with the (batch)
    customer dimension per microbatch, aggregated by market segment.  The
    drained result must equal the batch join + group-by the oracle runs."""
    from spark_auto_schema.streaming import (
        enriched_counts_stream,
        read_event_stream,
        run_to_memory,
    )

    name = f"__enriched_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _events_stream_dir(sf_dir))
    dim = read_table(spark, sf_dir, "customer")
    run_to_memory(
        enriched_counts_stream(stream, dim),
        name,
        output_mode="complete",
        # dimension-keyed state (|segments| rows), partial-aggregated
        state_partitions=2,
    )
    return spark.table(name)


_STREAM_ENRICHED_SQL = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def _q_approx_distinct_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ accuracy contract: per event_type, the approximate distinct
    user count (rsd=0.05) must land within 5x the rsd of the exact count.
    The oracle cannot reproduce Spark's sketch, so the *contract* is the
    checked value: (event_type, within_tolerance=TRUE)."""
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.05).alias("approx"),
    )
    ok = (
        F.abs(F.col("approx") - F.col("exact")) <= F.col("exact") * 0.25
    )
    return agg.select("event_type", ok.alias("within_tolerance"))


def _approx_distinct_oracle_sql() -> str:
    return (
        "SELECT event_type, TRUE AS within_tolerance "
        "FROM events GROUP BY event_type"
    )


def _q_approx_percentile_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch accuracy contract (same shape as approx_distinct_ok):
    per event_type, ``approx_percentile(value, {0.5, 0.9}, accuracy=100)``
    must land within the value range covered by a rank error of
    corpus_n/accuracy of the exact percentile — the Greenwald-Khanna bound
    the sketch guarantees.  The sketch (not the exact percentile) is the
    100 TB path: fixed-size state, single pass, mergeable partials; the
    exact percentile Spark computes here as the truth side needs a full
    per-group value collection.  The oracle cannot reproduce the sketch,
    so the checked value is the contract: (event_type, p50_ok, p90_ok)."""
    e = read_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("__x50"),
        F.percentile("value", F.lit(0.9)).alias("__x90"),
        F.expr("approx_percentile(value, 0.5, 100)").alias("__a50"),
        F.expr("approx_percentile(value, 0.9, 100)").alias("__a90"),
        F.count(F.lit(1)).alias("__n"),
        F.min("value").alias("__lo"),
        F.max("value").alias("__hi"),
    )
    # rank error eps = 1/accuracy; translate to a value tolerance via the
    # per-type value spread (conservative: uniform-density assumption is
    # not needed — we allow 5x slack on top of the spread-scaled bound)
    tol = (F.col("__hi") - F.col("__lo")) * (5.0 / 100.0)
    return agg.select(
        "event_type",
        (F.abs(F.col("__a50") - F.col("__x50")) <= tol).alias("p50_ok"),
        (F.abs(F.col("__a90") - F.col("__x90")) <= tol).alias("p90_ok"),
    )


def _approx_percentile_oracle_sql() -> str:
    return (
        "SELECT event_type, TRUE AS p50_ok, TRUE AS p90_ok "
        "FROM events GROUP BY event_type"
    )


def _q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function battery over one partition spec: rank, dense_rank,
    lead/lag deltas, and quartile bucket per user's orders."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(
            F.col("o_totalprice") - F.lead("o_totalprice", 1).over(w), 2
        ).alias("gap_to_next"),
    )


_WINDOW_FUNCTIONS_SQL = """
SELECT o_custkey, o_orderkey,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       round(o_totalprice - lead(o_totalprice, 1) OVER w, 2) AS gap_to_next
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
"""


def _q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows (F.session_window, 30 min gap):
    per-user sessions with event counts and start times.  The oracle rebuilds
    identical sessions with the lag/cumulative-sum formulation."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


_SESSION_WINDOWS_SQL = """
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
     l AS (SELECT user_id, us,
                  lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
           FROM e),
     n AS (SELECT user_id, us,
                  CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM l),
     s AS (SELECT user_id, us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM n)
SELECT user_id, min(us) AS session_start_us, count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def _q_clean_text(spark, sf_dir):
    return text.clean_text(read_table(spark, sf_dir, "documents"))


def _clean_text_oracle_sql() -> str:
    return (
        "SELECT doc_id, trim(regexp_replace(regexp_replace(text, "
        f"'{text.URL_RE}', ' ', 'g'), '\\s+', ' ', 'g')) AS clean_text "
        "FROM documents"
    )


def _q_redact_pii(spark, sf_dir):
    return text.redact_pii(read_table(spark, sf_dir, "documents"))


def _redact_pii_oracle_sql() -> str:
    email, phone = text.EMAIL_RE, text.PHONE_RE
    return (
        "SELECT doc_id, "
        f"regexp_replace(regexp_replace(text, '{email}', '<EMAIL>', 'g'), "
        f"'{phone}', '<PHONE>', 'g') AS redacted, "
        f"len(regexp_extract_all(text, '{email}')) AS n_emails, "
        f"len(regexp_extract_all(text, '{phone}')) AS n_phones "
        "FROM documents"
    )


def _q_repetition_ratio(spark, sf_dir):
    from spark_auto_schema.io import spread_small_scan

    # gram-array construction is the heaviest per-row expression in the
    # registry; spread the single-row-group testdata file across cores
    return text.repetition_ratio(spread_small_scan(read_table(spark, sf_dir, "documents")))


_REPETITION_SQL = """
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                        i -> array_to_string(w[i:i+2], ' ')) AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
SELECT doc_id,
       round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 4) AS rep_ratio
FROM g
"""

_CONTAMINATION_PROBES = (0, 1, 2)


def _q_contamination(spark, sf_dir):
    return dedup.contamination_check(
        _spread_docs(spark, sf_dir),  # spread before the shingle explode
        probe_ids=list(_CONTAMINATION_PROBES),
        n=3,
    )


def _contamination_oracle_sql() -> str:
    probes = ", ".join(str(p) for p in _CONTAMINATION_PROBES)
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
), probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id IN ({probes}))
SELECT doc_id, count(*) AS n_shared
FROM sh JOIN probe USING (shingle)
WHERE doc_id NOT IN ({probes})
GROUP BY doc_id
"""


def _q_contamination_diff(spark, sf_dir):
    """Cross-snapshot contamination diff (`ops/dedup.py`
    contamination_diff): the same 3-gram probe overlap contamination_check
    anchors, computed against two synthesized releases of the documents
    table (overlapping thirds: A = doc_id % 3 != 0, B = doc_id % 3 != 1)
    and classified per doc (new/gone/changed/stable).  The oracle replays
    one shared shingle relation, both snapshot filters, and the
    full-outer status CASE."""
    d = _spread_docs(spark, sf_dir)
    return dedup.contamination_diff(
        d.where(F.col("doc_id") % 3 != 0),
        d.where(F.col("doc_id") % 3 != 1),
        d.where(F.col("doc_id").isin(list(_CONTAMINATION_PROBES))),
        n=3,
    )


def _contamination_diff_oracle_sql() -> str:
    probes = ", ".join(str(p) for p in _CONTAMINATION_PROBES)
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
), probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id IN ({probes})),
ha AS (
  SELECT doc_id, count(*) AS c FROM sh JOIN probe USING (shingle)
  WHERE doc_id % 3 != 0 AND doc_id NOT IN ({probes}) GROUP BY 1
), hb AS (
  SELECT doc_id, count(*) AS c FROM sh JOIN probe USING (shingle)
  WHERE doc_id % 3 != 1 AND doc_id NOT IN ({probes}) GROUP BY 1
)
SELECT coalesce(ha.doc_id, hb.doc_id) AS doc_id,
       CAST(coalesce(ha.c, 0) AS BIGINT) AS n_shared_a,
       CAST(coalesce(hb.c, 0) AS BIGINT) AS n_shared_b,
       CAST(coalesce(hb.c, 0) - coalesce(ha.c, 0) AS BIGINT) AS delta,
       CASE WHEN coalesce(ha.c, 0) = 0 AND coalesce(hb.c, 0) > 0 THEN 'new'
            WHEN coalesce(ha.c, 0) > 0 AND coalesce(hb.c, 0) = 0 THEN 'gone'
            WHEN coalesce(ha.c, 0) = coalesce(hb.c, 0) THEN 'stable'
            ELSE 'changed' END AS status
FROM ha FULL OUTER JOIN hb ON ha.doc_id = hb.doc_id
"""


# rows-only entries (Spark-side hashing / Arrow UDFs, not DuckDB-reproducible)


def _q_minhash_pairs(spark, sf_dir):
    """Oracle-checked contract for the production xxhash64 MinHash+LSH twin.

    xxhash64 has no DuckDB equivalent, so the pair set itself cannot be
    replayed cross-engine (the md5-grade twin minhash_md5_dup_pairs is the
    full-pipeline value oracle).  What CAN be checked about the production
    twin:

    * precision_exact — every emitted pair appears in the exact-Jaccard
      truth set (all co-shingled pairs with jaccard >= 0.8, computed with
      NO LSH by the uncapped shingle join) with the identical rounded
      jaccard.  The verify stage guarantees this, so any violation is a
      bug in banding/verification.
    * recall_floor_090 — banded LSH (16 hashes, 4 bands of 4) recovers at
      least 90% of the truth pairs.  P[miss | j] = (1 - j^4)^4 is <= 1.4%
      at j = 0.9, the minimum truth jaccard in the testdata, so expected
      recall is ~0.99; the 0.9 floor tolerates per-pair hash luck while
      catching any structural recall regression (wrong banding, dropped
      shingles, broken signature hash).

    The truth set is computed by ngram_jaccard_pairs, which is itself
    independently DuckDB-value-checked as ngram_jaccard_dups."""
    docs = _spread_docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, verify_threshold=0.8).select(
        "id_a", "id_b", F.col("jaccard").alias("pj")
    )
    truth = dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_df=None).select(
        "id_a", "id_b", F.col("jaccard").alias("tj")
    )
    # One full-outer join + one aggregate = a single action; each pipeline
    # (LSH and truth) executes exactly once.
    m = pairs.join(truth, on=["id_a", "id_b"], how="full_outer")
    got = F.col("pj").isNotNull()
    real = F.col("tj").isNotNull()
    agg = m.agg(
        F.sum(got.cast("int")).alias("n_pairs"),
        F.sum((got & (~real | (F.col("pj") != F.col("tj")))).cast("int")).alias(
            "n_bad"
        ),
        F.sum(real.cast("int")).alias("n_truth"),
        F.sum((got & real).cast("int")).alias("n_found"),
    ).collect()[0]
    rows = [
        ("precision_exact", bool(agg["n_bad"] == 0 and agg["n_pairs"] > 0)),
        ("recall_floor_090", bool(agg["n_found"] >= 0.9 * agg["n_truth"])),
    ]
    return spark.createDataFrame(rows, "method string, ok boolean")


_MINHASH_CONTRACT_SQL = """
SELECT * FROM (VALUES ('precision_exact', TRUE), ('recall_floor_090', TRUE))
AS t(method, ok)
"""


def _q_simhash_sigs(spark, sf_dir):
    return dedup.simhash(read_table(spark, sf_dir, "documents"))


def _q_ann_lsh(spark, sf_dir):
    return similarity.ann_lsh_topk(
        _spread_embs(spark, sf_dir),
        query_id=0,
        k=10,
        num_planes=3,
        num_tables=6,
    )


def _q_simhash_neardup(spark, sf_dir):
    # NOTE: spreading hurts here — the chunk self-join re-executes the
    # repartition shuffle on both sides; the plain lineage is faster
    return dedup.simhash_near_dup_pairs(
        read_table(spark, sf_dir, "documents"), max_hamming=3
    )


def _q_simhash_pigeonhole_check(spark, sf_dir):
    """Losslessness contract for the production xxhash64 SimHash pigeonhole
    (the rows-only simhash_near_dup's companion check).  With 64-bit
    signatures in 4 chunks of 16 bits, any pair at hamming <= 3 shares at
    least one exact chunk, so bucketed candidate generation is LOSSLESS —
    unlike MinHash LSH, recall here is combinatorial, not probabilistic.
    The contract compares the bucketed pair set against the brute-force
    all-pairs truth over the same signature function:

    * pairs_equal_truth — identical (id_a, id_b) sets with identical
      hamming values; any divergence is a chunking/bucketing bug.
    * nonempty — the testdata contains near-dup pairs, so the equality
      cannot pass vacuously.

    The all-pairs side is the contract's own cost (n^2/2 8-byte signature
    comparisons — exactly what the pigeonhole exists to avoid in
    production), so the check runs on a deterministic 50% hash-sample: the
    losslessness being verified is combinatorial, not data-dependent, and
    the sample (like simhash_md5_near_dup's 30%) keeps real near-dup pairs
    so the nonempty guard holds."""
    docs = sampling.hash_sample(
        read_table(spark, sf_dir, "documents"), "doc_id", 0.5
    )
    sig = _cache.persist(dedup.simhash(docs))  # one signature job, both sides
    bucketed = dedup.simhash_near_dup_pairs(docs, max_hamming=3, sig=sig).select(
        "id_a", "id_b", F.col("hamming").alias("bh")
    )
    a, b = sig.alias("a"), sig.alias("b")
    truth = (
        a.join(F.broadcast(b), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("th"),
        )
        .where(F.col("th") <= 3)
    )
    m = bucketed.join(truth, on=["id_a", "id_b"], how="full_outer")
    try:
        agg = m.agg(
            F.sum(
                (
                    F.col("bh").isNull()
                    | F.col("th").isNull()
                    | (F.col("bh") != F.col("th"))
                ).cast("int")
            ).alias("n_mismatch"),
            F.sum(F.col("th").isNotNull().cast("int")).alias("n_truth"),
        ).collect()[0]
    finally:
        # The signature frame is only needed within this contract; without
        # the unpersist, callers outside bench (which releases op caches
        # per query) would accumulate cached frames (round-5 ADVICE).
        sig.unpersist()
    rows = [
        ("pairs_equal_truth", bool(agg["n_mismatch"] == 0)),
        ("nonempty", bool(agg["n_truth"] > 0)),
    ]
    return spark.createDataFrame(rows, "method string, ok boolean")


_SIMHASH_PIGEONHOLE_SQL = """
SELECT * FROM (VALUES ('pairs_equal_truth', TRUE), ('nonempty', TRUE))
AS t(method, ok)
"""


def _q_ivf_topk(spark, sf_dir):
    return similarity.ivf_topk(
        _spread_embs(spark, sf_dir),
        query_id=0,
        k=10,
        nlist=16,
        nprobe=5,
    )


def _q_minhash_md5(spark, sf_dir):
    return dedup.minhash_lsh_pairs_md5(
        _spread_docs(spark, sf_dir), verify_threshold=0.8
    )


# Full MinHash+LSH pipeline in DuckDB: 3-gram shingles -> 16 md5-prefix
# minhashes -> 4 band buckets -> bucket-colliding candidate pairs -> exact
# Jaccard >= 0.8.  Mirrors dedup.minhash_lsh_pairs_md5 constant-for-constant.
_MINHASH_MD5_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id AS id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
  WHERE length(array_to_string(w[i:i+2], ' ')) > 0
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
)
SELECT id_a, id_b, CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(round(CAST(c * 1.0 / (sa.sz + sb.sz - c) AS DECIMAL(18,12)), 4) AS DOUBLE) >= 0.8
"""


def _q_simhash_md5(spark, sf_dir):
    """Verification-grade twin runs on a deterministic 30% hash-sample (the
    sample itself is oracle-reproducible).  30%, not less: with 64-bit
    signatures hamming<=3 pairs are real near-dups (not the random 32-bit
    collisions of earlier rounds), and both pair endpoints must survive the
    sample for the gate to exercise a non-empty result."""
    docs = sampling.hash_sample(
        read_table(spark, sf_dir, "documents"), "doc_id", 0.3
    )
    return dedup.simhash_md5_near_dup_pairs(docs, max_hamming=3)


_SIMHASH_MD5_SQL = """
WITH sampled AS (
  SELECT * FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4ccc'
), tok AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM sampled
), tok2 AS (SELECT id, tok FROM tok WHERE length(tok) > 0),
bits AS (
  SELECT id, i,
         CASE WHEN sum(CASE WHEN (CASE WHEN i < 32
                                       THEN substr(md5(tok), i + 1, 1)
                                       ELSE substr(md5('x:' || tok), i - 31, 1)
                                  END) IN
                      ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0
              THEN '1' ELSE '0' END AS bit
  FROM tok2, UNNEST(generate_series(0, 63)) AS t(i)
  GROUP BY id, i
), sig AS (
  SELECT id, string_agg(bit, '' ORDER BY i) AS simhash FROM bits GROUP BY id
), chunks AS (
  SELECT id, simhash, c, substr(simhash, c * 16 + 1, 16) AS ck
  FROM sig, UNNEST(generate_series(0, 3)) AS t(c)
), cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.simhash AS sa, y.simhash AS sb
  FROM chunks x JOIN chunks y ON x.c = y.c AND x.ck = y.ck
  WHERE x.id < y.id
), ham AS (
  SELECT id_a, id_b,
         (SELECT count(*) FROM UNNEST(generate_series(1, 64)) AS t(i)
          WHERE substr(sa, i, 1) != substr(sb, i, 1)) AS hamming
  FROM cand
)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
"""


def _dot_sql(vec_expr: str, values: list[float]) -> str:
    lst = "[" + ", ".join(repr(float(x)) for x in values) + "]"
    return (
        f"list_dot_product(CAST({vec_expr} AS DOUBLE[]), CAST({lst} AS DOUBLE[]))"
    )


def _ann_lsh_oracle_sql() -> str:
    """Full DuckDB replay of ann_lsh_topk(query_id=0, k=10, num_planes=3,
    num_tables=6): the hyperplanes are deterministic (seeded PCG64) driver
    constants, so the oracle embeds the SAME plane literals and recomputes
    every signature.  repr() round-trips doubles exactly and both engines
    sum dot products sequentially, so the sign tests agree bit-for-bit."""
    from spark_auto_schema.ops.similarity import _hyperplanes

    tables = [_hyperplanes(64, 3, 42 + 1000 * t) for t in range(6)]
    sig_cols = []
    for t, planes in enumerate(tables):
        bits = " + ".join(
            f"(CASE WHEN {_dot_sql('embedding', p)} > 0 THEN {2**i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        sig_cols.append(f"({bits}) AS sig{t}")
    collide = " OR ".join(f"s.sig{t} = q.sig{t}" for t in range(6))
    ldp = "list_dot_product"
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {', '.join(sig_cols)} FROM embeddings
), q AS (SELECT * FROM sigs WHERE vec_id = 0)
SELECT s.vec_id,
       round({ldp}(CAST(s.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
             / (sqrt({ldp}(CAST(s.embedding AS DOUBLE[]), CAST(s.embedding AS DOUBLE[])))
                * sqrt({ldp}(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))),
             4) AS cos_sim
FROM sigs s, q
WHERE s.vec_id != 0 AND ({collide})
ORDER BY cos_sim DESC, s.vec_id LIMIT 10
"""


_IVF_TOPK_SQL = """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])))) AS csim
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM scored
  ) WHERE rk = 1
), probe AS (
  SELECT cid FROM scored WHERE vec_id = 0 ORDER BY csim DESC, cid LIMIT 5
), q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT a.vec_id,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))),
             4) AS cos_sim
FROM assigned a, q
WHERE a.cid IN (SELECT cid FROM probe) AND a.vec_id != 0
ORDER BY cos_sim DESC, a.vec_id LIMIT 10
"""


def _q_ann_recall_ok(spark, sf_dir):
    """Accuracy contract for approximate search: both LSH and IVF top-10
    must overlap the exact cosine top-10 by >= 5 of 10.  The contract (not
    the sketchy candidate sets) is the oracle-checked value."""
    emb = _spread_embs(spark, sf_dir)
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, 0, k=10).collect()}
    lsh = {
        r["vec_id"]
        for r in similarity.ann_lsh_topk(
            emb, 0, k=10, num_planes=3, num_tables=6
        ).collect()
    }
    ivf = {
        r["vec_id"]
        for r in similarity.ivf_topk(emb, 0, k=10, nlist=16, nprobe=5).collect()
    }
    rows = [
        ("lsh", len(exact & lsh) >= 5),
        ("ivf", len(exact & ivf) >= 5),
    ]
    return spark.createDataFrame(rows, "method string, recall_ok boolean")


_ANN_RECALL_SQL = """
SELECT * FROM (VALUES ('lsh', TRUE), ('ivf', TRUE)) AS t(method, recall_ok)
"""


def _q_ewma_user_values(spark, sf_dir):
    """Terminal EWMA value per user over the FULL corpus, value-checked
    against a DuckDB recursive CTE.  ewma_value_check verifies the whole
    per-row series on a 3-user subset; this query runs the production Arrow
    kernel over every event and checks each user's final smoothed value —
    the deepest point of the recurrence, which in particular exercises the
    cross-batch carry logic (a wrong or dropped carry corrupts exactly the
    tail of each user's series).  Both engines accumulate
    y_t = 0.3 x_t + 0.7 y_{t-1} sequentially in (ts, value) order — the
    value tie-break makes the order total even if a regenerated testdata
    introduced duplicate timestamps — and round to 6 decimals."""
    e = read_table(spark, sf_dir, "events")
    out = relational.ewma(e, "user_id", "ts", "value", alpha=0.3)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("value").desc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.round("ewma", 6).alias("ewma"),
        )
    )


_EWMA_FINAL_SQL = """
WITH RECURSIVE e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, value) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
), r AS (
  SELECT user_id, rn, n, us, CAST(value AS DOUBLE) AS ewma FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.n, e.us, 0.3 * e.value + 0.7 * r.ewma
  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, us, round(ewma, 6) AS ewma FROM r WHERE rn = n
"""


def _q_ewma_value_check(spark, sf_dir):
    """EWMA value-checked against a DuckDB recursive CTE on a 3-user subset
    (the full-corpus run stays rows-only: the recursive oracle is O(n) JOIN
    steps and would dominate gate time corpus-wide).  Both sides compute
    y_t = 0.3 x_t + 0.7 y_{t-1} in ts order and round to 6 decimals."""
    e = read_table(spark, sf_dir, "events").where(F.col("user_id") < 3)
    out = relational.ewma(e, "user_id", "ts", "value", alpha=0.3)
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.round("ewma", 6).alias("ewma"),
    )


_EWMA_VALUE_SQL = """
WITH RECURSIVE e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, value) AS rn
  FROM events WHERE user_id < 3
), r AS (
  SELECT user_id, rn, us, CAST(value AS DOUBLE) AS ewma FROM e WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn, e.us, 0.3 * e.value + 0.7 * r.ewma
  FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id, us, round(ewma, 6) AS ewma FROM r
"""


def _q_simhash_determinism(spark, sf_dir):
    """Partitioning-invariance contract for the xxhash64 SimHash (which has
    no cross-engine oracle): signatures computed on the natural layout and on
    an adversarial 7-way repartition must agree exactly.  The per-bit tallies
    are order-independent integer sums, so any disagreement means
    non-determinism.  Output is oracle-checkable: (n_docs, n_mismatch=0)."""
    docs = read_table(spark, sf_dir, "documents")
    s1 = dedup.simhash(docs)
    s2 = dedup.simhash(docs.repartition(7, "doc_id"))
    return (
        s1.alias("a")
        .join(s2.alias("b"), on="id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("a.simhash") != F.col("b.simhash"), 1).otherwise(0)
            ).cast("long").alias("n_mismatch"),
        )
    )


_SIMHASH_DETERMINISM_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_mismatch
FROM documents
"""


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media resize (byte-stride decimation stub, codec seam
    injectable): emits per-doc original/new byte counts and the md5 of the
    resized payload — the oracle replays the identical stride gather over
    the source text (payloads are its UTF-8 bytes; the corpus is ASCII so
    byte and character positions coincide)."""
    payloads = multimodal.attach_binary_payload(
        read_table(spark, sf_dir, "documents")
    )
    resized = multimodal.resize_media_stub(payloads, target_bytes=48, fake=True)
    return resized.select(
        "doc_id",
        "orig_bytes",
        "new_bytes",
        F.md5("resized").alias("resized_md5"),
    )


_MEDIA_RESIZE_SQL = """
WITH p AS (SELECT doc_id, text, length(text) AS n FROM documents),
q AS (SELECT doc_id, text, n, least(48, n) AS m,
             greatest(n // least(48, n), 1) AS s
      FROM p)
SELECT doc_id, n AS orig_bytes, m AS new_bytes,
       md5(array_to_string(
             list_transform(generate_series(0, m - 1),
                            i -> substring(text, 1 + i * s, 1)), '')) AS resized_md5
FROM q
"""


def _q_media_features(spark, sf_dir):
    """The Arrow mapInPandas feature extractor, value-checked: for the ASCII
    testdata payloads, byte-histogram bin 2 (bytes 0x20-0x2F: space + leading
    punctuation) equals a character-class count DuckDB can compute."""
    payloads = multimodal.attach_binary_payload(
        read_table(spark, sf_dir, "documents")
    )
    feats = multimodal.extract_media_features(payloads, fake=True)
    return feats.select("doc_id", "n_bytes", F.col("byte_hist")[2].alias("hist_bin2"))


_MEDIA_FEATURES_SQL = r"""
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       len(regexp_extract_all(text, '[\x20-\x2F]')) AS hist_bin2
FROM documents
"""


