"""File loading + column normalization, Spark-native.

Reference: ``_load_file`` at
``/root/reference/redshift_auto_schema/RedshiftAutoSchema.py:227-233``:
format dispatch by the substring ``'parquet' in path.lower()``, CSV read
with ``sep='|'``, ``quotechar='"'``, optional encoding, then a ``.`` -> ``_``
rename of every column.

Spark-native differences:

* The scan is **lazy** — nothing is materialized until an action runs, so
  column pruning / predicate pushdown reach the file scan via Catalyst.
* CSV is read with ``inferSchema=True`` by default.  The reference's
  ``pd.read_csv`` auto-types numeric/date-like columns, so typed CSV input is
  what its inference tree actually sees; Spark's CSV inference mirrors that.
* An explicit ``fmt=`` override is provided (the reference only has the
  substring dispatch, SURVEY.md section 2A #3).
* Parquet files whose footer declares ``timestamp[ns]`` columns (which Spark
  refuses to read natively) are transparently read with
  ``spark.sql.legacy.parquet.nanosAsLong`` and converted back to
  microsecond timestamps — a footer-only metadata read, no data pass.
* Parquet timestamps written with ``isAdjustedToUTC=false`` surface as
  ``TIMESTAMP_NTZ`` under Spark's default ``inferTimestampNTZ``; those
  columns are normalized to instant (``TIMESTAMP``) semantics treating the
  wall-clock as UTC, via an epoch arithmetic expression that is independent
  of the session timezone (``timestampdiff`` between two NTZ values →
  ``timestamp_micros``).  This gives every reader one uniform timestamp
  type regardless of how the producing writer flagged the column.
"""

from __future__ import annotations

import re

import pyarrow as _pa
import pyarrow.parquet as _pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._cache import persist, release_caches  # noqa: F401 re-export
from .session import _scoped_conf


def sql_name(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """A SQL string constant for ``s`` that reads the same under every
    ``spark.sql.parser.escapedStringLiterals`` setting: quotes and
    backslashes are spliced in as ``chr`` calls, which fold to a literal."""
    parts = [
        f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'"
        for p in re.split(r"(['\\])", s)
        if p
    ]
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})" if parts else "''"


def local_df(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Lift driver-sized rows into a DataFrame as a ``LocalRelation``: rows
    sized by the catalog, and results bounded by a driver budget such as
    ``ops.dedup.dedup_clusters``' union-find labels.

    A list handed to ``createDataFrame`` is parallelized, so each collect of
    it is a Spark job; a ``pyarrow.Table`` becomes a ``LocalRelation``, whose
    collects, filters and projections run none (with or without Arrow
    execution enabled)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    table = _pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def normalize_columns(df: DataFrame) -> DataFrame:
    """Replace ``.`` with ``_`` in every column name (RAS.py:233)."""
    renamed = [c.replace(".", "_") for c in df.columns]
    if renamed == list(df.columns):
        return df
    return df.toDF(*renamed)


def override_columns(df: DataFrame, columns: list[str] | None) -> DataFrame:
    """Positionally rename columns to a caller-provided list (RAS.py:247-250)."""
    if columns is None:
        return df
    if len(columns) != len(df.columns):
        raise ValueError(
            f"column override has {len(columns)} names for {len(df.columns)} columns"
        )
    return df.toDF(*columns)


def _timestamp_encodings(path: str) -> tuple[str, dict[str, str]]:
    """``(probe, {column: encoding})`` for every timestamp column of the
    parquet footer of ``path`` (metadata-only); ``probe`` is the file read,
    ``path`` itself or, for a dataset directory, its first ``*.parquet``
    part (one writer per dataset, so the encoding is uniform).  Raises
    ``FileNotFoundError`` for a directory without parquet files.

    Encodings: ``'ns'`` (int64 NANOS: Spark reads it only as a long, under
    the legacy ``nanosAsLong`` flag), ``'ntz'`` (isAdjustedToUTC=false,
    read as TIMESTAMP_NTZ) and ``'utc'`` (an instant: isAdjustedToUTC=true,
    or INT96).  INT96 timestamps (classic Spark/Hive writers; Spark 4's
    default ``spark.sql.parquet.outputTimestampType`` is still INT96) also
    surface as ``timestamp[ns]`` in the arrow schema, but Spark decodes
    them natively as TIMESTAMP, so the physical type decides, not the
    arrow unit."""
    import glob
    import os

    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet files in {path!r}")
        probe = parts[0]
    pf = _pq.ParquetFile(probe)
    physical = {
        pf.schema.column(i).name: pf.schema.column(i).physical_type
        for i in range(len(pf.schema))
    }
    out = {}
    for field in pf.schema_arrow:
        t = field.type
        if not _pa.types.is_timestamp(t):
            continue
        if t.unit == "ns" and physical.get(field.name) == "INT64":
            out[field.name] = "ns"
        else:
            out[field.name] = "utc" if t.unit == "ns" or t.tz is not None else "ntz"
    return probe, out


def _nanos_to_instant(df: DataFrame, cols: list[str]) -> DataFrame:
    """Convert each long-nanos column in ``cols`` to a microsecond instant.
    Integer ``div``, NOT ``/``: float division of ~1.7e18 ns epoch values
    loses sub-microsecond precision (double ulp at that magnitude is
    256 ns)."""
    for c in cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"{sql_name(c)} div 1000")))
    return df


def normalize_ntz_columns(df: DataFrame) -> DataFrame:
    """Convert every ``TIMESTAMP_NTZ`` column to an instant (``TIMESTAMP``)
    treating the wall-clock value as UTC.

    The conversion is session-timezone-independent: ``timestampdiff`` over
    two NTZ operands yields the wall-clock's epoch microseconds directly,
    and ``timestamp_micros`` turns that integer into an instant — no
    wall↔instant reinterpretation through the session zone ever happens.
    This matches how a naive-timestamp engine (e.g. DuckDB's ``epoch_us``)
    reads the same parquet value, so downstream ``unix_micros``/windowing
    agree across engines.  A pure projection: pushdown/pruning on other
    columns is unaffected."""
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(
                f.name,
                F.timestamp_micros(
                    F.expr(
                        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ "
                        f"'1970-01-01 00:00:00', {sql_name(f.name)})"
                    )
                ),
            )
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (RAS.py:228-229), tolerant of timestamp[ns] columns and
    of ``isAdjustedToUTC=false`` (NTZ) timestamp columns."""
    try:
        nanos_cols = [
            c for c, enc in _timestamp_encodings(path)[1].items() if enc == "ns"
        ]
    except Exception:  # unreadable footer: no nanos columns
        nanos_cols = []
    # Scope the legacy flag to this read: the schema conversion happens at
    # analysis time (the .parquet() call), so the prior value is restored
    # immediately after — later actions on the returned frame don't need it,
    # and the session's global config is left untouched for other readers.
    flag = "true" if nanos_cols else None
    with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", flag):
        df = spark.read.parquet(path)
    return normalize_ntz_columns(_nanos_to_instant(df, nanos_cols))


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = "|",
    quotechar: str = '"',
    encoding: str | None = None,
) -> DataFrame:
    """Delimited scan with the reference's defaults (RAS.py:231, 56-58)."""
    reader = (
        spark.read.option("header", True)
        .option("sep", delimiter)
        .option("quote", quotechar)
        .option("inferSchema", True)
    )
    if encoding:
        reader = reader.option("encoding", encoding)
    return reader.csv(path)


def load_file(
    spark: SparkSession,
    path: str,
    delimiter: str = "|",
    quotechar: str = '"',
    encoding: str | None = None,
    fmt: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Load a flat file or parquet file and normalize column names.

    Format dispatch replicates RAS.py:227-231 (substring match on the path)
    unless ``fmt`` is given explicitly.
    """
    resolved = fmt or ("parquet" if "parquet" in path.lower() else "csv")
    if resolved == "parquet":
        df = read_parquet(spark, path)
    elif resolved == "csv":
        df = read_csv(spark, path, delimiter, quotechar, encoding)
    else:
        df = spark.read.format(resolved).load(path)
    df = normalize_columns(df)
    return override_columns(df, columns)


def pin_utc_session(spark: SparkSession) -> None:
    """Set ``spark.sql.session.timeZone=UTC`` for the session (idempotent).

    SESSION-WIDE SIDE EFFECT, called by :func:`read_table` and
    ``streaming.read_event_stream``: instant-typed results collected by a
    comparison harness must render with the same wall-clock a
    naive-timestamp oracle prints, and that rendering depends on the
    session zone.  All epoch arithmetic in this package is already
    timezone-independent; the pin only stabilizes *display* of TIMESTAMP
    values on collect.  Callers that need a different session zone for
    their own display should set it back after reading — or read via
    :func:`read_parquet`/:func:`load_file`, which never touch it."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table: ``{sf_dir}/{name}.parquet``.

    Pins the session timezone to UTC via :func:`pin_utc_session` (a
    documented session-wide side effect; use :func:`read_parquet` directly
    for a side-effect-free read)."""
    pin_utc_session(spark)
    return read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dataset whose files were written under *different*
    schema versions (columns added over time), merging footers into the
    union schema; missing columns read as NULL.

    ``mergeSchema`` costs one footer read per file (no data pass) — the
    standard way to scan a long-lived dataset that gained columns, feeding
    inference/diff so new columns propose types and show up as MISSING in
    the deployed-schema diff."""
    df = spark.read.option("mergeSchema", True).parquet(path)
    return normalize_columns(df)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    buckets: int = 32,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist a DataFrame as a bucketed (and optionally sorted) table.

    Bucketing pre-shuffles the data ONCE at write time: two tables bucketed
    on their join key with the same bucket count join with NO exchange on
    either side — the core co-location strategy for repeatedly-joined 100 TB
    fact tables.  (Sorting within buckets additionally removes the join-time
    sort for sort-merge joins.)

    ``path`` makes the table EXTERNAL at that location (data outlives a
    DROP TABLE and lives outside the session warehouse dir); omitted, the
    table is managed under ``spark.sql.warehouse.dir``."""
    w = df.write.mode("overwrite").bucketBy(buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Write a parquet dataset partitioned by the given columns.

    Partition pruning then turns predicates on those columns into directory
    pruning — a reader of one partition never lists or opens the rest, the
    first-order scan optimization for time-series and category-keyed data at
    scale."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_range_partitioned(
    df: DataFrame,
    path: str,
    order_col: str,
    num_files: int | None = None,
) -> None:
    """Write a parquet dataset range-partitioned and sorted on
    ``order_col``: rows are globally range-distributed across files (file
    0 holds the smallest values, file N-1 the largest) and sorted within
    each file.

    This is the sorted-layout counterpart to :func:`write_partitioned`'s
    directory pruning: with values clustered AND ordered, parquet's
    per-row-group min/max statistics become tight, so a range predicate on
    ``order_col`` skips entire files/row groups at scan time (the
    "zone-map" effect, and what a Redshift SORTKEY buys).  The cost is one
    range-exchange at write time — Spark samples the column to build the
    range boundaries, so output files are balanced even on skewed
    distributions, unlike hash layouts where a hot key overloads a file.

    At 100 TB, size ``num_files`` so each file lands in the
    100 MB - 1 GB sweet spot; omitted, the session's shuffle parallelism
    decides."""
    parts = (
        df.repartitionByRange(num_files, F.col(order_col))
        if num_files is not None
        else df.repartitionByRange(F.col(order_col))
    )
    parts.sortWithinPartitions(order_col).write.mode("overwrite").parquet(path)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Repartition a degenerately-laid-out input (fewer partitions than
    cores/4 — e.g. a single-row-group parquet file, unsplittable below one
    task) to the default parallelism so expensive per-row expressions use
    every core.  A no-op for well-partitioned inputs: a 100 TB table already
    has orders of magnitude more partitions than cores and is never
    reshuffled; the fired case is by definition small, so the shuffle is
    cheap.

    The spread key is a deterministic hash of the row's (hashable) columns
    rather than round-robin: every keyless ``repartition(n)`` first pays a
    local sort of its input (``spark.sql.execution.sortBeforeRepartition``,
    on by default so retried tasks reproduce their row-to-partition
    assignment), and that pre-sort measurably dominates the spread cost
    (lineitem sf0.1: 0.86 s round-robin vs 0.18 s hash on top of a 0.95 s
    scan).  A deterministic column hash needs no such sort — re-run tasks
    recompute the same placement from the data itself — and distinct rows
    spread uniformly.  Equal rows share a task, so an input holding many
    copies of a few rows spreads unevenly."""
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(2, cores // 4):
            hashable = [
                f.name
                for f in df.schema.fields
                if not isinstance(f.dataType, T.MapType)
            ]
            if hashable:
                # one SQL expression: a Column per name costs JVM round trips
                names = ", ".join(sql_name(c) for c in hashable)
                return df.repartition(cores, F.expr(f"xxhash64({names})"))
            return df.repartition(cores)
    except Exception:  # pragma: no cover - non-classic sessions
        pass
    return df


def _spread_bits(x):
    """Spread the low 32 bits of ``x`` so bit i lands at position 2i
    (the classic magic-number dilation, 5 shift/mask rounds) — a pure
    JVM-side bitwise expression chain, codegen-friendly."""
    masks = [
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ]
    for shift, mask in masks:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zorder_key(col_a, col_b) -> Column:
    """Morton (Z-order) key interleaving the bits of two non-negative
    integer expressions in [0, 2^31): bit i of ``col_a`` lands at
    position 2i, bit i of ``col_b`` at 2i+1.  Rows close in Z-value are
    close in BOTH dimensions — the property multi-column data skipping
    needs.

    Inputs are masked to 31 bits each (not 32): with 32, ``col_b``'s top
    bit would land on the long's SIGN bit and the upper half of b's range
    would sort as negative keys, before everything else — silently
    destroying the clustering the key exists to provide.  31+31 = 62 bits
    keeps the key non-negative over the whole domain; values >= 2^31 wrap
    (callers wanting wider ranges should bucket/normalize first, as
    :func:`write_zordered` does to 16 bits)."""
    a = _spread_bits(col_a.cast("long").bitwiseAND(F.lit(0x7FFFFFFF)))
    b = _spread_bits(col_b.cast("long").bitwiseAND(F.lit(0x7FFFFFFF)))
    return a.bitwiseOR(F.shiftleft(b, 1))


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int | None = None,
) -> None:
    """Write parquet clustered on the Z-order (Morton) interleaving of TWO
    columns, so range predicates on EITHER column skip files via parquet
    min/max statistics.

    :func:`write_range_partitioned` makes zone maps tight on one column but
    leaves every other column scattered across all files — a predicate on a
    second dimension still opens everything.  Interleaving the two
    columns' bits into one sort key (the layout behind Databricks
    ``OPTIMIZE ZORDER`` and Redshift interleaved sort keys) trades a
    little per-column tightness for locality in both: each output file
    covers a small rectangle of the (a, b) value space, so per-file
    min/max ranges on BOTH columns are narrow and a selective predicate on
    either prunes most files (proven file-by-file in
    ``tests/test_curation.py::test_zorder_layout_skips_on_both_columns``).

    Interleaving RAW values fails when the columns span different bit
    widths (a 13-bit key interleaved with an 8-bit key is dominated by the
    wide key's high bits — the layout degenerates to a single-column
    sort), so both columns are first normalized to the same 16-bit scale
    from their min/max.  The stats row is a 1-row aggregate joined back by
    a broadcast cross join (a literal-sized build side, the
    ``value_histogram`` pattern) — nothing is collected to the driver.

    Plan: one stats aggregate, one projection computing the key (pure
    bitwise codegen), one range exchange distributing by it (sampled
    boundaries — balanced files even when the value space is skewed), and
    an in-partition sort clustering each file; the key column is dropped
    before write.  Identical shuffle cost to a single-column sorted write
    plus the 1-row stats pass.  Columns must be numeric (timestamps should
    be bucketed to epoch days/hours first)."""
    a, b = F.col(col_a).cast("double"), F.col(col_b).cast("double")
    stats = df.agg(
        F.min(a).alias("__alo"),
        F.max(a).alias("__ahi"),
        F.min(b).alias("__blo"),
        F.max(b).alias("__bhi"),
    )

    def scaled(x, lo, hi):
        # map [lo, hi] -> [0, 65535]; constant columns land on 0
        return F.round(
            F.coalesce(
                F.try_divide((x - lo) * F.lit(65535.0), hi - lo), F.lit(0.0)
            )
        ).cast("long")

    keyed = df.crossJoin(F.broadcast(stats)).withColumn(
        "__zk",
        zorder_key(
            scaled(a, F.col("__alo"), F.col("__ahi")),
            scaled(b, F.col("__blo"), F.col("__bhi")),
        ),
    ).drop("__alo", "__ahi", "__blo", "__bhi")
    parts = (
        keyed.repartitionByRange(num_files, F.col("__zk"))
        if num_files is not None
        else keyed.repartitionByRange(F.col("__zk"))
    )
    parts.sortWithinPartitions("__zk").drop("__zk").write.mode(
        "overwrite"
    ).parquet(path)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_file_bytes)`` files and return that count.

    The streaming/incremental ingest pattern (one file per microbatch or
    per task) degrades read performance long before data size does: every
    query pays per-file open/footer/listing costs, and a 100 TB table
    made of 1 MB files spends more time in metadata than in data.
    Periodic compaction into the 100 MB-1 GB sweet spot is the standard
    maintenance op (what OPTIMIZE does on table formats).

    Sizing reads the SOURCE's total on-disk bytes (compressed) from the
    driver-side file listing — a metadata operation, no data pass — so
    output files land near ``target_file_bytes`` regardless of row width.
    The rewrite itself is one round-robin repartition (no key, no sort:
    compaction must not destroy more than it fixes — a clustered layout
    should be re-written with its own writer instead)."""
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = read_parquet(spark, src)
    df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files


def zone_map(df: DataFrame, cols: list[str], file_col: str = "file") -> DataFrame:
    """Per-file zone maps: (file, n_rows, per-column min/max/null-count) for
    every file feeding ``df``'s scan — the data-skipping statistics layer a
    lake maintains so point/range predicates can prune files without
    opening them (the Spark-side counterpart of Redshift zone maps /
    parquet footer row-group stats).

    Built on ``input_file_name()``: one hash aggregate keyed by file path,
    map-side combined, output |files| rows.  Scanning data to build zone
    maps is the VALIDATION path — parquet footers already carry these
    stats, and a production pruner trusts them; this scan-side builder is
    what you run to audit footer stats after a writer bug, to zone-map
    formats without footers (CSV/JSON), or to collect stats on derived
    expressions footers don't cover.  Pair with
    :func:`write_range_partitioned` / :func:`write_zordered`: the zone
    map's min/max overlap across files is exactly the clustering quality
    those writers exist to improve.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
        ]
    return df.groupBy(F.input_file_name().alias(file_col)).agg(*aggs)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    delimiter: str = "|",
    quotechar: str = '"',
    encoding: str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV ingest with bad-record routing: returns ``(good,
    bad)`` — rows that parsed cleanly against ``schema`` (a DDL string,
    e.g. ``"o_orderkey bigint, o_totalprice double"``), and quarantined
    rows carrying the raw line in ``corrupt_col`` plus whatever fields
    still parsed.

    This is the ingestion pattern the reference's strict typed-load flow
    (infer -> CREATE TABLE -> COPY) needs in front of it at scale: one bad
    line in a 100 TB drop must not fail the load (FAILFAST) or silently
    vanish (DROPMALFORMED) — it must land in a reviewable quarantine with
    the original bytes intact.  A row is quarantined when Spark's
    PERMISSIVE parser records the raw line: wrong column count, or any
    field that fails to convert to its declared type.

    Both frames are filters over ONE cached parse of the scan — Spark
    disallows queries that prune down to only the internal corrupt-record
    column (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the parsed frame is
    persisted before splitting; this also means draining both sinks costs
    one file pass, not two.  Call ``spark_auto_schema.release_caches`` when
    done.
    """
    full = f"{schema}, {corrupt_col} string"
    reader = (
        spark.read.option("header", True)
        .option("sep", delimiter)
        .option("quote", quotechar)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
    )
    if encoding:
        reader = reader.option("encoding", encoding)
    df = persist(reader.csv(path))
    good = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.where(F.col(corrupt_col).isNotNull())
    return good, bad


def write_text_lines(df: DataFrame, text_col: str, path: str) -> None:
    """Write one column as a line-per-row raw-text dir (the .txt
    corpus-dump encoding LLM pipelines ingest), ENFORCING the
    line-per-row invariant rather than assuming it: embedded CR/LF are
    sanitized to spaces and NULL becomes the empty line — so
    ``write.text`` cannot fail on nulls and a read-back line count
    always equals the row count, even for corpora with multi-line text.

    Scale: a pure per-row projection ahead of the parallel text writer —
    no shuffle, one output file per input partition."""
    df.select(
        F.translate(F.coalesce(F.col(text_col), F.lit("")), "\r\n", "  ").alias(
            text_col
        )
    ).write.mode("overwrite").text(path)
