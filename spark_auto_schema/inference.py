"""Single-pass, Spark-native column type inference.

Reference algorithm: ``_evaluate_type`` in the reference library's
``redshift_auto_schema/RedshiftAutoSchema.py`` (RAS.py:294-339) and its
driver ``_generate_table_metadata`` (RAS.py:252-256).  The reference scans the
full pandas DataFrame once **per column**, sequentially probing
bool -> numeric -> date -> varchar.

Spark-native redesign (SURVEY.md section 4.2): every statistic each column's
decision needs is computed for all columns in **one aggregate over one
scan**, by one probe kernel (:func:`_probe_stats`).  A ``stack`` turns each
input row into one row per column with fixed slots, and one ``groupBy`` on
the column index spells each probe once: map-side partial aggregation, an
exchange of one partial state per column and partition, a final merge.  The
branching decision tree then runs on the collected per-column statistics on
the driver, which holds only O(columns) scalars.

Why a kernel rather than one wide aggregate: the wide form spelled every
string column's bool, numeric and date probes into one generated class per
table, which Janino compiled on each new table (thousands of lines, about
half a second) and which then ran before the JIT had warmed it.  Past the
stack, the kernel's expression text is the same for every input.  A file of
few partitions (the landed-file case) is spread right after the stack, so
its probe stage is a separate class that compiles once per JVM and stays
warm across tables; an input already spread over the cores runs the probes
in its scan stage, compiled per table, but with one copy of the probes
rather than one per column.  The price is per cell: the long form carries
one row per value, which a large table pays on every call.

Semantics replicated exactly (SURVEY.md section 1.3):

* inference ignores nulls; an all-null column is ``notype`` (RAS.py:306-309)
* the bool literal set {true,false,t,f,0,1} on stringified values, disabled
  for ``*_id`` columns (RAS.py:311, 255)
* numeric-before-date: ``"20190101"`` is int, never date (RAS.py:315 vs 328)
* integral floats demote to int (RAS.py:317)
* int4 iff min >= -2147483648 and max <= 2147483647, else int8 (RAS.py:318)
* date iff every parsed timestamp is midnight-normalized, else timestamp
  (RAS.py:331-334)
* varchar(256) iff max stringified length <= 240 (not 256!), else
  varchar(65535) (RAS.py:336-339)
* partial dates ("2019", "03/2019", "Jan 2020") are NOT dates -> varchar.
  The reference detects these by double-parsing with dateutil defaults
  (RAS.py:329-330); Catalyst has no dateutil, so we require values to match
  an explicit whitelist of *complete* date/timestamp formats via strict
  ``try_to_timestamp`` (unparsed trailing text -> NULL).  Partial shapes fail
  every format and demote to varchar, same result.

Deliberate divergence (documented, SURVEY.md section 1.4): for *string*
columns of numeric text the reference hits ``'str' <= int`` TypeError on its
range check and returns ``float8`` (RAS.py:317-325); we range-check the
parsed doubles and return int4/int8 — the behavior its own docs intend and
what pandas-typed CSV input already produces.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .io import local_df, spread_small_scan, sql_name, sql_string

BOOL_LITERALS = ("true", "false", "t", "f", "0", "1")
INT4_MIN, INT4_MAX = -2147483648, 2147483647
VARCHAR_THRESHOLD = 240  # RAS.py:336 — threshold really is 240, not 256

# Complete (non-partial) date/timestamp shapes accepted by the date probe.
# Spark's CORRECTED-mode parser is strict: trailing unparsed text => NULL,
# and bracketed sections are optional.  "S" fraction patterns accept 1..9
# digits.  Partial shapes like "2019", "03/2019", "Jan 2020" match nothing.
#
# Each format maps to a prefix that every value it parses starts with (the
# numeric fields read greedy digit runs, "yyyy" at least four, then the
# literal must follow; month names start with a letter).  A value without
# the prefix would only fail the format, and a failing parse throws inside
# the formatter, so the probe tries just the formats whose prefix matches:
# the first format that parses is the same, at a fraction of the cost.
COMPLETE_DATE_FORMATS = {
    "yyyy-M-d[ H:m[:s[.SSSSSSSSS]]]": "^[0-9]{4,}-",
    "yyyy-M-d'T'H:m[:s[.SSSSSSSSS]]": "^[0-9]{4,}-",
    "yyyy/M/d[ H:m[:s[.SSSSSSSSS]]]": "^[0-9]{4,}/",
    "M/d/yyyy[ H:m[:s[.SSSSSSSSS]]]": "^[0-9]+/",
    "M-d-yyyy[ H:m[:s]]": "^[0-9]+-",
    "MMM d, yyyy[ H:m[:s]]": "^[A-Za-z]",
    "MMM d yyyy": "^[A-Za-z]",
    "d MMM yyyy": "^[0-9]+ ",
    "MMMM d, yyyy": "^[A-Za-z]",
}

# Acceptance gap vs the reference (documented, deliberate): dateutil accepts
# more *complete* datetime shapes than this whitelist — e.g. timezone-offset
# strings ("2019-01-02T03:04:05+02:00"), 12-hour clock forms ("Jan 2, 2020
# 5:00 PM"), and locale-ish orderings.  Those classify varchar here while the
# reference returns timestamp.  Zoned shapes are excluded on purpose: the
# reference normalizes them through naive local time, which is
# session-timezone-dependent — behavior a distributed engine should not
# replicate.  The whitelist does accept minutes-without-seconds and
# fractional-second forms, which cover the shapes real data lakes emit.

# Cheap structural superset of every COMPLETE_DATE_FORMATS shape.  Values
# failing this regex cannot parse under any whitelisted format, so the
# expensive DateTimeFormatter probe is skipped for them — measured ~30x
# faster on non-date string columns (formatter failure paths are costly).
DATEISH_RE = (
    "^([0-9]{4}[-/][0-9]{1,2}[-/][0-9]{1,2}"
    "|[0-9]{1,2}[-/][0-9]{1,2}[-/][0-9]{4}"
    "|[A-Za-z]{3,9} [0-9]{1,2},? [0-9]{4}"
    "|[0-9]{1,2} [A-Za-z]{3,9} [0-9]{4})"
)

# Every string that casts to a double holds a digit or spells NaN or
# infinity ("inf" included).  Casting other text only fails, and a failed
# cast throws inside the number parser, so the numeric probe skips it.
NUMERIC_HINT_RE = "(?i)[0-9]|inf|nan"

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL_TYPES = (T.FloatType, T.DoubleType)
_TIMESTAMP_TYPES = (T.TimestampType, T.TimestampNTZType)


@dataclass(frozen=True)
class ColumnInference:
    """Inference result for one column."""

    name: str
    spark_type: str  # source Spark dtype, simpleString form
    proposed_type: str  # Redshift-vocabulary proposed type (or Spark type in native mode)


def _parsed_timestamp_sql(c: str) -> str:
    """The first of :data:`COMPLETE_DATE_FORMATS` that parses SQL column
    ``c``, as a timestamp; NULL when none does."""
    stamps = ", ".join(
        f"CASE WHEN {c} RLIKE {sql_string(prefix)} "
        f"THEN try_to_timestamp({c}, {sql_string(fmt)}) END"
        for fmt, prefix in COMPLETE_DATE_FORMATS.items()
    )
    return f"CASE WHEN {c} RLIKE {sql_string(DATEISH_RE)} THEN coalesce({stamps}) END"


def _cells_sql(i: int, name: str, dtype: T.DataType) -> str:
    """Column *i*'s row of the probe kernel's ``stack``, as SQL text: the
    slots ``k, s, x, g, nn`` (see :func:`_probe_stats`).

    Everything exact about a typed value is decided here, on the typed
    column: ``g`` is a decimal's ``c % 1 = 0`` (a double would round above
    2^53, and ``c = floor(c)`` widens a ``decimal(38, s)`` to scale
    ``s - 1``, so 1.000001 compared equal to 1) and a timestamp's midnight
    check in the session zone.  For float columns NaN counts as null (pandas
    ``notnull`` semantics), hence the ``isnan`` guards; ``isnan(NULL)`` is
    false, so ``nn`` tests for NULL as well.  A nested, binary or
    other column sizes its stringified value (pandas stringifies objects
    before the varchar branch, RAS.py:336-339), so ``x`` carries that
    length.
    """
    c = sql_name(name)
    s = x = g = "NULL"
    nn = f"{c} IS NOT NULL"
    if isinstance(dtype, _FRACTIONAL_TYPES):
        x = f"CASE WHEN NOT isnan({c}) THEN {c} END"
        g = f"CASE WHEN NOT isnan({c}) THEN {c} = floor({c}) END"
        nn = f"{c} IS NOT NULL AND NOT isnan({c})"
    elif isinstance(dtype, _INTEGRAL_TYPES):
        x = c
    elif isinstance(dtype, T.DecimalType):
        x, g = c, f"{c} % 1 = 0"
    elif isinstance(dtype, _TIMESTAMP_TYPES):
        g = f"{c} = date_trunc('DAY', {c})"
    elif isinstance(dtype, T.StringType):
        s = c
    elif not isinstance(dtype, (T.BooleanType, T.DateType)):
        x = f"length(CAST({c} AS STRING))"
    return f"{i}, CAST({s} AS STRING), CAST({x} AS DOUBLE), CAST({g} AS BOOLEAN), {nn}"


# The probes, spelled once for every input.  ``d`` and ``t`` are projected
# ahead of the aggregate so each value is cast and parsed once.
# try_cast: ANSI-safe — malformed numeric text yields NULL, mirroring the
# reference's try/except around astype(float) (RAS.py:314-326).
_PROBES = (
    f"CASE WHEN s RLIKE {sql_string(NUMERIC_HINT_RE)} THEN try_cast(s AS DOUBLE) END AS d",
    f"{_parsed_timestamp_sql('s')} AS t",
)
# Null handling: the reference drops nulls before probing (RAS.py:309).
# ``bool_and``/``min``/``max`` ignore NULL inputs, and the ``IS NOT NULL``
# probes are wrapped in ``CASE WHEN s IS NOT NULL`` so null rows contribute
# NULL (ignored) instead of false.  Only string cells carry ``s`` and so
# ``d`` and ``t``; only typed cells carry ``x`` and ``g``.
_STATS = (
    "count_if(nn) AS cnt",
    f"bool_and(lower(s) IN ({', '.join(sql_string(b) for b in BOOL_LITERALS)})) AS b01",
    "bool_and(CASE WHEN s IS NOT NULL THEN d IS NOT NULL END) AS isnum",
    "bool_and(coalesce(g, d = floor(d))) AS intg",
    "min(coalesce(x, d)) AS mn",
    "max(coalesce(x, d)) AS mx",
    "bool_and(CASE WHEN s IS NOT NULL THEN t IS NOT NULL END) AS isdate",
    "bool_and(coalesce(g, t = date_trunc('DAY', t))) AS mid",
    "max(length(s)) AS maxlen",
)


def _probe_stats(df: DataFrame) -> DataFrame:
    """The statistics of every column of ``df``: one row per column index
    ``k`` that holds a row, with the columns of :data:`_STATS`.

    A ``stack`` in the scan stage turns each input row into one row per
    column with fixed slots: ``k`` the column index, ``s`` a string value,
    ``x`` a typed number as a double (a nested value: its text length),
    ``g`` the exact per-row flag and ``nn`` the non-null mark.  From there
    on the plan's expression text is the same for every input.  An input
    with fewer partitions than :func:`~.io.spread_small_scan` wants is
    spread at that point, so the probe stage behind the exchange is one
    generated class per JVM, and a new table compiles only its scan stage.

    The spread hashes the cell, so the copies of one value share a task.
    On the ``drift_check`` tables that leaves the largest task with 1.06 to
    1.37 times the mean cell count; adding a hash of the input row to the
    key evens the counts but made the kernel slower (warm median 0.61 s ->
    0.75 s over those tables, 4 cores), so the key stays the cell.
    """
    rows = ", ".join(_cells_sql(i, f.name, f.dataType) for i, f in enumerate(df.schema))
    cells = df.selectExpr(f"stack({len(df.columns)}, {rows}) AS (k, s, x, g, nn)")
    probed = spread_small_scan(cells).selectExpr("*", *_PROBES)
    return probed.groupBy("k").agg(*(F.expr(e) for e in _STATS))


def _int_range(mn: float | int | None, mx: float | int | None) -> str:
    if mn is None or mx is None:
        return "int4"
    return "int4" if mn >= INT4_MIN and mx <= INT4_MAX else "int8"


def _varchar(maxlen: int | None) -> str:
    if maxlen is not None and maxlen > VARCHAR_THRESHOLD:
        return "varchar(65535)"
    return "varchar(256)"


def _decide(
    name: str, dtype: T.DataType, s: dict, compat_nested: bool = True
) -> str:
    """Driver-side decision tree over one column's statistics vector.

    Branch order mirrors RAS.py:294-339: all-null -> bool -> numeric
    (integral -> range) -> date/timestamp -> varchar sizing.
    """
    identifier = name.endswith("_id")  # RAS.py:255

    if not s.get("cnt"):
        return "notype"  # RAS.py:306-307

    if isinstance(dtype, T.BooleanType):
        # str(True).lower() = 'true' is in the bool set (RAS.py:311); with the
        # _id escape the reference falls through to float(True)=1.0 -> int4.
        return "int4" if identifier else "bool"

    if isinstance(dtype, _INTEGRAL_TYPES):
        # every non-null integer is 0 or 1 exactly when min >= 0 and max <= 1
        if s["mn"] >= 0 and s["mx"] <= 1 and not identifier:
            return "bool"  # 0/1 columns are swallowed by the bool rule
        return _int_range(s.get("mn"), s.get("mx"))

    if isinstance(dtype, (*_FRACTIONAL_TYPES, T.DecimalType)):
        # str(0.0)='0.0' never matches the bool set, so no bool branch here
        if s.get("intg"):
            return _int_range(s.get("mn"), s.get("mx"))
        return "float8"

    if isinstance(dtype, T.DateType):
        return "date"

    if isinstance(dtype, _TIMESTAMP_TYPES):
        return "date" if s.get("mid") else "timestamp"  # RAS.py:331-334

    if isinstance(dtype, T.StringType):
        if s.get("b01") and not identifier:
            return "bool"
        if s.get("isnum"):  # numeric-before-date, RAS.py:315
            if s.get("intg"):
                return _int_range(s.get("mn"), s.get("mx"))
            return "float8"
        if s.get("isdate"):
            return "date" if s.get("mid") else "timestamp"
        return _varchar(s.get("maxlen"))

    # nested / binary / other: the stringified length rides in x
    if compat_nested:
        return _varchar(s.get("mx"))
    return dtype.simpleString()


def infer_table_schema(
    df: DataFrame,
    compat_nested: bool = True,
    sample_fraction: float | None = None,
) -> list[ColumnInference] | None:
    """Infer a Redshift type for every column of ``df`` from one aggregate.

    Args:
        df: input DataFrame (columns already normalized).
        compat_nested: True (reference-compat) stringifies nested/binary
            columns into the varchar branch; False reports the native Spark
            type (``array<float>`` etc.) instead.
        sample_fraction: opt-in row sampling.  NOTE: inference semantics are
            forall-quantified (one bad row flips a type), so sampling *changes
            results*; it is off by default and documented as approximate.

    The statistics come from :func:`_probe_stats`, one probe kernel whose
    generated code does not depend on the schema: a table the JVM has not
    seen compiles its scan stage only, not the probes.  The price is the
    long form, about one row per cell instead of one per input row, which
    a wide table pays on every call.

    Returns None for an empty (0-row) input, matching RAS.py:243-245 where an
    empty file produces no metadata.
    """
    if sample_fraction is not None:
        df = df.sample(fraction=sample_fraction, seed=42)
    if not df.columns:
        return [] if df.take(1) else None

    stats = {r.k: r.asDict() for r in _probe_stats(df).collect()}
    if not stats:
        return None  # empty input => no metadata (RAS.py:243-245)

    return [
        ColumnInference(
            field.name,
            field.dataType.simpleString(),
            _decide(field.name, field.dataType, stats[i], compat_nested),
        )
        for i, field in enumerate(df.schema.fields)
    ]


_INFERENCE_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), False) for c in ("field", "spark_type", "proposed_type")]
)


def inference_to_df(spark, inferences: list[ColumnInference]) -> DataFrame:
    """Lift inference results into a local DataFrame (field, spark_type, proposed_type)."""
    rows = [(ci.name, ci.spark_type, ci.proposed_type) for ci in inferences]
    return local_df(spark, rows, _INFERENCE_SCHEMA)
