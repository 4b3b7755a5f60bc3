"""Inference branch coverage: every decision-tree branch, CSV and parquet.

Reference tree: /root/reference/redshift_auto_schema/RedshiftAutoSchema.py:294-339.
"""

from __future__ import annotations

import pytest

from spark_auto_schema.inference import infer_table_schema
from spark_auto_schema.io import load_file

from .conftest import INFER_PROBE_EXPECTED


def _types(results):
    return {ci.name: ci.proposed_type for ci in results}


def test_parquet_branches(spark, infer_probe_parquet):
    df = load_file(spark, infer_probe_parquet)
    got = _types(infer_table_schema(df))
    assert got == INFER_PROBE_EXPECTED


def test_csv_branches(spark, infer_probe_csv):
    df = load_file(spark, infer_probe_csv)
    got = _types(infer_table_schema(df))
    assert got == INFER_PROBE_EXPECTED


def test_empty_input_returns_none(spark):
    df = spark.createDataFrame([], "a string, b int")
    assert infer_table_schema(df) is None


def test_single_pass_plan(spark, infer_probe_parquet):
    """The inference stats are ONE aggregate over one scan: the plan of the
    frame ``infer_table_schema`` collects holds one parquet scan and exactly
    one partial and one final HashAggregate."""
    from spark_auto_schema.inference import _probe_stats

    df = load_file(spark, infer_probe_parquet)
    plan = _probe_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2
    assert sum("partial_count(" in l for l in plan.splitlines()) == 1


def test_new_table_compiles_no_probe_code(spark, tmp_path):
    """The probe kernel's generated code does not depend on the schema.
    After one table, a table with other column names, count and types
    finds its probe stage in Spark's compile cache (the cache is keyed by
    code text), so only its scan stage compiles."""
    import datetime
    from decimal import Decimal

    from spark_auto_schema.inference import _probe_stats

    def landed(name, rows, schema):  # one file, one partition: spread
        path = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        return load_file(spark, path)

    def stage_code(df) -> dict[str, str]:
        stats = _probe_stats(df)
        stats.collect()
        seq = stats._jdf.queryExecution().debug().codegenToSeq()
        return {seq.apply(i)._2(): seq.apply(i)._1() for i in range(seq.size())}

    first = landed(
        "first", [("2020-01-01", 1, Decimal("1.50"))] * 20,
        "name string, n int, amt decimal(10,2)",
    )
    second = landed(
        "second", [(1.5, "x", "12", datetime.datetime(2020, 1, 1), True, None)] * 20,
        "score double, label string, code string, ts timestamp, flag boolean, note string",
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    infer_table_schema(first)
    before = compiles.getCount()
    assert _types(infer_table_schema(second)) == {
        "score": "float8", "label": "varchar(256)", "code": "int4",
        "ts": "date", "flag": "bool", "note": "notype",
    }
    # only the scan stage's class, which Spark compiles twice; the wide
    # per-table aggregate this kernel replaced compiled 7 or more
    assert compiles.getCount() - before <= 2

    seen, codes = stage_code(first), stage_code(second)
    # the stage that projects the probes and partially aggregates them
    probes = [c for c, tree in codes.items() if "partial_count(" in tree.splitlines()[0]]
    assert len(probes) == 1 and "gettimestamp" in codes[probes[0]]
    assert probes[0] in seen
    new = [tree for code, tree in codes.items() if code not in seen]
    assert len(new) == 1 and "Scan parquet" in new[0]
    assert "RLIKE" not in new[0] and "gettimestamp" not in new[0]


def test_bool_column_dtype(spark):
    df = spark.createDataFrame([(True,), (False,), (None,)], "flag boolean")
    got = _types(infer_table_schema(df))
    assert got == {"flag": "bool"}


def test_bool_dtype_identifier_becomes_int4(spark):
    # reference quirk: _id escape skips the bool branch, float(True)=1.0 -> int4
    df = spark.createDataFrame([(True,), (False,)], "x_id boolean")
    got = _types(infer_table_schema(df))
    assert got == {"x_id": "int4"}


@pytest.mark.parametrize("dtype", ["tinyint", "int", "bigint"])
@pytest.mark.parametrize(
    "name,values,expected",
    [
        ("x", [0, 1, None], "bool"),
        ("x", [-1, 0, 1], "int4"),
        ("x", [0, 1, 2], "int4"),
        ("x", [0, 0], "bool"),
        ("x_id", [0, 1], "int4"),  # _id escape skips the bool branch
    ],
)
def test_integral_01_columns(spark, dtype, name, values, expected):
    """An integer column is bool exactly when its non-null values all lie
    in {0, 1}, whatever its width; an _id column never is."""
    df = spark.createDataFrame([(v,) for v in values], f"{name} {dtype}")
    assert _types(infer_table_schema(df)) == {name: expected}


def test_date_dtype(spark):
    import datetime

    df = spark.createDataFrame(
        [(datetime.date(2020, 1, 1),), (datetime.date(2021, 2, 3),)], "d date"
    )
    assert _types(infer_table_schema(df)) == {"d": "date"}


def test_nested_compat_vs_native(spark):
    df = spark.createDataFrame([([1.0, 2.0],), ([3.0] * 200,)], "emb array<double>")
    compat = _types(infer_table_schema(df, compat_nested=True))
    native = _types(infer_table_schema(df, compat_nested=False))
    assert compat == {"emb": "varchar(65535)"}  # stringified > 240 chars
    assert native == {"emb": "array<double>"}


def test_sampling_is_opt_in(spark, infer_probe_parquet):
    df = load_file(spark, infer_probe_parquet)
    # sample_fraction=1.0 must agree with the full scan
    assert _types(infer_table_schema(df, sample_fraction=1.0)) == INFER_PROBE_EXPECTED


@pytest.mark.parametrize(
    "values,expected",
    [
        ([("0",), ("1",)], "bool"),  # stringified 0/1 still bool
        ([("2",), ("3",)], "int4"),
        ([("2147483648",), ("1",)], "int8"),
        ([("1.5",), ("2",)], "float8"),
        ([("1e3",), ("2",)], "int4"),  # scientific notation, integral
        (
            [("2019-01-01T12:00:00",), ("2020-01-01T01:02:03",)],
            "timestamp",
        ),  # ISO T separator
        ([("03/15/2019",), ("12/31/2020",)], "date"),  # US date shape
        ([("Jan 5, 2020",), ("Mar 7, 2021",)], "date"),  # month-name shape
        ([("2019-13-45",), ("2020-01-01",)], "varchar(256)"),  # invalid date
        (
            [("2019-01-02 03:04",), ("2020-05-06 07:08",)],
            "timestamp",
        ),  # minutes without seconds are COMPLETE (dateutil agrees)
        ([("2019",), ("2020",)], "int4"),  # numeric-before-date
        ([("03/2019",), ("04/2020",)], "varchar(256)"),  # partial date
        (
            [("2019-01-02T03:04:05+02:00",), ("2020-01-02T03:04:05+02:00",)],
            "varchar(256)",
        ),  # zoned shapes excluded by design (documented divergence)
    ],
)
def test_string_probe_cases(spark, values, expected):
    df = spark.createDataFrame(values, "c string")
    assert _types(infer_table_schema(df)) == {"c": expected}


def test_guarded_date_probe_matches_unguarded_formats(spark):
    """The prefix guards only skip parses that would fail: on every shape
    below, the guarded probe picks the same timestamp (or NULL) as trying
    every format in order."""
    from pyspark.sql import functions as F

    from spark_auto_schema.inference import (
        COMPLETE_DATE_FORMATS,
        DATEISH_RE,
        _parsed_timestamp_sql,
    )

    values = [
        "2019-01-02", "2019-1-2 3:4", "2019-01-02 03:04:05.123456789",
        "2019-01-02T03:04", "2019-1-2t3:4:5", "2019/01/02", "2019/1/2 03:04",
        "1/2/2020", "01/02/2020 3:4:5.5", "0012-5-2019", "12-31-2020 1:2",
        "0001/2/3", "201-1-2", "12345/2/3", "1/2/2020 3:4",
        "Jan 2, 2020", "jan 2, 2020 3:4", "JAN 2 2020", "January 2, 2020",
        "2 Jan 2020", "002 Jan 2020", "Sept 3, 2020", "2019-13-45",
        "2019-02-30", "03/2019", "Jan 2020", "2019", "hello", "", None,
    ]
    df = spark.createDataFrame([(v,) for v in values], "c string")
    unguarded = F.when(
        F.col("c").rlike(DATEISH_RE),
        F.coalesce(*[F.try_to_timestamp("c", F.lit(f)) for f in COMPLETE_DATE_FORMATS]),
    )
    rows = df.select(
        "c", unguarded.alias("want"), F.expr(_parsed_timestamp_sql("`c`")).alias("got")
    ).collect()
    assert [(r.c, r.got) for r in rows] == [(r.c, r.want) for r in rows]
    assert sum(r.want is not None for r in rows) >= 15  # the shapes do parse


def test_guarded_numeric_probe_matches_try_cast(spark):
    """The numeric probe skips only text that cannot cast to a double."""
    from pyspark.sql import functions as F

    from spark_auto_schema.inference import NUMERIC_HINT_RE

    values = [
        "1", " 2 ", "\t3\n", "-4.5", "+.5", "1e3", "1E-3", "1d", "2f", "0x1p3",
        "NaN", "-nan", "Infinity", "+INF", "-inf", "infinity", "1,000", "12abc",
        "abc", "", "info", "banana", "2019-01-02", None,
    ]
    df = spark.createDataFrame([(v,) for v in values], "c string")
    want = F.col("c").try_cast("double")
    got = F.when(F.col("c").rlike(NUMERIC_HINT_RE), want)
    rows = df.select("c", want.alias("want"), got.alias("got")).collect()
    # repr: NaN never equals itself
    assert [(r.c, repr(r.got)) for r in rows] == [(r.c, repr(r.want)) for r in rows]
    assert sum(r.want is not None for r in rows) >= 10  # the shapes do cast
