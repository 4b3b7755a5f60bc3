"""Golden DDL tests (FIXTURES.md section 2; reference RAS.py:125-200)."""

from __future__ import annotations

import pytest

from spark_auto_schema import ddl

COLS = [("user_id", "int4"), ("amount", "float8"), ("note", "varchar(256)")]


def test_schema_ddl():
    assert ddl.generate_schema_ddl("analytics") == (
        "CREATE SCHEMA IF NOT EXISTS analytics;"
    )


def test_schema_permissions():
    assert ddl.generate_schema_permissions("analytics", "dbreader") == (
        "GRANT USAGE ON SCHEMA analytics TO GROUP dbreader;"
    )


def test_table_permissions():
    assert ddl.generate_table_permissions("analytics", "t1", "dbreader") == (
        "GRANT SELECT ON analytics.t1 TO GROUP dbreader;"
    )


def test_table_ddl_default_diststyle_even():
    assert ddl.generate_table_ddl("analytics", "t1", COLS) == (
        "CREATE TABLE analytics.t1 (\n"
        '"user_id" int4\n'
        ', "amount" float8\n'
        ', "note" varchar(256)\n'
        ")\n"
        "DISTSTYLE EVEN\n"
    )


def test_table_ddl_dist_key():
    out = ddl.generate_table_ddl("analytics", "t1", COLS, dist_key="user_id")
    assert out.endswith(")\nDISTKEY (user_id)\n")
    assert "DISTSTYLE" not in out


def test_table_ddl_sort_key_multi():
    out = ddl.generate_table_ddl("analytics", "t1", COLS, sort_key="user_id, amount")
    assert out.endswith("DISTSTYLE EVEN\nSORTKEY (user_id, amount)\n")


def test_table_ddl_primary_key_and_export_field():
    out = ddl.generate_table_ddl(
        "analytics",
        "t1",
        COLS,
        primary_key="user_id",
        export_field_name="export_date",
        export_field_type="date",
    )
    assert " , export_date date\n , PRIMARY KEY (user_id)\n)\n" in out


def test_table_ddl_notype_becomes_varchar256():
    out = ddl.generate_table_ddl("s", "t", [("c", "notype")])
    assert '"c" varchar(256)' in out  # RAS.py:153


def test_column_ddl():
    out = ddl.generate_column_ddl("s", "t", [("c", "float8"), ("d", "date")])
    assert out == (
        "ALTER TABLE s.t ADD COLUMN c float8;\nALTER TABLE s.t ADD COLUMN d date;"
    )
    assert ddl.generate_column_ddl("s", "t", []) is None


@pytest.mark.parametrize(
    "bad", ["s; DROP TABLE x", "s.t", "s t", "", "1abc", 'a"b', "s\n"]
)
def test_injection_rejected(bad):
    # the reference interpolates raw f-strings (RAS.py:104,120); we validate
    with pytest.raises(ValueError):
        ddl.generate_schema_ddl(bad)
    with pytest.raises(ValueError):
        ddl.generate_table_ddl(bad, "t", COLS)


def test_spark_dialect_ddl():
    out = ddl.generate_spark_table_ddl(
        "analytics", "t1", COLS + [("ts", "timestamp")], partitioned_by=["user_id"]
    )
    assert out == (
        "CREATE TABLE analytics.t1 (\n"
        "  user_id INT\n"
        ",\n  amount DOUBLE\n"
        ",\n  note STRING\n"
        ",\n  ts TIMESTAMP\n"
        ")\nUSING parquet\nPARTITIONED BY (user_id)"
    ).replace("\n,\n", ",\n")


def test_spark_dialect_runs_in_spark(spark, tmp_path):
    out = ddl.generate_spark_table_ddl(
        "default", "sas_ddl_check", COLS, location=str(tmp_path / "t")
    )
    spark.sql("DROP TABLE IF EXISTS default.sas_ddl_check")
    spark.sql(out)  # must be valid Spark SQL
    cols = {c.name for c in spark.catalog.listColumns("sas_ddl_check", "default")}
    assert cols == {"user_id", "amount", "note"}
    spark.sql("DROP TABLE default.sas_ddl_check")


@pytest.mark.parametrize(
    "kwargs",
    [
        {"fmt": "parquet OPTIONS (path '/x')"},
        {"fmt": "parquet; DROP TABLE t"},
        {"fmt": "parquet\n"},
        {"location": "/tmp/t'; DROP TABLE t; --"},
        {"location": "/tmp/t\\"},
    ],
)
def test_spark_dialect_free_text_rejected(kwargs):
    # USING and LOCATION are interpolated into the statement: a format is an
    # identifier, and a location cannot close or escape its quotes
    with pytest.raises(ValueError):
        ddl.generate_spark_table_ddl("analytics", "t1", COLS, **kwargs)


@pytest.mark.parametrize(
    "bad", ["date); DROP TABLE x; --", "varchar(256", "int\n", "a b;", " "]
)
def test_export_field_type_rejected(bad):
    with pytest.raises(ValueError):
        ddl.generate_table_ddl(
            "analytics", "t1", COLS,
            export_field_name="export_date", export_field_type=bad,
        )


@pytest.mark.parametrize(
    "good", ["varchar(256)", "numeric(18,2)", "double precision"]
)
def test_export_field_type_accepted(good):
    out = ddl.generate_table_ddl(
        "analytics", "t1", COLS,
        export_field_name="export_date", export_field_type=good,
    )
    assert f" , export_date {good}\n" in out


_BAD_COLUMN_TYPES = [
    "int; DROP TABLE x",
    "int); DROP TABLE x; --",
    "numeric(18,2)); DROP TABLE x; --",
    "decimal(38,18) NOT NULL, evil int",
    "array<int>; DROP TABLE x",
    "array<int>x",
    "struct<a int>",
    "#",
    "int\n",
]


@pytest.mark.parametrize("bad", _BAD_COLUMN_TYPES)
def test_column_type_rejected_in_every_dialect(bad):
    # every emitter interpolates the column type into the statement, and
    # the Spark dialect maps a decimal's precision text through as written
    cols = [("c", bad)]
    for emit in (
        lambda: ddl.generate_table_ddl("analytics", "t1", cols),
        lambda: ddl.generate_column_ddl("analytics", "t1", cols),
        lambda: ddl.generate_spark_table_ddl("analytics", "t1", cols),
        lambda: ddl.generate_spark_column_ddl("analytics", "t1", cols),
    ):
        with pytest.raises(ValueError):
            emit()


@pytest.mark.parametrize(
    "good",
    [
        "int2", "int4", "int8", "float8", "bool", "date", "timestamp",
        "varchar(256)", "varchar(65535)", "numeric(18,2)", "double precision",
        "notype", "binary", "array<float>", "struct<a:int>",
        "map<string,array<int>>", "struct<a:int,b:struct<c:string>>",
        "array<decimal(10,2)>",
    ],
)
def test_column_type_accepted(good):
    rtype = "varchar(256)" if good == "notype" else good
    assert f'"c" {rtype}\n' in ddl.generate_table_ddl("analytics", "t1", [("c", good)])
    assert ddl.generate_column_ddl("analytics", "t1", [("c", good)]).endswith(
        f" c {good};"
    )
    assert ddl.generate_spark_column_ddl("analytics", "t1", [("c", good)])


def test_native_nested_inference_types_pass_the_type_check(spark):
    # compat_nested=False reports Spark's simpleString for nested columns;
    # the DDL emitters must take every type inference emits
    from spark_auto_schema.inference import infer_table_schema

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], {"k": 1}, (3, "x"))],
        "id int, v array<float>, m map<string,int>, s struct<a:int,b:string>",
    )
    cols = [
        (c.name, c.proposed_type)
        for c in infer_table_schema(df, compat_nested=False)
    ]
    assert {t for _, t in cols} >= {
        "array<float>", "map<string,int>", "struct<a:int,b:string>"
    }
    ddl.generate_table_ddl("analytics", "t1", cols)
    ddl.generate_spark_table_ddl("analytics", "t1", cols)
