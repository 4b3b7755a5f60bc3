"""Diff matrix + 13-class classification tests (FIXTURES.md section 3).

Reference: RAS.py:202-225 (diff), RAS.py:258-292 (_classify_type).
"""

from __future__ import annotations

import pytest

from spark_auto_schema.diff import diff_rows, evaluate_diffs, missing_columns
from spark_auto_schema.types import classify_type


@pytest.mark.parametrize(
    "t,cls",
    [
        ("smallint", 1),
        ("int2", 1),
        ("integer", 2),
        ("int", 2),
        ("int4", 2),
        ("bigint", 3),
        ("int8", 3),
        ("decimal", 4),
        ("numeric", 4),
        ("real", 5),
        ("float", 5),  # first-match: class 5, not the dead class-6 alias
        ("double precision", 6),
        ("float8", 6),
        ("boolean", 7),
        ("bool", 7),
        ("char", 8),
        ("bpchar", 8),
        ("varchar", 9),
        ("varchar(256)", 9),
        ("text", 9),
        ("character varying(256)", 9),
        ("varchar(65535)", 10),
        ("nvarchar(65535)", 10),
        ("date", 11),
        ("timestamp", 12),
        ("timestamp without time zone", 12),
        ("timestamptz", 13),
        ("timestamp with time zone", 13),
        ("DATE", 11),  # case-insensitive
        (" int4 ", 2),  # trimmed
        ("varchar(123)", 0),  # unknown stays 0 like the reference
        ("nan", 0),
        (None, 0),
        # fixed substring bug (RAS.py:285): these were class 11 in the reference
        ("dat", 0),
        ("at", 0),
        ("e", 0),
    ],
)
def test_classify_type(t, cls):
    assert classify_type(t) == cls


def test_diff_matrix(spark):
    proposed = [("a", "int4"), ("b", "int4"), ("c", "float8"), ("e", "notype")]
    deployed = [("a", "integer"), ("b", "varchar(256)"), ("d", "date")]
    diff = evaluate_diffs(spark, proposed, deployed)
    got = {r["field"]: (r["proposed_type"], r["deployed_type"], r["reason"])
           for r in diff.collect()}
    assert got == {
        # a: int4 vs integer = same class 2 -> no diff -> absent
        "b": ("int4", "varchar(256)", "TYPE MISMATCH"),
        "c": ("float8", None, "MISSING"),
        "d": (None, "date", "DEPRECATED"),
        # e: notype proposals silently dropped (RAS.py:222)
    }
    assert missing_columns(diff) == [("c", "float8")]


def test_diff_empty_when_identical(spark):
    assert evaluate_diffs(spark, [("a", "int4")], [("a", "int")]).count() == 0


def test_diff_unknown_types_both_class0_no_mismatch(spark):
    # reference behavior: two unknown types both classify 0 -> equal -> no diff
    assert evaluate_diffs(spark, [("a", "weird1")], [("a", "weird2")]).count() == 0


# ------------------------------------------------------- diff parity pins
# Every case the full-outer-join rule decides (RAS.py:217-225), as
# (proposed rows, deployed rows, expected diff rows).
PARITY_CASES = {
    "proposed_only_is_missing": (
        [("a", "int4")], [("z", "int4")],
        [("a", "int4", None, "MISSING"), ("z", None, "int4", "DEPRECATED")],
    ),
    "deployed_only_is_deprecated": (
        [], [("d", "date")], [("d", None, "date", "DEPRECATED")],
    ),
    "class_mismatch": (
        [("b", "int4")], [("b", "varchar(256)")],
        [("b", "int4", "varchar(256)", "TYPE MISMATCH")],
    ),
    "alias_equal_is_absent": (
        [("a", "int4"), ("t", "timestamp")],
        [("a", "INTEGER"), ("t", "timestamp without time zone")],
        [],
    ),
    "notype_dropped": (
        [("e", "notype"), ("f", "notype")], [("f", "int4")], [],
    ),
    "deployed_only_null_type_dropped": ([], [("d", None)], []),
    "present_field_null_deployed_type_is_missing": (
        [("a", "int4")], [("a", None)], [("a", "int4", None, "MISSING")],
    ),
    "unknown_types_both_class0_absent": (
        [("a", "weird1")], [("a", "weird2")], [],
    ),
    "empty_proposed": ([], [("d", "date")], [("d", None, "date", "DEPRECATED")]),
    "empty_deployed": ([("a", "int4")], [], [("a", "int4", None, "MISSING")]),
    "both_empty": ([], [], []),
}


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_diff_parity(spark, case):
    proposed, deployed, want = PARITY_CASES[case]
    diff = evaluate_diffs(spark, proposed, deployed)
    assert diff.columns == ["field", "proposed_type", "deployed_type", "reason"]
    assert sorted(tuple(r) for r in diff.collect()) == sorted(want)
    assert missing_columns(diff) == [
        (f, p) for f, p, _, reason in want if reason == "MISSING"
    ]


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_diff_rows_parity(case):
    """The pure-Python rule decides every case without a session."""
    proposed, deployed, want = PARITY_CASES[case]
    assert diff_rows(proposed, deployed) == want


def test_diff_row_order_proposed_then_deprecated(spark):
    """Proposed columns in inference order, then deprecated columns in
    catalog order."""
    proposed = [("p1", "int4"), ("p2", "float8"), ("p3", "date"), ("p4", "bool"),
                ("p5", "int8")]
    deployed = [("z_dep", "int4"), ("p3", "timestamp"), ("a_dep", "date"),
                ("p1", "integer"), ("m_dep", "bool")]
    diff = evaluate_diffs(spark, proposed, deployed)
    assert [tuple(r) for r in diff.collect()] == [
        ("p2", "float8", None, "MISSING"),
        ("p3", "date", "timestamp", "TYPE MISMATCH"),
        ("p4", "bool", None, "MISSING"),
        ("p5", "int8", None, "MISSING"),
        ("z_dep", None, "int4", "DEPRECATED"),
        ("a_dep", None, "date", "DEPRECATED"),
        ("m_dep", None, "bool", "DEPRECATED"),
    ]
    assert missing_columns(diff) == [("p2", "float8"), ("p4", "bool"), ("p5", "int8")]


# ------------------------------------------------------- JDBC deployed path
def test_deployed_columns_query_matches_reference_shape():
    from spark_auto_schema.catalog import deployed_columns_query

    q = deployed_columns_query("analytics", "orders")
    # same projection as RAS.py:215-216: udt_name || '(len)' for sized types,
    # filtered to the schema/table, in ordinal order
    assert "information_schema.columns" in q
    assert "udt_name" in q and "character_maximum_length" in q
    assert "table_schema = 'analytics'" in q
    assert "table_name = 'orders'" in q
    assert q.rstrip().endswith("ORDER BY ordinal_position")


@pytest.mark.parametrize("bad", ["x; drop table y", "a'b", 'a"b', "", "1abc"])
def test_deployed_columns_query_rejects_non_identifiers(bad):
    from spark_auto_schema.catalog import deployed_columns_query

    with pytest.raises(ValueError):
        deployed_columns_query(bad, "t")
    with pytest.raises(ValueError):
        deployed_columns_query("s", bad)


def test_deployed_schema_df_jdbc_stubbed(spark, monkeypatch):
    """Stub the JDBC seam (_jdbc_load) and drive the full live-diff flow
    through the facade's one option: jdbc fetch ->
    ``evaluate_table_ddl_diffs(deployed_df=...)`` ->
    MISSING/TYPE MISMATCH/DEPRECATED -> ALTER for the MISSING rows."""
    from spark_auto_schema import SparkAutoSchema, catalog

    captured = {}

    def fake_jdbc_load(sp, url, query, properties):
        captured.update(url=url, query=query, properties=properties)
        # what a Redshift information_schema fetch of this table would return
        # (upper-case column names: some JDBC catalogs upcase unquoted aliases)
        return sp.createDataFrame(
            [("a", "int4"), ("b", "varchar(256)"), ("d", "date")],
            "FIELD string, DEPLOYED_TYPE string",
        )

    monkeypatch.setattr(catalog, "_jdbc_load", fake_jdbc_load)
    deployed = catalog.deployed_schema_df_jdbc(
        spark,
        "jdbc:redshift://example.invalid:5439/db",
        "analytics",
        "orders",
        properties={"user": "u", "driver": "com.amazon.redshift.jdbc42.Driver"},
    )
    assert deployed.columns == ["field", "deployed_type"]
    assert captured["url"].startswith("jdbc:redshift://")
    assert "table_name = 'orders'" in captured["query"]
    assert captured["properties"]["user"] == "u"

    sas = SparkAutoSchema(
        schema="analytics",
        table="orders",
        file_df=spark.createDataFrame([(5, 7, 2.5)], "a long, b long, c double"),
        spark=spark,
    )
    assert [(ci.name, ci.proposed_type) for ci in sas._ensure_metadata()] == [
        ("a", "int4"), ("b", "int4"), ("c", "float8"),
    ]
    got = {
        r["field"]: r["reason"]
        for r in sas.evaluate_table_ddl_diffs(deployed_df=deployed).collect()
    }
    assert got == {"b": "TYPE MISMATCH", "c": "MISSING", "d": "DEPRECATED"}
    assert sas.generate_column_ddl() == "ALTER TABLE analytics.orders ADD COLUMN c float8;"


def test_missing_catalog_table_diffs_every_column_as_missing(spark, tmp_path):
    """A table absent from the catalog has no deployed columns (the
    reference's information_schema query returns no rows), so every proposed
    column is MISSING and the column DDL adds each one."""
    from spark_auto_schema import SparkAutoSchema
    from spark_auto_schema.catalog import deployed_schema_df

    assert deployed_schema_df(spark, "sas_absent_db", "nope").collect() == []
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None)], "id int, name string, x double"
    ).write.parquet(path)
    sas = SparkAutoSchema(schema="sas_absent_db", table="nope", file=path, spark=spark)
    proposed = [(ci.name, ci.proposed_type) for ci in sas._ensure_metadata()]
    rows = sas.evaluate_table_ddl_diffs().collect()
    assert [tuple(r) for r in rows] == [(f, t, None, "MISSING") for f, t in proposed]
    alter = sas.generate_column_ddl()
    assert alter.count("ALTER TABLE") == len(proposed)
    for f, t in proposed:
        assert f"ALTER TABLE sas_absent_db.nope ADD COLUMN {f} {t};" in alter
