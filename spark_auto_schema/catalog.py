"""Catalog existence checks + deployed-schema fetch via the Spark catalog.

Reference: psycopg2 probes of Redshift system tables —
``check_schema_existence`` (RAS.py:93-107, ``pg_namespace``),
``check_table_existence`` (RAS.py:109-123, ``pg_tables UNION pg_views LIMIT
1`` — views count as tables), and the deployed-column query over
``information_schema.columns`` (RAS.py:215-216).

The rebuild targets the Spark catalog: ``databaseExists`` / ``tableExists``
(which covers views) and the resolved schema of ``spark.table``, which costs
no Spark job where ``listColumns`` walks a Dataset with two to four.
Deployed Spark types are lifted into the Redshift type vocabulary via
:func:`spark_to_redshift_type` so the 13-class alias diffing (types.py)
behaves exactly like the reference's ``udt_name || '(len)'`` strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .ddl import _check_ident
from .io import sql_name, sql_string
from .types import spark_to_redshift_type


def schema_exists(spark: SparkSession, schema: str) -> bool:
    """RAS.py:93-107 — schema existence, no SQL interpolation needed."""
    return spark.catalog.databaseExists(schema)


def _table_name(schema: str, table: str) -> str:
    return f"{sql_name(schema)}.{sql_name(table)}"


def table_exists(spark: SparkSession, schema: str, table: str) -> bool:
    """RAS.py:109-123 — table OR view existence (tableExists covers both)."""
    return spark.catalog.tableExists(_table_name(schema, table))


def deployed_schema_df(spark: SparkSession, schema: str, table: str) -> DataFrame:
    """Deployed columns as (field, deployed_type) in ordinal order.

    Mirrors the reference's information_schema query (RAS.py:215-216) against
    the Spark catalog.  Resolving the table's schema is driver-local metadata
    work, and the result is an inline ``VALUES`` table built from SQL text: a
    local relation that the diff reads without a Spark job or a
    ``createDataFrame``.  A table that does not exist has no deployed
    columns, as the reference's query returns no rows for it, so every
    proposed column diffs as MISSING.
    """
    rows = []
    if table_exists(spark, schema, table):
        columns = spark.table(_table_name(schema, table)).schema
        rows = [(c.name, spark_to_redshift_type(c.dataType)) for c in columns]
    # VALUES needs a row: an empty side filters out a blank one
    values = ", ".join(
        f"({sql_string(f)}, {sql_string(t)})" for f, t in rows or [("", "")]
    )
    where = "" if rows else " WHERE false"
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(field, deployed_type){where}")


def deployed_columns_query(
    schema: str, table: str, dialect: str = "redshift"
) -> str:
    """The reference's deployed-column SQL (RAS.py:215-216), parameter-safe.

    Same projection: ``udt_name || '(character_maximum_length)'`` for sized
    types, ordered by ordinal position.  Unlike the reference's raw f-string
    interpolation (SURVEY.md section 1.4 — injection-prone), schema/table
    must be plain SQL identifiers; anything else is rejected.

    ``dialect='redshift'`` (default) is reference-exact, including the
    unlengthed ``CAST(... AS VARCHAR)`` Redshift/postgres accept.
    ``dialect='ansi'`` renders the length via ``TRIM(CAST(... AS
    CHAR(10)))`` — equivalent output, accepted by engines that require a
    length on every character cast (Derby, DB2), which is what the embedded
    Derby integration test exercises through the real ``spark.read.jdbc``
    path."""
    _check_ident(schema, "schema")
    _check_ident(table, "table")
    if dialect == "redshift":
        len_expr = "CAST(character_maximum_length AS VARCHAR)"
    elif dialect == "ansi":
        len_expr = "TRIM(CAST(character_maximum_length AS CHAR(10)))"
    else:
        raise ValueError(f"unknown dialect: {dialect!r}")
    return (
        "SELECT column_name AS field, udt_name || "
        "CASE WHEN character_maximum_length IS NOT NULL "
        f"THEN '(' || {len_expr} || ')' "
        "ELSE '' END AS deployed_type "
        "FROM information_schema.columns "
        f"WHERE table_schema = '{schema}' AND table_name = '{table}' "
        "ORDER BY ordinal_position"
    )


def _jdbc_load(
    spark: SparkSession, url: str, query: str, properties: dict[str, str]
) -> DataFrame:
    """One JDBC pushdown query via the public ``jdbc`` source (tests stub
    this seam; a real run needs the Redshift/postgres driver jar on the
    classpath)."""
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in properties.items():
        reader = reader.option(k, v)
    return reader.load()


def deployed_schema_df_jdbc(
    spark: SparkSession,
    url: str,
    schema: str,
    table: str,
    properties: dict[str, str] | None = None,
    dialect: str = "redshift",
) -> DataFrame:
    """Deployed columns of a LIVE Redshift/postgres table as
    (field, deployed_type), via ``spark.read.jdbc`` —  the rebuild's
    equivalent of the reference's psycopg2 ``information_schema.columns``
    fetch (RAS.py:215-216), closing the live-catalog path without a psycopg2
    dependency.

    The query is pushed down to the warehouse (a single-partition read of a
    catalog-sized result — no parallelism needed); the result is the
    ``deployed_df`` of ``SparkAutoSchema.evaluate_table_ddl_diffs``, read
    like :func:`deployed_schema_df`.  ``properties`` passes JDBC options
    through (``user``, ``password``, ``driver``, ...)."""
    query = deployed_columns_query(schema, table, dialect=dialect)
    df = _jdbc_load(spark, url, query, dict(properties or {}))
    # normalize column case: some JDBC catalogs upper-case unquoted aliases
    return df.toDF(*[c.lower() for c in df.columns]).select(
        "field", "deployed_type"
    )
