"""Schema diff / DDL / column-list queries and oracles (SURVEY.md §2A rows 20-30).

Mechanically split from __spark_entry__.py (round 11); no semantic change.
Assembled by __spark_entry__.queries() / oracle_sql() — the single driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from spark_auto_schema import SparkAutoSchema
from pyspark.sql import SparkSession
from spark_auto_schema.io import local_df
from spark_auto_schema.types import TYPE_CLASSES
from spark_auto_schema.ddl import generate_column_ddl
from spark_auto_schema.diff import evaluate_diffs, missing_columns

# ---------------------------------------------------------------------------
# diff / ddl queries
# ---------------------------------------------------------------------------

_DIFF_PROPOSED = [
    ("a", "int4"),
    ("b", "int4"),
    ("c", "float8"),
    ("e", "notype"),
    ("f", "timestamp"),
]
_DIFF_DEPLOYED = [
    ("a", "integer"),
    ("b", "varchar(256)"),
    ("d", "date"),
    ("f", "timestamp without time zone"),
]


def _classify_sql(col: str) -> str:
    """DuckDB CASE mirroring types.classify_type (13-class alias table)."""
    whens = " ".join(
        "WHEN lower(trim({c})) IN ({a}) THEN {cls}".format(
            c=col,
            a=", ".join(f"'{x}'" for x in aliases),
            cls=cls,
        )
        for cls, aliases in TYPE_CLASSES.items()
    )
    return f"CASE {whens} ELSE 0 END"


def _strings(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


def _q_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluate_diffs(spark, _DIFF_PROPOSED, _DIFF_DEPLOYED)


def _values_sql(rows: list[tuple[str, str]]) -> str:
    return ", ".join(f"('{a}', '{b}')" for a, b in rows)


def _diff_oracle_sql() -> str:
    return f"""
WITH proposed(field, proposed_type) AS (VALUES {_values_sql(_DIFF_PROPOSED)}),
     deployed(field, deployed_type) AS (VALUES {_values_sql(_DIFF_DEPLOYED)}),
     j AS (SELECT coalesce(p.field, d.field) AS field, proposed_type, deployed_type
           FROM proposed p FULL OUTER JOIN deployed d ON p.field = d.field),
     r AS (SELECT field, proposed_type, deployed_type,
                  CASE WHEN proposed_type IS NOT NULL AND deployed_type IS NULL THEN 'MISSING'
                       WHEN proposed_type IS NULL AND deployed_type IS NOT NULL THEN 'DEPRECATED'
                       WHEN {_classify_sql('proposed_type')} != {_classify_sql('deployed_type')} THEN 'TYPE MISMATCH'
                  END AS reason
           FROM j)
SELECT field, proposed_type, deployed_type, reason FROM r
WHERE (proposed_type IS NULL OR proposed_type != 'notype') AND reason IS NOT NULL
"""


def _q_column_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    missing = missing_columns(_q_schema_diff(spark, sf_dir))
    rows = [(f, generate_column_ddl("analytics", "t", [(f, t)])) for f, t in missing]
    return local_df(spark, rows, _strings("field", "ddl"))


def _column_ddl_oracle_sql() -> str:
    return (
        f"WITH diff AS ({_diff_oracle_sql()}) "
        "SELECT field, 'ALTER TABLE analytics.t ADD COLUMN ' || field || ' ' || "
        "proposed_type || ';' AS ddl FROM diff WHERE reason = 'MISSING'"
    )


def _q_column_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    sas = SparkAutoSchema(
        schema="s", table="lineitem", file=f"{sf_dir}/lineitem.parquet", spark=spark
    )
    return local_df(spark, [(c,) for c in sas.get_column_list()], _strings("field"))


