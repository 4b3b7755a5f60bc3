"""Type vocabulary: Redshift-type classification and Spark<->Redshift mapping.

Reference behavior: ``_classify_type`` in
``/root/reference/redshift_auto_schema/RedshiftAutoSchema.py:258-292`` maps
type names and aliases to 13 equivalence classes used for schema diffing.

Deliberate divergences from the reference (SURVEY.md section 1.4):

* ``RAS.py:285`` tests ``datatype in ('date')`` which is a Python substring
  test (the parens are not a tuple), so ``'at'``, ``'dat'``, ``'e'`` all
  classify as date.  We use exact equality.
* ``RAS.py:273,275`` lists ``'float'`` in both class 5 (real) and class 6
  (double precision); first match wins, so ``'float'`` is class 5.  We keep
  that reachable behavior and drop the dead alias.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Class id -> alias list, order matters (first match wins), all lowercase.
# Mirrors RAS.py:258-292.
TYPE_CLASSES: dict[int, tuple[str, ...]] = {
    1: ("smallint", "int2"),
    2: ("integer", "int", "int4"),
    3: ("bigint", "int8"),
    4: ("decimal", "numeric"),
    5: ("real", "float"),
    6: ("double precision", "float8"),
    7: ("boolean", "bool"),
    8: ("char", "character", "nchar", "bpchar"),
    9: (
        "varchar",
        "varchar(256)",
        "character varying",
        "character varying(256)",
        "nvarchar",
        "nvarchar(256)",
        "text",
    ),
    10: ("varchar(65535)", "character varying(65535)", "nvarchar(65535)"),
    11: ("date",),
    12: ("timestamp", "timestamp without time zone"),
    13: ("timestamptz", "timestamp with time zone"),
}

_ALIAS_TO_CLASS: dict[str, int] = {}
for _cls, _aliases in TYPE_CLASSES.items():
    for _a in _aliases:
        _ALIAS_TO_CLASS.setdefault(_a, _cls)


def classify_type(datatype: object) -> int:
    """13-way type-alias normalization for diff comparison (RAS.py:258-292).

    Unknown / null types classify as 0 (the reference stringifies NaN to
    ``'nan'`` which also lands in class 0).
    """
    return _ALIAS_TO_CLASS.get(str(datatype).lower().strip(), 0)


# ---------------------------------------------------------------------------
# Redshift <-> Spark type mapping (rebuild-side dialect tables; no reference
# equivalent — the reference only ever emits Redshift type strings).
# ---------------------------------------------------------------------------

_REDSHIFT_TO_SPARK = {
    "int2": "SMALLINT",
    "smallint": "SMALLINT",
    "int4": "INT",
    "int": "INT",
    "integer": "INT",
    "int8": "BIGINT",
    "bigint": "BIGINT",
    "float8": "DOUBLE",
    "double precision": "DOUBLE",
    "real": "FLOAT",
    "float": "FLOAT",
    "bool": "BOOLEAN",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamptz": "TIMESTAMP",
    "notype": "STRING",
}


def redshift_to_spark_type(redshift_type: str) -> str:
    """Map a Redshift type string to a Spark SQL DDL type string."""
    t = str(redshift_type).lower().strip()
    if t.startswith(("varchar", "character varying", "nvarchar", "char", "text")):
        return "STRING"
    if t.startswith(("decimal", "numeric")):
        inner = t[t.find("(") :] if "(" in t else "(38,18)"
        return f"DECIMAL{inner}"
    return _REDSHIFT_TO_SPARK.get(t, "STRING")


def spark_to_redshift_type(dt: T.DataType) -> str:
    """Map a Spark DataType to the Redshift-vocabulary name used in diffs.

    Used to lift the deployed Spark catalog schema into the same type
    vocabulary the reference reads from ``information_schema.columns``
    (RAS.py:215-216), so alias-aware diffing works against Spark tables.
    """
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return "int2"
    if isinstance(dt, T.IntegerType):
        return "int4"
    if isinstance(dt, T.LongType):
        return "int8"
    if isinstance(dt, T.FloatType):
        return "real"
    if isinstance(dt, T.DoubleType):
        return "float8"
    if isinstance(dt, T.DecimalType):
        return "numeric"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.StringType):
        return "varchar(256)"
    return "text"
