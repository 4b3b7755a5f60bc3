"""DDL emitters: Redshift dialect (reference-parity) + Spark SQL dialect.

Reference: ``/root/reference/redshift_auto_schema/RedshiftAutoSchema.py``
    * generate_schema_ddl          RAS.py:125-131
    * generate_schema_permissions  RAS.py:133-139
    * generate_table_ddl           RAS.py:141-175 (notype->varchar(256) at 153,
      quoted columns, export field, PRIMARY KEY, DISTKEY else DISTSTYLE EVEN,
      SORTKEY)
    * generate_column_ddl          RAS.py:177-192 (ALTER ... ADD COLUMN per
      MISSING diff row)
    * generate_table_permissions   RAS.py:194-200

The reference assembles the column block via pandas ``to_string`` plus
``re.sub(' +', ' ')`` (RAS.py:154-156,190) — a formatting hack that corrupts
identifiers containing spaces.  We build strings directly; emitted SQL shape
is identical modulo that incidental whitespace.

Identifiers are validated instead of interpolated blindly (the reference
f-strings are injection-prone, RAS.py:104,120,215-216).
"""

from __future__ import annotations

import re

from .types import redshift_to_spark_type

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_$]*")
# a type name: words, then an optional (precision[, scale]) —
# ``varchar(256)``, ``numeric(18,2)``, ``double precision``
_TYPE_NAME = re.compile(r"[A-Za-z]\w*( [A-Za-z]\w*)*(\(\d+(, ?\d+)?\))?", re.ASCII)
# an innermost nested type, in Spark's simpleString form (what inference
# emits with compat_nested=False): ``array<float>``, ``map<string,int>``,
# ``struct<a:int,b:string>``; an element is a type name or ``#``, a nested
# type already reduced
_E = rf"(?:{_TYPE_NAME.pattern}|#)"
_FIELD = rf"[A-Za-z_]\w*:{_E}"
_NESTED = re.compile(
    rf"array<{_E}>|map<{_E},{_E}>|struct<{_FIELD}(?:,{_FIELD})*>", re.ASCII
)


def _check_ident(name: str, what: str = "identifier") -> str:
    if not _IDENT.fullmatch(name or ""):
        raise ValueError(f"invalid {what}: {name!r}")
    return name


def _check_ident_list(names: str, what: str) -> str:
    """Validate a comma-separated identifier list (sort keys, RAS.py:52)."""
    for part in str(names).split(","):
        _check_ident(part.strip(), what)
    return names


def _check_type(name: str, what: str = "type") -> str:
    """Validate a column type: a :data:`_TYPE_NAME`, or a nested type over
    them, whose innermost nested types reduce to ``#`` until one is left."""
    # ``#`` marks a reduced nested type, so an input holding one is invalid
    t = "" if "#" in (name or "") else name or ""
    while True:
        reduced = _NESTED.sub("#", t)
        if reduced == t:
            break
        t = reduced
    if t != "#" and not _TYPE_NAME.fullmatch(t):
        raise ValueError(f"invalid {what}: {name!r}")
    return name


def generate_schema_ddl(schema: str) -> str:
    return f"CREATE SCHEMA IF NOT EXISTS {_check_ident(schema, 'schema')};"


def generate_schema_permissions(schema: str, default_group: str = "dbreader") -> str:
    return (
        f"GRANT USAGE ON SCHEMA {_check_ident(schema, 'schema')} "
        f"TO GROUP {_check_ident(default_group, 'group')};"
    )


def generate_table_permissions(
    schema: str, table: str, default_group: str = "dbreader"
) -> str:
    return (
        f"GRANT SELECT ON {_check_ident(schema, 'schema')}."
        f"{_check_ident(table, 'table')} TO GROUP {_check_ident(default_group, 'group')};"
    )


def generate_table_ddl(
    schema: str,
    table: str,
    columns: list[tuple[str, str]],
    export_field_name: str | None = None,
    export_field_type: str | None = None,
    primary_key: str | None = None,
    dist_key: str | None = None,
    sort_key: str | None = None,
) -> str:
    """Redshift CREATE TABLE from (column, redshift_type) pairs.

    Mirrors RAS.py:141-175: ``notype`` columns become varchar(256) (153),
    column names are double-quoted, export field and PRIMARY KEY are appended
    inside the parens, DISTKEY else DISTSTYLE EVEN, optional SORTKEY.
    """
    _check_ident(schema, "schema")
    _check_ident(table, "table")
    body_lines = []
    for j, (name, rtype) in enumerate(columns):
        _check_ident(name, "column")
        rtype = "varchar(256)" if rtype == "notype" else _check_type(rtype)
        prefix = "" if j == 0 else ", "
        body_lines.append(f'{prefix}"{name}" {rtype}')
    ddl = f"CREATE TABLE {schema}.{table} (\n" + "\n".join(body_lines) + "\n"

    if export_field_name and export_field_type:
        ddl += (
            f" , {_check_ident(export_field_name, 'column')} "
            f"{_check_type(export_field_type, 'export field type')}\n"
        )

    if primary_key:
        ddl += f" , PRIMARY KEY ({_check_ident_list(primary_key, 'primary key')})\n"

    ddl += ")\n"

    if dist_key:
        ddl += f"DISTKEY ({_check_ident(dist_key, 'dist key')})\n"
    else:
        ddl += "DISTSTYLE EVEN\n"

    if sort_key:
        ddl += f"SORTKEY ({_check_ident_list(sort_key, 'sort key')})\n"

    return ddl


def generate_column_ddl(
    schema: str, table: str, missing: list[tuple[str, str]]
) -> str | None:
    """One ``ALTER TABLE ... ADD COLUMN`` per MISSING diff row (RAS.py:177-192)."""
    if not missing:
        return None
    _check_ident(schema, "schema")
    _check_ident(table, "table")
    return "\n".join(
        f"ALTER TABLE {schema}.{table} ADD COLUMN {_check_ident(f, 'column')} "
        f"{_check_type(t)};"
        for f, t in missing
    )


def generate_spark_table_ddl(
    schema: str,
    table: str,
    columns: list[tuple[str, str]],
    fmt: str = "parquet",
    partitioned_by: list[str] | None = None,
    location: str | None = None,
) -> str:
    """Spark SQL dialect CREATE TABLE (rebuild extension, no reference analog).

    Emits ``CREATE TABLE ... USING parquet [PARTITIONED BY ...] [LOCATION ...]``
    with Redshift types mapped to Spark SQL types, runnable via ``spark.sql``.
    """
    _check_ident(schema, "schema")
    _check_ident(table, "table")
    cols = ",\n".join(
        f"  {_check_ident(n, 'column')} {redshift_to_spark_type(_check_type(t))}"
        for n, t in columns
    )
    ddl = (
        f"CREATE TABLE {schema}.{table} (\n{cols}\n)\n"
        f"USING {_check_ident(fmt, 'format')}"
    )
    if partitioned_by:
        parts = ", ".join(_check_ident(p, "partition column") for p in partitioned_by)
        ddl += f"\nPARTITIONED BY ({parts})"
    if location:
        if "'" in location or "\\" in location:
            raise ValueError(f"invalid location: {location!r}")
        ddl += f"\nLOCATION '{location}'"
    return ddl


def generate_spark_column_ddl(
    schema: str, table: str, missing: list[tuple[str, str]]
) -> str | None:
    """Spark SQL dialect ALTER for the MISSING diff rows (rebuild
    extension, no reference analog): one ``ALTER TABLE ... ADD COLUMNS
    (...)`` statement covering every missing column, runnable via
    ``spark.sql`` — the "apply the fix" half of the diff loop when the
    deployed table lives in the Spark catalog rather than Redshift.
    Types are mapped through :func:`redshift_to_spark_type`."""
    if not missing:
        return None
    _check_ident(schema, "schema")
    _check_ident(table, "table")
    cols = ", ".join(
        f"{_check_ident(f, 'column')} {redshift_to_spark_type(_check_type(t))}"
        for f, t in missing
    )
    return f"ALTER TABLE {schema}.{table} ADD COLUMNS ({cols});"
