"""Local mirror of the driver's correctness gate: run every queries() entry
and its oracle_sql() DuckDB twin at sf0.01, compare row count, column names,
and an order-insensitive multiset of canonicalized values.

Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import datetime
import math
import sys
from collections import Counter
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SF_DIR = "/root/testdata/sf0.01"


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, Decimal):
        # exact, not float-coerced: %.10g masked the round-7 HUGEINT
        # divergence and silently truncated >10-significant-digit ints
        if v == v.to_integral_value():
            return str(int(v))
        return format(v.normalize(), "f")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(cols: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb
    import __spark_entry__ as entrymod
    from spark_auto_schema import release_caches
    from spark_auto_schema.session import build_session

    only = set(sys.argv[1:])
    spark = build_session(
        "local",
        app_name="correctness-check",
        master="local[8]",
        overrides={"spark.sql.shuffle.partitions": "16"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(srows)} rows")
            continue
        try:
            import pyarrow as pa

            rel = con.sql(oracles[name])
            # Arrow schema is the truth (DB-API description says the generic
            # 'NUMBER' for every numeric type, so it can never flag this):
            # DuckDB integer sums aggregate to HUGEINT/decimal128, which
            # hash-diverges from Spark int64 in the driver's compare even
            # when values match exactly (proven round 7, 5 lost anchors).
            # CAST AS BIGINT in the oracle.  Hard FAIL, not a warning.
            otbl = rel.arrow()
            ocols = otbl.schema.names
            risky = [
                f.name for f in otbl.schema if pa.types.is_decimal(f.type)
            ]
            # rows come off the SAME materialized Arrow table — rel is a
            # lazy relation, and a second .fetchall() would re-execute the
            # whole oracle (2x mirror runtime) and could even check the
            # schema of one run against the rows of another.  to_pylist()
            # keys rows by column NAME, so a duplicate-named oracle column
            # would silently compare one value twice — refuse it up front
            # (the old positional fetchall path could not alias this way).
            if len(set(ocols)) != len(ocols):
                raise ValueError(
                    f"oracle emits duplicate column names {ocols} — alias "
                    "every column uniquely"
                )
            orows = [
                tuple(d[c] for c in ocols) for d in otbl.to_pylist()
            ]
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}")
            failures += 1
            continue
        problems = []
        if risky:
            problems.append(
                f"oracle emits decimal/hugeint cols {risky} (driver hash "
                "diverges from Spark int64 — CAST AS BIGINT)"
            )
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        else:
            sm, om = rows_to_multiset(scols, srows), rows_to_multiset(ocols, orows)
            if sm != om:
                extra = list((sm - om).items())[:3]
                miss = list((om - sm).items())[:3]
                problems.append(f"values: spark-only={extra} oracle-only={miss}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok {name}: {len(srows)} rows")
        release_caches()
    spark.stop()
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
