"""Shared Spark session + inference-branch fixture data (FIXTURES.md section 1)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("spark-auto-schema-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_caches_after_module():
    """Free what the library persisted for reuse once each test module ends,
    so no module's cached blocks outlive it."""
    yield
    from spark_auto_schema import release_caches

    release_caches()


# One column per branch of the reference decision tree
# (/root/reference/redshift_auto_schema/RedshiftAutoSchema.py:294-339).
INFER_PROBE_COLUMNS: dict[str, tuple[list, str]] = {
    # name -> (values, parquet arrow type name)
    "all_null": ([None] * 5, "string"),
    "bool_words": (["true", "false", "TRUE", "f", "t"], "string"),
    # no nulls here: pandas upcasts nullable int64 to float64 whose values
    # stringify to '0.0' (not in the bool set), so the *reference* types a
    # nullable 0/1 column int4 but a non-null one bool — representation
    # leakage we do not replicate; the fixture uses the non-null case both
    # systems agree on.
    "bool_01": ([0, 1, 1, 0, 1], "int64"),
    "flag_id": ([0, 1, 1, 0, 1], "int64"),
    "small_int": ([1, 2, -5, 2147483647, None], "int64"),
    "big_int": ([1, 2147483648, -9000000000, 2, 3], "int64"),
    "int_valued_float": ([1.0, 2.0, 3.0, 4.0, None], "double"),
    "real_float": ([1.5, -0.25, 3.14159, None, 2.5], "double"),
    "numeric_string": (
        ["20190101", "20200215", "20210101", "20220101", "20230101"],
        "string",
    ),
    "pure_date": (
        ["2019-01-01", "2020-12-31", None, "2021-06-15", "2022-01-01"],
        "string",
    ),
    "midnight_ts": (
        [
            "2019-01-01 00:00:00",
            "2020-02-02 00:00:00",
            "2021-03-03 00:00:00",
            None,
            "2022-04-04 00:00:00",
        ],
        "string",
    ),
    "real_ts": (
        [
            "2019-01-01 12:34:56",
            "2020-02-02 01:02:03",
            "2021-03-03 23:59:59",
            "2022-04-04 00:00:01",
            "2023-05-05 06:07:08",
        ],
        "string",
    ),
    "partial_date": (["2019", "03/2019", "Jan 2020", "2021", "04/2021"], "string"),
    # minutes-without-seconds: COMPLETE per dateutil (seconds default to 0
    # with or without a default date) -> timestamp in both engines
    "minute_ts": (
        [
            "2019-01-01 12:34",
            "2020-02-02 01:02",
            None,
            "2022-04-04 00:01",
            "2023-05-05 06:07",
        ],
        "string",
    ),
    "short_str": (["hello", "world", "foo", "bar", "baz"], "string"),
    "edge_240_str": (["x" * 240, "a", "b", "c", "d"], "string"),
    "long_str": (["y" * 241, "a", "b", "c", "d"], "string"),
    "mixed_junk": (["abc", "123", "2019-01-01", "xyz", "q"], "string"),
    "dotted.name": (["a", "b", "c", "d", "e"], "string"),
}

# Expected proposed type per column, for BOTH encodings.  numeric_string is
# int4 by design (divergence from the reference's str<=int TypeError->float8
# quirk on object-dtype input; see inference.py module docstring).
INFER_PROBE_EXPECTED: dict[str, str] = {
    "all_null": "notype",
    "bool_words": "bool",
    "bool_01": "bool",
    "flag_id": "int4",
    "small_int": "int4",
    "big_int": "int8",
    "int_valued_float": "int4",
    "real_float": "float8",
    "numeric_string": "int4",
    "pure_date": "date",
    "midnight_ts": "date",
    "real_ts": "timestamp",
    "partial_date": "varchar(256)",
    "minute_ts": "timestamp",
    "short_str": "varchar(256)",
    "edge_240_str": "varchar(256)",
    "long_str": "varchar(65535)",
    "mixed_junk": "varchar(256)",
    "dotted_name": "varchar(256)",  # renamed from dotted.name
}


@pytest.fixture(scope="session")
def infer_probe_parquet(tmp_path_factory) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("fixtures") / "infer_probe.parquet")
    type_map = {"string": pa.string(), "int64": pa.int64(), "double": pa.float64()}
    arrays, names = [], []
    for name, (values, typ) in INFER_PROBE_COLUMNS.items():
        names.append(name)
        arrays.append(pa.array(values, type=type_map[typ]))
    pq.write_table(pa.table(arrays, names=names), path)
    return path


@pytest.fixture(scope="session")
def infer_probe_csv(tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("fixtures") / "infer_probe.csv")
    names = list(INFER_PROBE_COLUMNS)
    n = 5
    with open(path, "w") as f:
        f.write("|".join(names) + "\n")
        for r in range(n):
            cells = []
            for name in names:
                v = INFER_PROBE_COLUMNS[name][0][r]
                cells.append("" if v is None else str(v))
            f.write("|".join(cells) + "\n")
    return path
