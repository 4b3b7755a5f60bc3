"""End-to-end SparkAutoSchema API tests over the driver testdata + catalog."""

from __future__ import annotations

import pytest

from spark_auto_schema import SparkAutoSchema
from spark_auto_schema.catalog import deployed_schema_df, schema_exists, table_exists
from spark_auto_schema.io import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_lineitem_end_to_end(spark):
    sas = SparkAutoSchema(
        schema="analytics",
        table="lineitem",
        file=f"{SF_DIR}/lineitem.parquet",
        spark=spark,
    )
    ddl = sas.generate_table_ddl()
    types = {ci.name: ci.proposed_type for ci in sas.metadata}
    assert types == {
        "l_orderkey": "int4",
        "l_partkey": "int4",
        "l_suppkey": "int4",
        "l_linenumber": "int4",
        "l_quantity": "int4",  # integral doubles demote (RAS.py:317)
        "l_extendedprice": "float8",
        "l_discount": "float8",
        "l_tax": "float8",
        "l_returnflag": "varchar(256)",
        "l_linestatus": "varchar(256)",
        "l_shipdate": "date",  # all timestamps midnight-normalized
    }
    assert ddl.startswith('CREATE TABLE analytics.lineitem (\n"l_orderkey" int4\n')
    assert ddl.endswith(")\nDISTSTYLE EVEN\n")


def test_events_identifier_rule_and_nanos(spark):
    sas = SparkAutoSchema(
        schema="analytics",
        table="events",
        file=f"{SF_DIR}/events.parquet",
        spark=spark,
    )
    sas._ensure_metadata()
    types = {ci.name: ci.proposed_type for ci in sas.metadata}
    # event_id/user_id end with _id -> bool rule disabled -> int4
    assert types["event_id"] == "int4"
    assert types["user_id"] == "int4"
    assert types["ts"] == "timestamp"  # nanos parquet read + not midnight
    assert types["value"] == "float8"
    assert types["event_type"] == "varchar(256)"
    assert types["props"] == "varchar(256)"


def test_get_column_list(spark):
    sas = SparkAutoSchema(
        schema="s", table="t", file=f"{SF_DIR}/region.parquet", spark=spark
    )
    assert sas.get_column_list() == ["r_regionkey", "r_name"]


def test_column_override(spark):
    df = spark.createDataFrame([(1, "x")], "a int, b string")
    sas = SparkAutoSchema(
        schema="s", table="t", file_df=df, columns=["c1", "c2"], spark=spark
    )
    assert sas.get_column_list() == ["c1", "c2"]


def test_requires_file_or_df(spark):
    with pytest.raises(ValueError):
        SparkAutoSchema(schema="s", table="t", spark=spark)


def test_catalog_existence_and_diff(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS sas_cat_test")
    spark.sql("DROP TABLE IF EXISTS sas_cat_test.t1")
    spark.sql(
        "CREATE TABLE sas_cat_test.t1 (l_orderkey INT, l_quantity DOUBLE, "
        "extra_col STRING) USING parquet LOCATION '"
        + str(tmp_path / "t1")
        + "'"
    )
    try:
        assert schema_exists(spark, "sas_cat_test")
        assert not schema_exists(spark, "sas_nope")
        assert table_exists(spark, "sas_cat_test", "t1")
        assert not table_exists(spark, "sas_cat_test", "nope")

        dep = deployed_schema_df(spark, "sas_cat_test", "t1")
        got = dict(dep.collect())
        assert got == {
            "l_orderkey": "int4",
            "l_quantity": "float8",
            "extra_col": "varchar(256)",
        }

        sas = SparkAutoSchema(
            schema="sas_cat_test",
            table="t1",
            file=f"{SF_DIR}/lineitem.parquet",
            spark=spark,
        )
        diff = sas.evaluate_table_ddl_diffs()
        rows = {r["field"]: r["reason"] for r in diff.collect()}
        # l_orderkey int4 vs int4: ok; l_quantity proposed int4 vs float8: mismatch;
        # extra_col deployed-only: DEPRECATED; other lineitem cols: MISSING
        assert rows["l_quantity"] == "TYPE MISMATCH"
        assert rows["extra_col"] == "DEPRECATED"
        assert rows["l_extendedprice"] == "MISSING"
        assert "l_orderkey" not in rows

        alter = sas.generate_column_ddl()
        assert "ALTER TABLE sas_cat_test.t1 ADD COLUMN l_extendedprice float8;" in alter
        assert "l_shipdate date;" in alter
    finally:
        spark.sql("DROP TABLE IF EXISTS sas_cat_test.t1")
        spark.sql("DROP DATABASE IF EXISTS sas_cat_test")


def test_deployed_schema_df_type_strings(spark, tmp_path):
    """Deployed Spark types lifted into the Redshift vocabulary, in catalog
    order, for a table whose name only parses backtick-quoted and column
    names a SQL string literal must escape."""
    spark.sql("CREATE DATABASE IF NOT EXISTS sas_types_test")
    spark.sql("DROP TABLE IF EXISTS sas_types_test.`2024`")
    spark.sql(
        "CREATE TABLE sas_types_test.`2024` (c CHAR(8), v VARCHAR(64), "
        "ntz TIMESTAMP_NTZ, d DECIMAL(10,2), arr ARRAY<INT>, `x y` INT, "
        "`it's\\x` INT) "
        "USING parquet LOCATION '" + str(tmp_path / "t2024") + "'"
    )
    try:
        dep = deployed_schema_df(spark, "sas_types_test", "2024")
        assert dep.columns == ["field", "deployed_type"]
        assert [tuple(r) for r in dep.collect()] == [
            ("c", "varchar(256)"),
            ("v", "varchar(256)"),
            ("ntz", "timestamp"),
            ("d", "numeric"),
            ("arr", "text"),
            ("x y", "int4"),
            ("it's\\x", "int4"),  # quote and backslash survive the SQL text
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS sas_types_test.`2024`")
        spark.sql("DROP DATABASE IF EXISTS sas_types_test")


def test_catalog_diff_runs_no_spark_job(spark, tmp_path, monkeypatch):
    """Once inference has run, the catalog read, the diff, its collect and
    both column-DDL dialects are catalog-sized driver work: 0 Spark jobs,
    and one ``createDataFrame`` (the diff itself)."""
    from pyspark.sql import SparkSession

    spark.sql("CREATE DATABASE IF NOT EXISTS sas_jobs_test")
    spark.sql("DROP TABLE IF EXISTS sas_jobs_test.nation")
    spark.sql(
        "CREATE TABLE sas_jobs_test.nation (n_nationkey INT, n_name CHAR(8), "
        "gone DATE) USING parquet LOCATION '" + str(tmp_path / "nation") + "'"
    )
    sc = spark.sparkContext
    try:
        sas = SparkAutoSchema(
            schema="sas_jobs_test",
            table="nation",
            file=f"{SF_DIR}/nation.parquet",
            spark=spark,
        )
        sas._ensure_metadata()
        frames = []
        create_data_frame = SparkSession.createDataFrame

        def counted(self, *args, **kwargs):
            frames.append(args[0])
            return create_data_frame(self, *args, **kwargs)

        monkeypatch.setattr(SparkSession, "createDataFrame", counted)
        sc.setJobGroup("sas-diff-jobs", "diff job-count pin")
        try:
            rows = sas.evaluate_table_ddl_diffs().collect()
            column_ddl = sas.generate_column_ddl()
            spark_column_ddl = sas.generate_spark_column_ddl()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            monkeypatch.undo()
        assert sc.statusTracker().getJobIdsForGroup("sas-diff-jobs") == []
        # catalog-sized rows stay Python lists: the diff is the one frame
        assert len(frames) == 1, frames
        assert {r["field"]: r["reason"] for r in rows} == {
            "n_regionkey": "MISSING",
            "gone": "DEPRECATED",
        }
        assert "ADD COLUMN n_regionkey int4;" in column_ddl
        assert spark_column_ddl.startswith("ALTER TABLE sas_jobs_test.nation ADD COLUMNS (")
    finally:
        spark.sql("DROP TABLE IF EXISTS sas_jobs_test.nation")
        spark.sql("DROP DATABASE IF EXISTS sas_jobs_test")


def test_empty_file_returns_none_ddl(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({"a": pa.array([], type=pa.string())}), path)
    sas = SparkAutoSchema(schema="s", table="t", file=path, spark=spark)
    assert sas.generate_table_ddl() is None  # RAS.py:149-150
    assert sas.generate_spark_table_ddl() is None
    # the diff and both ALTER emitters have no proposed side to diff
    for diff_call in (
        sas.evaluate_table_ddl_diffs,
        sas.generate_column_ddl,
        sas.generate_spark_column_ddl,
    ):
        with pytest.raises(ValueError, match=r"^no metadata \(empty input file\)$"):
            diff_call()


def test_read_table_events_nanos(spark):
    df = read_table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() > 0


def test_read_parquet_int96_vs_int64_nanos(spark, tmp_path):
    """read_parquet must distinguish the two encodings pyarrow BOTH reports
    as timestamp[ns]: int64 NANOS (needs the nanosAsLong legacy read + div
    1000) and INT96 (classic Spark/Hive — Spark 4's default output type —
    decoded natively as TIMESTAMP).  Applying the int64 conversion to an
    INT96 column fails analysis with 'div' on a timestamp; both paths must
    yield the same instant.  Also covers the multi-file dataset-directory
    footer probe."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_auto_schema.io import read_parquet

    wall = datetime.datetime(2024, 3, 1, 12, 0, 1)
    ns_file = tmp_path / "ns.parquet"
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([wall], pa.timestamp("ns"))}),
        str(ns_file),
    )
    int96_dir = tmp_path / "int96.parquet"
    prior_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.createDataFrame([(1, wall)], "id long, ts timestamp").write.mode(
            "overwrite"
        ).parquet(str(int96_dir))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior_tz)
    # sanity: Spark's default writer really produced INT96-as-ns at arrow level
    part = sorted(p for p in int96_dir.iterdir() if p.name.endswith(".parquet"))[0]
    assert pq.read_schema(str(part)).field("ts").type == pa.timestamp("ns")
    assert pq.ParquetFile(str(part)).schema.column(1).physical_type == "INT96"

    from pyspark.sql import functions as F

    expected = int(
        wall.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )
    # the library scopes nanosAsLong to its own read: start without the
    # key, and the ns read must neither need it nor leave it behind
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    for path in (str(ns_file), str(int96_dir)):
        df = read_parquet(spark, path)
        assert dict(df.dtypes)["ts"] == "timestamp", path
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
        assert row["us"] == expected, path
        assert spark.conf.get(key, None) is None, path


def test_schema_evolution_merge_and_infer(spark, tmp_path):
    """Files written under different schema versions merge to the union
    schema; inference types the new column and the diff reports it MISSING
    against the old deployed schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_auto_schema.diff import evaluate_diffs
    from spark_auto_schema.inference import infer_table_schema
    from spark_auto_schema.io import read_parquet_evolving

    d = tmp_path / "evolving"
    d.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()),
                  "name": pa.array(["a", "b"], pa.string())}),
        str(d / "v1.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()),
                  "name": pa.array(["c"], pa.string()),
                  "score": pa.array([1.5], pa.float64())}),
        str(d / "v2.parquet"),
    )
    df = read_parquet_evolving(spark, str(d))
    assert set(df.columns) == {"id", "name", "score"}
    assert df.count() == 3
    inferred = {ci.name: ci.proposed_type for ci in infer_table_schema(df)}
    assert inferred == {"id": "int4", "name": "varchar(256)", "score": "float8"}

    deployed = [("id", "int4"), ("name", "varchar(256)")]
    diff = {
        r["field"]: r["reason"]
        for r in evaluate_diffs(spark, list(inferred.items()), deployed).collect()
    }
    assert diff == {"score": "MISSING"}


def test_ntz_normalization_is_timezone_independent(spark, tmp_path):
    """A parquet timestamp written with isAdjustedToUTC=false (surfacing as
    TIMESTAMP_NTZ under Spark's default inferTimestampNTZ) must normalize to
    an instant whose epoch equals the wall-clock-as-UTC — regardless of the
    session timezone at read or collect time.  This is what keeps
    unix_micros-based queries in agreement with a naive-timestamp oracle
    (DuckDB epoch_us) after the driver regenerated testdata from
    timestamp[ns] to timestamp[us]/NTZ."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_parquet

    wall = datetime.datetime(2024, 3, 1, 12, 34, 56, 789000)
    path = str(tmp_path / "ntz.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([wall], pa.timestamp("us"))}), path
    )
    assert pq.read_schema(path).field("ts").type == pa.timestamp("us")  # no tz

    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/Los_Angeles", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = read_parquet(spark, path)
            assert dict(df.dtypes)["ts"] == "timestamp"
            [row] = df.select(F.unix_micros("ts").alias("us")).collect()
            expected = int(
                wall.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
            )
            assert row["us"] == expected, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_event_stream_ts_unit_detection(spark, tmp_path):
    """read_event_stream detects the physical ts encoding from the parquet
    footer: int64-nanos files go through the legacy nanosAsLong path,
    microsecond/NTZ files through the TIMESTAMP_NTZ path — both yielding
    identical instant (TIMESTAMP) values."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_auto_schema.streaming import _ts_unit

    wall = datetime.datetime(2024, 3, 1, 12, 0, 0)
    us_dir = tmp_path / "us_drop"
    ns_dir = tmp_path / "ns_drop"
    us_dir.mkdir()
    ns_dir.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([wall], pa.timestamp("us"))}),
        str(us_dir / "f.parquet"),
    )
    pq.write_table(
        pa.table({"ts": pa.array([wall], pa.timestamp("ns"))}),
        str(ns_dir / "f.parquet"),
    )
    assert _ts_unit(str(us_dir)) == "ntz"
    assert _ts_unit(str(ns_dir)) == "ns"
    # isAdjustedToUTC=true microseconds -> already-instant 'utc' path
    utc_dir = tmp_path / "utc_drop"
    utc_dir.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([wall], pa.timestamp("us", tz="UTC"))}),
        str(utc_dir / "f.parquet"),
    )
    assert _ts_unit(str(utc_dir)) == "utc"
    # INT96 (classic Spark writer): arrow-level ns, but decoded natively —
    # must be classified 'utc', not 'ns' (the int64 legacy path)
    int96_dir = tmp_path / "int96_drop"
    spark.createDataFrame([(wall,)], "ts timestamp").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(int96_dir))
    assert _ts_unit(str(int96_dir)) == "utc"
    # an empty drop-dir must raise, not silently lock in a default schema
    empty_dir = tmp_path / "empty_drop"
    empty_dir.mkdir()
    with pytest.raises(FileNotFoundError):
        _ts_unit(str(empty_dir))
    # ...unless the caller pins ts_unit explicitly — the escape hatch for
    # starting a stream before the first drop lands (skips the probe)
    from spark_auto_schema.streaming import read_event_stream

    stream = read_event_stream(spark, str(empty_dir), ts_unit="utc")
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"
    with pytest.raises(ValueError):
        read_event_stream(spark, str(empty_dir), ts_unit="ms")
    # the stream and batch decoders yield identical instants per encoding
    from pyspark.sql import functions as F

    from spark_auto_schema import release_caches
    from spark_auto_schema.io import read_parquet
    from spark_auto_schema.streaming import run_to_memory

    def micros(df):
        return [r[0] for r in df.select(F.unix_micros("ts")).collect()]

    for unit, d in (
        ("ns", ns_dir), ("ntz", us_dir), ("utc", utc_dir), ("int96", int96_dir)
    ):
        run_to_memory(read_event_stream(spark, str(d)), f"ts_unit_{unit}")
        streamed = micros(spark.table(f"ts_unit_{unit}"))
        assert streamed == micros(read_parquet(spark, str(d))), unit
        assert len(streamed) == 1, unit
    release_caches()
    shutil.rmtree(str(us_dir))


def test_full_lifecycle_reconverges_via_spark_alter(spark, tmp_path):
    """The complete user journey on the Spark catalog: deploy a table
    missing columns, diff, APPLY the generated Spark-dialect ALTER via
    spark.sql, re-diff — every MISSING row must disappear (the loop the
    reference leaves to a DBA pasting Redshift ALTERs)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS sas_lc_test")
    spark.sql("DROP TABLE IF EXISTS sas_lc_test.nation")
    spark.sql(
        "CREATE TABLE sas_lc_test.nation (n_nationkey INT) USING parquet "
        "LOCATION '" + str(tmp_path / "nation") + "'"
    )
    try:
        sas = SparkAutoSchema(
            schema="sas_lc_test",
            table="nation",
            file=f"{SF_DIR}/nation.parquet",
            spark=spark,
        )
        before = {r["field"]: r["reason"] for r in sas.evaluate_table_ddl_diffs().collect()}
        assert set(before) == {"n_name", "n_regionkey"}
        assert set(before.values()) == {"MISSING"}

        alter = sas.generate_spark_column_ddl()
        assert alter.startswith("ALTER TABLE sas_lc_test.nation ADD COLUMNS (")
        spark.sql(alter.rstrip(";"))

        sas.diff = None  # force a fresh diff against the altered catalog
        after = sas.evaluate_table_ddl_diffs().collect()
        assert after == [], [r.asDict() for r in after]
        assert sas.generate_spark_column_ddl() is None
    finally:
        spark.sql("DROP TABLE IF EXISTS sas_lc_test.nation")
        spark.sql("DROP DATABASE IF EXISTS sas_lc_test")


# ------------------------------------------------------- CSV quarantine
def test_csv_quarantine_routes_bad_lines(spark, tmp_path):
    """Wrong column count and failed type conversion both quarantine; the
    raw line survives byte-for-byte and parseable fields stay parsed."""
    from spark_auto_schema.io import read_csv_quarantine, release_caches

    p = tmp_path / "q.csv"
    p.write_text(
        "id|name|score\n"
        "1|alice|10.5\n"
        "2|bob|notanumber\n"
        "3|carol\n"
        "4|dave|7.25\n"
    )
    good, bad = read_csv_quarantine(
        spark, str(p), "id bigint, name string, score double"
    )
    g = {r["id"]: r["score"] for r in good.collect()}
    assert g == {1: 10.5, 4: 7.25}
    assert "_corrupt_record" not in good.columns
    b = {r["id"]: r["_corrupt_record"] for r in bad.collect()}
    # type failure: id still parsed, raw line kept verbatim
    assert b[2] == "2|bob|notanumber"
    # short line: raw kept (id may or may not parse depending on position)
    assert "3|carol" in set(b.values())
    release_caches()


def test_csv_quarantine_clean_file_empty_bad_side(spark, tmp_path):
    from spark_auto_schema import _cache
    from spark_auto_schema import io as sio

    p = tmp_path / "clean.csv"
    p.write_text("id|v\n1|2.0\n2|3.0\n")
    good, bad = sio.read_csv_quarantine(spark, str(p), "id bigint, v double")
    assert good.count() == 2
    assert bad.count() == 0
    sio.release_caches()
    assert _cache._CACHED == []


# ------------------------------------------------------- session builder
def test_build_session_local_canonical_confs(spark):
    """The canonical builder must encode the execution assumptions the
    operators are written against (AQE, Arrow, UTC).  getOrCreate reuses
    the test session, so we assert on applied conf values."""
    from spark_auto_schema.session import build_session

    s = build_session("local")
    try:
        assert s.conf.get("spark.sql.adaptive.enabled") == "true"
        assert s.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
        assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        pass  # shared session: do not stop

    with pytest.raises(ValueError):
        build_session("galaxy")
