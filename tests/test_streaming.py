"""Structured Streaming tests: windowed counts vs batch equivalence, drift
monitor over file drops."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_auto_schema.io import read_table
from spark_auto_schema.streaming import (
    SchemaDriftMonitor,
    read_event_stream,
    run_to_memory,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "drop1.parquet")
    return str(d)


def test_windowed_counts_match_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    assert stream.isStreaming
    # complete mode: append would (correctly) withhold the final windows the
    # watermark hasn't closed when the file stream drains
    run_to_memory(
        windowed_event_counts(stream, "1 hour", "2 hours"),
        "win_counts",
        output_mode="complete",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("win_counts").collect()
    }
    batch = read_table(spark, SF_DIR, "events")
    expect = {
        (r["ws"], r["event_type"]): (r["n"], r["tv"])
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "tv")
        .collect()
    }
    assert got == expect
    assert len(got) > 0


def test_drift_monitor_detects_changes(spark, events_dir):
    baseline = {
        "event_id": "int4",
        "ts": "timestamp",
        "user_id": "int4",
        "event_type": "varchar(256)",
        "value": "float8",
        # 'props' intentionally absent -> MISSING
        "legacy": "date",  # not in stream -> DEPRECATED
        "event_type_widened": "int4",
    }
    del baseline["event_type_widened"]
    baseline["event_type"] = "int4"  # force TYPE MISMATCH
    seen: list[tuple[int, list[dict]]] = []
    monitor = SchemaDriftMonitor(baseline, lambda bid, drift: seen.append((bid, drift)))
    stream = read_event_stream(spark, events_dir)
    q = monitor.attach(stream)
    q.awaitTermination()
    assert seen, "monitor produced no drift for a drifted baseline"
    reasons = {(d["field"], d["reason"]) for _, drift in seen for d in drift}
    assert ("props", "MISSING") in reasons
    assert ("legacy", "DEPRECATED") in reasons
    assert ("event_type", "TYPE MISMATCH") in reasons


def test_drift_monitor_silent_when_clean(spark, events_dir):
    baseline = {
        "event_id": "int4",
        "ts": "timestamp",
        "user_id": "int4",
        "event_type": "varchar(256)",
        "value": "float8",
        "props": "varchar(256)",
    }
    seen: list = []
    monitor = SchemaDriftMonitor(baseline, lambda bid, drift: seen.append(drift))
    q = monitor.attach(read_event_stream(spark, events_dir))
    q.awaitTermination()
    assert seen == []


def test_drift_monitor_uses_catalog_diff_rule(spark):
    # alias spellings of one type class are not drift, an all-null column
    # (notype) is not MISSING, and DEPRECATED rows carry the deployed type
    batch = spark.createDataFrame(
        [(1, "a", None), (2, "b", None)], "id int, name string, empty string"
    )
    baseline = {"id": "integer", "name": "character varying(256)", "old": "date"}
    seen: list = []
    SchemaDriftMonitor(baseline, lambda bid, drift: seen.append((bid, drift)))(batch, 7)
    assert seen == [
        (7, [{"field": "old", "reason": "DEPRECATED", "proposed": None, "deployed": "date"}])
    ]


def test_running_user_stats_stateful(spark, events_dir):
    from spark_auto_schema.streaming import running_user_stats_stream

    stream = read_event_stream(spark, events_dir)
    run_to_memory(
        running_user_stats_stream(stream), "user_stats", output_mode="update"
    )
    # update mode emits one row per user per microbatch; the final state is
    # the max n_events row per user
    rows = spark.table("user_stats").collect()
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["sum_value"], r["last_ts"])
    batch = read_table(spark, SF_DIR, "events")
    expect = {
        r["user_id"]: (r["n"], r["sv"], r["mx"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sv"),
            F.max("ts").alias("mx"),
        )
        .collect()
    }
    assert set(final) == set(expect)
    for uid, (n, sv, last) in final.items():
        en, esv, elast = expect[uid]
        assert n == en
        assert abs(sv - esv) < 1e-6
        assert last == elast


def test_streaming_dedup_drops_redelivered_records(spark, tmp_path):
    from spark_auto_schema.streaming import streaming_dedup

    # an at-least-once source: every record delivered twice
    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "drop1.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "drop2.parquet")
    stream = streaming_dedup(read_event_stream(spark, str(d)), ["event_id"])
    assert stream.isStreaming
    run_to_memory(stream, "dedup_stream_out")
    got = spark.table("dedup_stream_out")
    n_batch = read_table(spark, SF_DIR, "events").count()
    assert got.count() == n_batch  # every duplicate dropped
    assert got.select("event_id").distinct().count() == n_batch


def test_stream_static_enrichment_matches_batch_join(spark, events_dir):
    from spark_auto_schema.streaming import enriched_counts_stream

    stream = read_event_stream(spark, events_dir)
    dim = read_table(spark, SF_DIR, "customer")
    run_to_memory(
        enriched_counts_stream(stream, dim), "enriched", output_mode="complete"
    )
    got = {
        r["c_mktsegment"]: (r["n_events"], r["total_value"])
        for r in spark.table("enriched").collect()
    }
    ev = read_table(spark, SF_DIR, "events")
    expect = {
        r["c_mktsegment"]: (r["n"], r["tv"])
        for r in ev.join(dim, ev["user_id"] == dim["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    }
    assert got == expect and len(got) > 0


def test_attribution_join_matches_batch_interval_join(spark, events_dir):
    """The stream-stream interval join, drained availableNow, must emit
    exactly the pairs the equivalent batch interval join produces."""
    from spark_auto_schema.streaming import attribution_join_stream

    clicks = read_event_stream(spark, events_dir).where(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, events_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = attribution_join_stream(clicks, purchases, gap="30 minutes")
    assert joined.isStreaming
    run_to_memory(joined, "attribution_out", state_partitions=8)
    got = spark.table("attribution_out")

    ev = read_table(spark, SF_DIR, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("bct")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("bpt"), "value"
    )
    want = c.join(
        p,
        (F.col("bu") == F.col("pu"))
        & (F.col("bct") <= F.col("bpt"))
        & (F.col("bct") >= F.col("bpt") - F.expr("INTERVAL 30 MINUTES")),
    )
    assert got.count() == want.count() > 0
    # value-level: same multiset of (user, click_ts, purchase_ts)
    key = lambda df, u, ct, pt: {
        (r[u], r[ct], r[pt]) for r in df.collect()
    }
    assert key(got, "user_id", "click_ts", "purchase_ts") == key(
        want, "bu", "bct", "bpt"
    )


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Offset + state recovery across a query restart: run a checkpointed
    dedup stream to a file sink, stop it, drop a second file containing
    redeliveries of the first batch plus new records, restart the SAME
    query (same checkpoint + output path), and verify the output holds
    every record exactly once.

    This exercises the two recovery guarantees a production pipeline
    leans on: the restarted query must NOT reprocess file 1 (offset log),
    and the dedup state saved at shutdown must still drop file 2's
    redeliveries (state-store checkpoint) — a fresh query would pass file
    2's duplicates straight through."""
    from spark_auto_schema.streaming import read_event_stream, streaming_dedup

    src = tmp_path / "drops"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    ev = read_table(spark, SF_DIR, "events").orderBy("event_id")
    first = ev.limit(200).coalesce(1)
    first.write.parquet(str(tmp_path / "f1"))
    shutil.copy(
        next((tmp_path / "f1").glob("*.parquet")), src / "drop1.parquet"
    )

    def run_once():
        stream = streaming_dedup(
            read_event_stream(spark, str(src), ts_unit="utc"), ["event_id"]
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 200

    # file 2: 100 redeliveries of file 1 + 100 new records
    redelivered = ev.limit(100)
    fresh = ev.limit(300).subtract(ev.limit(200)).limit(100)
    second = redelivered.unionByName(fresh).coalesce(1)
    second.write.parquet(str(tmp_path / "f2"))
    shutil.copy(
        next((tmp_path / "f2").glob("*.parquet")), src / "drop2.parquet"
    )

    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 300  # 200 + 100 new; redeliveries dropped
    assert got.select("event_id").distinct().count() == 300


def test_session_window_gap_boundary_semantics(spark, tmp_path):
    """Two events exactly gap apart DO merge (closed-interval window
    merging); one microsecond beyond must not — the boundary rule the
    DuckDB oracle mirrors with its `diff > gap -> new session` islands."""
    import datetime as dt

    from spark_auto_schema.streaming import run_to_memory, session_window_stats

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(minutes=30)
    rows = [
        # user 1: second event exactly at t0+gap -> still ONE session
        (1, 1, t0, "click", 1.0),
        (2, 1, t0 + gap, "click", 1.0),
        # user 2: second event 1us beyond the gap -> two sessions
        (3, 2, t0, "click", 1.0),
        (4, 2, t0 + gap + dt.timedelta(microseconds=1), "click", 1.0),
    ]
    src = tmp_path / "gap_events"
    src.mkdir()
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(str(tmp_path / "w"))
    shutil.copy(
        next((tmp_path / "w").glob("*.parquet")), src / "drop1.parquet"
    )
    from spark_auto_schema.streaming import read_event_stream

    stream = read_event_stream(spark, str(src), ts_unit="utc")
    run_to_memory(
        session_window_stats(stream), "gap_sessions", output_mode="complete",
        state_partitions=4,
    )
    got = spark.table("gap_sessions")
    per_user = {
        r["user_id"]: r["n"]
        for r in got.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_user == {1: 1, 2: 2}


def test_data_drift_monitor_fires_only_on_drifted_batches(spark, tmp_path):
    """A batch drawn from the baseline distribution must NOT fire; a
    shifted batch must — with the PSI visible in history for both."""
    from spark_auto_schema.streaming import DataDriftMonitor

    baseline = spark.createDataFrame(
        [(float(i % 50),) for i in range(500)], "value double"
    )
    stable = spark.createDataFrame(
        [(float((i * 7) % 50),) for i in range(300)], "value double"
    )
    shifted = spark.createDataFrame(
        [(float(i % 50) + 40.0,) for i in range(300)], "value double"
    )
    fired: list[tuple[int, float]] = []
    mon = DataDriftMonitor(
        baseline, "value", nbins=10, threshold=0.25,
        on_drift=lambda bid, psi: fired.append((bid, psi)),
    )
    mon(stable, 0)
    mon(shifted, 1)
    assert [bid for bid, _ in fired] == [1]
    psis = {bid: psi for bid, psi, _ in mon.history}
    assert psis[0] < 0.25 <= psis[1]
    # empty batches are skipped entirely
    mon(spark.createDataFrame([], "value double"), 2)
    assert len(mon.history) == 2


def test_data_drift_monitor_ks_stat(spark):
    """stat='ks': a baseline-shaped batch stays under the alert level, a
    location-shifted batch fires with the max cumulative gap as the score;
    unknown stats are rejected."""
    import pytest

    from spark_auto_schema.streaming import DataDriftMonitor

    baseline = spark.createDataFrame(
        [(float(i % 50),) for i in range(500)], "value double"
    )
    stable = spark.createDataFrame(
        [(float((i * 7) % 50),) for i in range(300)], "value double"
    )
    shifted = spark.createDataFrame(
        [(float(i % 50) + 15.0,) for i in range(300)], "value double"
    )
    fired: list[tuple[int, float]] = []
    mon = DataDriftMonitor(
        baseline, "value", nbins=10, threshold=0.1, stat="ks",
        on_drift=lambda bid, ks: fired.append((bid, ks)),
    )
    mon(stable, 0)
    mon(shifted, 1)
    assert [bid for bid, _ in fired] == [1]
    scores = {bid: s for bid, s, _ in mon.history}
    assert scores[0] < 0.1 <= scores[1]
    # the score is the MAX ks_term of that batch's bin table
    rows = {bid: r for bid, _, r in mon.history}
    assert scores[1] == max(x["ks_term"] for x in rows[1])
    with pytest.raises(ValueError, match="stat"):
        DataDriftMonitor(baseline, "value", stat="chi2")


def test_novelty_stream_emits_first_seen_once(spark, tmp_path):
    """A digest recurring in a later window is novel only in its FIRST
    window, and first_ts is the MINIMUM event time for the key — not an
    arbitrary surviving instance; a batch re-delivery (second drop)
    re-emits nothing."""
    import datetime as dt

    from spark_auto_schema.streaming import (
        novelty_stream,
        read_event_stream,
        run_to_memory,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 1, t0 + dt.timedelta(minutes=5), "click", 1.0),
        (2, 1, t0 + dt.timedelta(minutes=1), "click", 1.0),   # earliest for key
        (3, 1, t0 + dt.timedelta(hours=2), "click", 1.0),     # later window, same key
        (4, 2, t0 + dt.timedelta(minutes=30), "view", 1.0),   # distinct key
    ]
    src = tmp_path / "novel_events"
    src.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    ).coalesce(1).write.parquet(str(tmp_path / "w"))
    shutil.copy(next((tmp_path / "w").glob("*.parquet")), src / "drop1.parquet")
    stream = read_event_stream(spark, str(src), ts_unit="utc")
    run_to_memory(
        novelty_stream(stream, ["event_type", "user_id"]),
        "novelty_first",
        output_mode="update",
        state_partitions=4,
    )
    got = spark.table("novelty_first").collect()
    assert len(got) == 2  # two distinct digests, each exactly once
    firsts = sorted(r["first_ts"] for r in got)
    assert firsts == [
        t0 + dt.timedelta(minutes=1),
        t0 + dt.timedelta(minutes=30),
    ]
    # second drop of the same file: state says seen -> nothing new emitted
    shutil.copy(next((tmp_path / "w").glob("*.parquet")), src / "drop2.parquet")
    run_to_memory(
        novelty_stream(
            read_event_stream(spark, str(src), ts_unit="utc"),
            ["event_type", "user_id"],
        ),
        "novelty_second",
        output_mode="update",
        state_partitions=4,
    )
    # fresh query (fresh state) sees both drops in ONE availableNow batch:
    # still exactly one emission per digest
    assert spark.table("novelty_second").count() == 2


def test_novelty_stream_null_ts_contract(spark, tmp_path):
    """The NULL-event-time guard lives in the OP, not the call site: by
    default a digest seen only with NULL timestamps is filtered out (so a
    batch min(ts)-per-digest oracle with the same ts IS NOT NULL filter
    agrees under every NULL pattern), while drop_null_ts=False restores
    the historical emit-with-NULL-first_ts behavior; a key whose earliest
    row is NULL-ts still reports the min NON-NULL time either way."""
    import datetime as dt

    from spark_auto_schema.streaming import (
        novelty_stream,
        read_event_stream,
        run_to_memory,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 1, None, "click", 1.0),                         # NULL-ts, key also seen with ts
        (2, 1, t0 + dt.timedelta(minutes=9), "click", 1.0),
        (3, 2, None, "view", 1.0),                          # key seen ONLY with NULL ts
    ]
    src = tmp_path / "null_ts_events"
    src.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    ).coalesce(1).write.parquet(str(tmp_path / "w"))
    shutil.copy(next((tmp_path / "w").glob("*.parquet")), src / "drop1.parquet")
    run_to_memory(
        novelty_stream(
            read_event_stream(spark, str(src), ts_unit="utc"),
            ["event_type", "user_id"],
        ),
        "novelty_null_default",
        output_mode="update",
        state_partitions=4,
    )
    got = {r["first_ts"] for r in spark.table("novelty_null_default").collect()}
    assert got == {t0 + dt.timedelta(minutes=9)}  # NULL-only key dropped
    run_to_memory(
        novelty_stream(
            read_event_stream(spark, str(src), ts_unit="utc"),
            ["event_type", "user_id"],
            drop_null_ts=False,
        ),
        "novelty_null_kept",
        output_mode="update",
        state_partitions=4,
    )
    kept = {r["first_ts"] for r in spark.table("novelty_null_kept").collect()}
    assert kept == {t0 + dt.timedelta(minutes=9), None}


def test_domain_cap_stream_counts_and_flag(spark, tmp_path):
    """The cap monitor's final per-key state equals the batch group-by
    (count, min(count, cap), over-cap flag) and the running count
    SURVIVES across microbatches — two file drops processed one per
    trigger must accumulate, not restart."""
    import datetime as dt

    from spark_auto_schema.streaming import (
        domain_cap_stream,
        read_event_stream,
        run_to_memory,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows1 = [(i, 1, t0, "hot" if i < 4 else "cold", 1.0) for i in range(6)]
    rows2 = [(10 + i, 1, t0, "hot", 1.0) for i in range(3)]
    src = tmp_path / "cap_events"
    src.mkdir()
    schema = (
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double"
    )
    for n, rows in (("d1", rows1), ("d2", rows2)):
        w = tmp_path / f"w_{n}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(w))
        shutil.copy(next(w.glob("*.parquet")), src / f"{n}.parquet")
    stream = read_event_stream(
        spark, str(src), ts_unit="utc", max_files_per_trigger=1
    )
    run_to_memory(
        domain_cap_stream(stream, "event_type", cap=5),
        "cap_monitor",
        output_mode="update",
        state_partitions=4,
    )
    t = spark.table("cap_monitor")
    w = Window.partitionBy("key").orderBy(F.col("n_seen").desc())
    final = {
        r["key"]: r
        for r in t.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .collect()
    }
    # hot: 4 + 3 = 7 across two batches -> capped at 5; cold: 2, under
    assert final["hot"]["n_seen"] == 7
    assert final["hot"]["n_admitted"] == 5 and final["hot"]["capped"]
    assert final["cold"]["n_seen"] == 2
    assert final["cold"]["n_admitted"] == 2 and not final["cold"]["capped"]


def test_release_caches_drops_drained_memory_tables(spark, events_dir):
    """r14 session hygiene: run_to_memory registers its memory-sink view and
    release_caches drops it (and only then), so a long-lived session — the
    264-query bench — does not hold one in-memory result table per drained
    stream for its whole lifetime.  Results are unaffected: the view is
    dropped only after its rows were read, and a re-run re-drains."""
    from spark_auto_schema import release_caches
    from spark_auto_schema._cache import _SINKS
    from spark_auto_schema.streaming import (
        read_event_stream,
        windowed_event_counts,
    )

    stream = read_event_stream(spark, events_dir)
    run_to_memory(
        windowed_event_counts(stream, "1 hour", "2 hours"),
        "release_probe_sink",
        output_mode="complete",
    )
    assert "release_probe_sink" in _SINKS
    n = len(spark.table("release_probe_sink").collect())
    assert n > 0
    release_caches()
    assert "release_probe_sink" not in _SINKS
    assert "release_probe_sink" not in [
        t.name for t in spark.catalog.listTables()
    ]
