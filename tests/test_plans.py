"""Physical-plan audits: the plans must stay the plans we designed.

Verifies the scale-critical properties hold in Catalyst's output:
filter pushdown to the parquet scan, column pruning, broadcast joins for
dims, and the single-scan shape of the inference aggregate.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entry.queries()


@pytest.fixture(autouse=True)
def _clear_cache(spark):
    # other modules may have cached tables (tests/test_ops.py caches
    # documents/embeddings); a cached relation replaces the parquet scan with
    # InMemoryTableScan and invalidates pushdown/pruning assertions.
    spark.catalog.clearCache()
    yield


def plan_of(df, mode: str = "formatted") -> str:
    """Physical plan text.  Use mode='simple' when *counting* nodes —
    formatted mode prints every node twice (tree + detail section)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _probe_plan(df) -> list[str]:
    """Lines of the physical plan of the stats frame ``infer_table_schema``
    collects, top (final aggregate) to bottom (scan)."""
    from spark_auto_schema.inference import _probe_stats

    return plan_of(_probe_stats(df), "simple").splitlines()


def _exchanges_below_partial_aggregate(lines: list[str]) -> list[str]:
    partial = next(i for i, l in enumerate(lines) if "partial_count(" in l)
    scan = next(i for i, l in enumerate(lines) if "Scan parquet" in l)
    assert partial < scan
    return [l for l in lines[partial:scan] if "Exchange" in l]


def test_inference_is_one_scan_no_wide_shuffle(spark):
    """One scan, one partial and one final aggregate, and the partial states
    exchange by the column index ``k`` only.  Below the partial aggregate,
    input rows cross no exchange, except the spread of an input with fewer
    partitions than cores / 4: sf0.001 lineitem is one partition, sf0.1
    lineitem three."""
    from pathlib import Path

    from spark_auto_schema.io import read_table

    for sf_dir, spread in ((SF_DIR, True), (str(Path(SF_DIR).parent / "sf0.1"), False)):
        lines = _probe_plan(read_table(spark, sf_dir, "lineitem"))
        plan = "\n".join(lines)
        assert plan.count("Scan parquet") == 1
        assert plan.count("HashAggregate") == 2
        assert sum("partial_count(" in l for l in lines) == 1
        exchanges = [l for l in lines if "Exchange" in l]
        below = _exchanges_below_partial_aggregate(lines)
        assert len(exchanges) == 1 + len(below)
        above = next(l for l in exchanges if l not in below)
        assert "Exchange hashpartitioning(k#" in above
        if spread:  # the one spread of the long rows, keyed on all five slots
            assert len(below) == 1 and "xxhash64(k#" in below[0]
            assert "REPARTITION_BY_NUM" in below[0]
        else:
            assert below == []


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["error_events"](spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    assert "IsNotNull(event_type)" in plan or "EqualTo(event_type,error)" in plan


def test_column_pruning(spark):
    df = QUERIES["multimodal_bytes"](spark, SF_DIR)
    plan = plan_of(df)
    # the scan must read only the two needed columns, not all six
    readschema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert readschema, plan
    line = readschema[0]
    assert "doc_id" in line and "text" in line
    assert "lang" not in line and "source" not in line


def test_dim_joins_are_broadcast(spark):
    plan = plan_of(QUERIES["region_customers"](spark, SF_DIR), "simple")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_top_customers_broadcast_join(spark):
    plan = plan_of(QUERIES["top_customers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_agg(spark):
    plan = plan_of(QUERIES["pricing_summary"](spark, SF_DIR))
    # map-side partial aggregation before the key exchange
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters:" in plan  # shipdate predicate reaches the scan


def test_anti_join_is_join_not_subquery_loop(spark):
    plan = plan_of(QUERIES["customers_no_orders"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_cosine_topk_is_takeordered(spark):
    plan = plan_of(QUERIES["embedding_topk"](spark, SF_DIR))
    # global top-k must be TakeOrdered (k per partition then k global),
    # never a full sort of the corpus
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row query side broadcast


def test_hash_sample_is_narrow_no_shuffle(spark):
    df = QUERIES["hash_sample_docs"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    # a content-hash sample is a per-row filter inside the scan stage:
    # no exchange anywhere in the plan
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_shipping_priority_broadcasts_dim_and_pushes_filters(spark):
    plan = plan_of(QUERIES["shipping_priority"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # filtered customer dim is broadcast
    assert "PushedFilters:" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 is not a global sort


def test_streaming_uses_stateful_operator(spark):
    from pyspark.sql import types as T

    from spark_auto_schema.streaming import (
        _events_stream_schema,
        running_user_stats_stream,
    )

    # logical check on a batch-shaped frame is impossible (the operator is
    # streaming-only); assert the streaming plan contains the Arrow state op
    stream = (
        spark.readStream.schema(_events_stream_schema(T.LongType()))
        .parquet("/root/testdata/sf0.001")  # never started; plan-only
    )
    import pyspark.sql.functions as F

    stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    out = running_user_stats_stream(stream)
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan


def test_grouping_sets_single_scan(spark):
    plan = plan_of(QUERIES["grouping_sets_orders"](spark, SF_DIR), "simple")
    # grouping sets must expand, not re-scan per set
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from spark_auto_schema.io import read_table, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = read_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
        c = read_table(spark, SF_DIR, "customer").select("c_custkey", "c_name")
        write_bucketed(o, "b_orders", "o_custkey", buckets=8)
        write_bucketed(c, "b_customer", "c_custkey", buckets=8)
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            spark.table("b_orders")["o_custkey"]
            == spark.table("b_customer")["c_custkey"],
        )
        plan = plan_of(joined, "simple")
        # co-located buckets: the join needs NO shuffle on either side
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    from spark_auto_schema.io import read_table, write_partitioned

    e = read_table(spark, SF_DIR, "events").select("event_id", "value", "event_type")
    path = str(tmp_path / "events_by_type")
    write_partitioned(e, path, ["event_type"])
    df = spark.read.parquet(path).where("event_type = 'error'")
    plan = plan_of(df)
    # the predicate must become a partition filter (directory pruning),
    # not a data filter evaluated per row
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
    assert df.count() == e.where("event_type = 'error'").count()


def test_range_partitioned_write_gives_disjoint_sorted_files(spark, tmp_path):
    """write_range_partitioned must produce files whose value ranges are
    pairwise disjoint (the zone-map property: a range predicate can skip
    whole files on min/max stats) and must push range predicates down to
    the parquet scan."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table, write_range_partitioned

    e = read_table(spark, SF_DIR, "events").select("event_id", "value")
    path = str(tmp_path / "events_by_value")
    write_range_partitioned(e, path, "value", num_files=8)
    back = spark.read.parquet(path)
    assert back.count() == e.count()

    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(spans) > 1
    for prev, cur in zip(spans, spans[1:]):
        assert prev["hi"] <= cur["lo"], (prev, cur)

    plan = plan_of(back.where(F.col("value") > 90.0))
    pushed = plan.split("PushedFilters", 1)
    assert len(pushed) == 2 and "value" in pushed[1].splitlines()[0]


def test_chunk_documents_is_shuffle_free_map_stage(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    df = text.chunk_documents(read_table(spark, SF_DIR, "documents"))
    plan = plan_of(df, "simple")
    # chunking must pipeline inside the scan: explode + project, no exchange
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode of window starts


def test_ivf_centroids_use_takeordered_not_full_sort(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops.similarity import norm
    from pyspark.sql import functions as F

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = (
        emb.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cvec"),
            norm(F.col("embedding")).alias("cn"),
        )
        .orderBy(F.md5(F.col("cid").cast("string")), F.col("cid"))
        .limit(16)
    )
    plan = plan_of(cents, "simple")
    # orderBy+limit must compile to TakeOrdered (k-heap per partition),
    # never a global Sort (full shuffle of the corpus)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_max_df_hot_shingle_filter_is_broadcast_anti_join(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    # the testdata's max df is 25: a cap of 5 fires, so hot shingles exist
    # and the hot-shingle removal must not shuffle the corpus-sized side
    plan = plan_of(dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_df=5), "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # a cap of 100 fires for no shingle: the anti-join is skipped entirely
    plan = plan_of(dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_df=100), "simple")
    assert "LeftAnti" not in plan
    dedup.release_caches()


def test_label_centroids_partial_aggregation(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    df = similarity.label_centroids(read_table(spark, SF_DIR, "embeddings"))
    plan = plan_of(df, "formatted")
    # both aggregations must be two-phase hash aggregates (map-side combine
    # before the exchange), so the d-times-exploded rows partially collapse
    # before shuffling
    assert plan.count("HashAggregate") >= 4


def test_weighted_sample_is_takeordered(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import sampling
    from pyspark.sql import functions as F

    d = read_table(spark, SF_DIR, "documents").withColumn(
        "w", F.length("text").cast("double")
    )
    plan = plan_of(sampling.weighted_sample(d, "doc_id", "w", 10), "simple")
    assert "TakeOrderedAndProject" in plan


def test_pack_sequences_single_exchange(spark):
    from spark_auto_schema.ops import packing

    df = spark.createDataFrame(
        [(i, 1 + i % 5) for i in range(100)], "doc_id long, tokens long"
    )
    plan = plan_of(packing.pack_sequences(df, budget=10, n_buckets=4), "simple")
    # one shuffle on the bucket key; the pack_pos window must REUSE that
    # partitioning (hash(bucket) satisfies clustering by (bucket, pack_id)),
    # so exactly one Exchange in the whole plan
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2


def test_mix_by_column_is_narrow_no_shuffle(spark):
    plan = plan_of(QUERIES["corpus_mix"](spark, SF_DIR), "simple")
    # domain re-weighting is a CASE-threshold filter inside the scan stage
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_incremental_exact_dedup_is_anti_join_on_hashes(spark):
    plan = plan_of(QUERIES["incremental_dedup"](spark, SF_DIR))
    # novelty check must be an anti join (never a per-row subquery), keyed
    # on the md5 hash, after a partial-aggregated batch dedup
    assert "LeftAnti" in plan
    assert "HashAggregate" in plan


def test_gopher_filter_is_narrow_no_shuffle(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(text.gopher_quality_filter(docs), "simple")
    assert "Exchange" not in plan  # pure per-row projection
    assert plan.count("Scan parquet") == 1


def test_kmeans_assign_is_row_local(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = [(0, [0.0] * 64), (1, [1.0] * 64)]
    plan = plan_of(similarity.kmeans_assign(emb, cents), "simple")
    # assignment against literal centroids: no join, no exchange, one scan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_quantize_stats_join_is_broadcast(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = plan_of(similarity.quantize_embeddings(emb))
    # the d-row per-dimension stats side must broadcast, never shuffle the
    # exploded corpus for the join
    assert "BroadcastHashJoin" in plan


def test_unigram_model_join_is_broadcast(spark):
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(text.unigram_logprob(docs))
    # vocabulary-sized model joins the token stream via broadcast; the only
    # wide exchanges are the wordcount and the final per-doc aggregate
    assert "BroadcastHashJoin" in plan


def test_tpch_part_joins_are_broadcast(spark):
    # Q14/Q19 shapes: the part dimension must broadcast onto the lineitem
    # scan, and the brand/size disjunction must still prune the part scan.
    for name in ("promo_revenue", "discount_band_revenue"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
    plan = plan_of(QUERIES["discount_band_revenue"](spark, SF_DIR))
    # Catalyst derives a per-side residual of the OR-of-ANDs and pushes it
    # into BOTH scans: brand/size disjunction to part, quantity bands to
    # lineitem
    assert "EqualTo(p_brand,Brand#12)" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_order_priority_exists_is_semi_join(spark):
    # Q4 shape: the correlated EXISTS must compile to ONE semi join on the
    # order key, never a per-order subquery or an inner join + distinct.
    plan = plan_of(QUERIES["order_priority_check"](spark, SF_DIR), "simple")
    assert "LeftSemi" in plan
    assert plan.count("Join") == 1


def test_top_supplier_scalar_max_is_broadcast(spark):
    # Q15 shape: the max-revenue scalar joins back via a broadcast of the
    # 1-row aggregate — no global sort of the supplier-revenue relation.
    plan = plan_of(QUERIES["top_supplier"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Sort [total_revenue" not in plan


def test_large_volume_having_runs_before_joins(spark):
    # Q18 shape: the sum_qty>300 filter must apply to the orderkey aggregate
    # BEFORE the orders/customer joins (aggregate appears under the joins).
    plan = plan_of(QUERIES["large_volume_orders"](spark, SF_DIR), "simple")
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # in simple-mode tree text, deeper nodes print LATER; the aggregate that
    # feeds the join must be deeper than (printed after) the first join
    assert agg_pos > join_pos


def test_sales_opportunity_anti_join(spark):
    # Q22 shape: NOT EXISTS = left-anti join; scalar avg = broadcast.
    plan = plan_of(QUERIES["sales_opportunity"](spark, SF_DIR), "simple")
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join complement to the manual salting in ops/skew.py: a
    synthetically skewed sort-merge join must be split at runtime into
    multiple tasks per skewed partition, visible as SortMergeJoin(skew=true)
    over an 'AQEShuffleRead skewed' reader in the final adaptive plan.  The
    skew thresholds are lowered so local-mode data sizes trigger the
    optimizer; at production defaults (256 MB / factor 5) the same rewrite
    fires on genuinely hot keys — this is the zero-code path that obviates
    hand salting when exact per-key aggregation isn't required."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 90% of 400k rows land on key 0; the rest spread over ~1000 keys
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
        )
        j = big.join(dim, on="k")
        # collect() drives j's OWN QueryExecution to the final adaptive plan
        # (a .write wraps the plan in a separate command execution, whose
        # finalization is invisible from j)
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """The partition-right-sizing half of the AQE reliance (the skew test
    covers the splitting half): with spark.sql.shuffle.partitions=8 (the
    conftest session default) but a tiny aggregate, AQE must coalesce the
    post-shuffle read instead of running 8 near-empty tasks.  At 100 TB the
    same mechanism sizes every post-shuffle stage to
    advisoryPartitionSizeInBytes, which is why the operators here never
    hand-tune numPartitions per query.  The adaptive confs are pinned (and
    restored) so a prior test toggling them cannot flake this one."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.range(10_000).groupBy((F.col("id") % 100).alias("k")).count()
        assert len(df.collect()) == 100
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead coalesced" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# pinned plan shapes: exchange-count ceilings for representative queries
# ---------------------------------------------------------------------------

# A silent plan regression (a lost broadcast, a new repartition, a
# pushdown that stopped firing) often keeps results correct and only
# shows up as cost at scale.  Pin an exchange-count CEILING for one
# stable representative per family; a refactor that adds a shuffle must
# consciously raise the pin.  Ceilings are the CURRENT counts (verified),
# not aspirations.
_EXCHANGE_PINS = {
    "pricing_summary": 1,        # one agg shuffle
    "dedup_exact": 1,            # one hash-groupBy on md5
    "infer_lineitem": 1,         # single-row stats exchange
    "embedding_topk": 0,         # broadcast query vector + TakeOrdered
    "value_histogram": 2,        # SinglePartition stats agg + one bin agg
    "merge_upsert_orders": 3,    # union, full-outer join sides, final agg
    "user_retention_cohorts": 4, # two aggs + join + final agg
    "skew_profile_events": 3,    # key-count agg (appears on both branches
                                 # pre-AQE; ReusedExchange dedups at run
                                 # time) + SinglePartition stats agg
    "bigram_pmi": 7,             # 2 wordcount aggs + totals + 2 vocab
                                 # joins (documented floor in ops/text.py)
    "text_stats": 0,             # shuffle-free per-row projection
    "lang_id": 0,                # shuffle-free per-row projection
    "corpus_mix": 0,             # CASE-threshold filter, no shuffle
    "profile_docs": 3,           # r14 split: count/distinct 1-row agg +
                                 # min/max 1-row agg (separate pass so the
                                 # multi-distinct Expand stays HashAggregate
                                 # — see ops/corpus.py profile_table) +
                                 # stack ordering; both agg exchanges are
                                 # 1-row
    "pack_sequences": 1,         # single bucket shuffle, window reuses it
    "top_terms": 1,              # one wordcount agg, top-k is TakeOrdered
    "time_bucket_events": 1,     # one hash agg with map-side combine
    "asof_prior_click": 1,       # union + ONE per-key window shuffle
    "epoch_shuffle_docs": 1,     # shard-local row_number, no global sort
    "moving_avg_orders": 2,      # monthly agg + single-window ordering
    "group_quantile_filter": 2,  # per-group threshold agg (broadcast back)
                                 # + final summary agg
    "hll_sharded_uniques": 7,    # CONTRACT cost, not operator cost: the
                                 # sketch agg appears on both est branches
                                 # pre-AQE (ReusedExchange dedups at run
                                 # time) and the exact-countDistinct truth
                                 # side adds two 2-phase distinct aggs;
                                 # the operator alone is 2 (sketch agg +
                                 # |shards|-row union agg)
    "tombstone_delete": 2,       # tombstone-side dedup (tiny) + final agg;
                                 # the corpus-side delete itself is a
                                 # BROADCAST anti-join, zero corpus shuffle
    "binary_hamming_topk": 6,    # the 3-exchange signature build (d-row
                                 # mean agg + word packing + reassembly)
                                 # appears on corpus AND query branches
                                 # pre-AQE (ReusedExchange dedups at run
                                 # time); top-k is TakeOrdered, no sort
    "domain_cap_docs": 3,        # domain-count agg on both branches
                                 # pre-AQE (ReusedExchange dedups) + the
                                 # over-cap-only window shuffle; the
                                 # under-cap pass-through is a broadcast
                                 # anti-join with NO sort
    "burst_collapse_events": 1,  # lag + cumsum windows and the burst agg
                                 # all reuse ONE key shuffle
    "scd2_order_status": 0,      # history is a filter, the update batch
                                 # broadcasts: the dimension is NEVER
                                 # shuffled
    "semantic_dedup": 2,         # assignment is row-local (literal
                                 # centroids); cluster pair join + drop-set
                                 # distinct share the only shuffles
    "psi_drift_events": 6,       # 1-row stats aggs (x2 sides) + nbins-key
                                 # bin aggs (x2); count frames broadcast
                                 # into the spine join, totals ride the
                                 # stats agg — pre-AQE the stats subtree
                                 # appears per reference, ReusedExchange
                                 # dedups at run time
    "csv_quarantine": 2,         # one cached parse, two 1-row aggs
    "scd2_lookup_events": 2,     # dim-build window + as-of equi-join
                                 # reuse one key shuffle; final agg
    "key_suggestions": 3,        # r14 split profile: two 1-row aggs
                                 # (count/distinct pass + min/max pass —
                                 # see ops/corpus.py profile_table) + the
                                 # |columns|-row rank window
    "fk_profile": 15,            # 3 relationships x (stats agg + child
                                 # distinct + parent distinct + anti-join
                                 # pair) pre-AQE; parent distinct sets
                                 # broadcast at run time under AQE
    "mad_outliers_events": 4,    # median agg + MAD agg (both |keys|-row)
                                 # + final per-key count + one pre-AQE
                                 # join exchange; at run time both stat
                                 # tables broadcast (asserted by
                                 # test_mad_outliers_broadcasts_stat_tables)
    "equidepth_histogram_events": 2,  # 1-row percentile-edges agg
                                      # (broadcast back) + nbins-key agg;
                                      # NO sort, NO window
    "incremental_semantic_dedup": 2,  # batch x corpus cluster equi-join
                                      # + dup-set distinct; assignment is
                                      # row-local on both sides
    "remove_boilerplate_docs": 3,     # digest-keyed DF agg + flag join
                                      # share one key; per-doc rollup
    "token_entropy_sources": 2,       # (grp, tok) wordcount agg + the
                                      # O(groups) entropy rollup
    "conversation_assembly_events": 1,  # sessionize window + the
                                        # (user, session) groupBy REUSE one
                                        # user_id shuffle (HashPartitioning
                                        # on a subset of the grouping keys)
    "text_roundtrip": 2,              # two-phase distinct-count over the
                                      # 1-row totals agg
    "jsonl_inference": 1,             # same single-row stats exchange as
                                      # infer_* (runs eagerly inside)
    "eval_sample_per_lang": 1,        # one group-key shuffle; row_number
                                      # sorts locally per group
}


def test_pinned_exchange_ceilings(spark):
    for name, ceiling in _EXCHANGE_PINS.items():
        df = QUERIES[name](spark, SF_DIR)
        plan = plan_of(df, "simple")
        n = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n <= ceiling, (
            f"{name}: {n} shuffle exchanges, pinned ceiling {ceiling};"
            f" a new shuffle entered the plan\n{plan}"
        )


# ------------------------------------------------- round-6 session-3 additions
def test_kfold_and_embargo_are_shuffle_free(spark):
    """Fold assignment and the temporal split are pure row-local
    projections: no Exchange anywhere — at 100 TB they pipeline inside
    the scan."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import sampling

    d = read_table(spark, SF_DIR, "documents")
    plan = plan_of(sampling.kfold_assign(d, "doc_id", k=5), "simple")
    assert "Exchange" not in plan
    e = read_table(spark, SF_DIR, "events")
    plan = plan_of(
        sampling.time_embargo_split(e, "ts", "2024-01-20 00:00:00", "3 days"),
        "simple",
    )
    assert "Exchange" not in plan


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The bucketed interval join must plan as a hash equi-join on the
    bucket key (SortMergeJoin or ShuffledHashJoin/BroadcastHashJoin), never
    BroadcastNestedLoopJoin or CartesianProduct — that is the whole point
    of exploding intervals into time buckets."""
    from spark_auto_schema.ops import relational

    a = spark.range(100).selectExpr(
        "id AS aid", "CAST(id * 10 AS DOUBLE) AS s", "CAST(id * 10 + 5 AS DOUBLE) AS e"
    )
    b = spark.range(100).selectExpr(
        "id AS bid", "CAST(id * 7 AS DOUBLE) AS bs", "CAST(id * 7 + 9 AS DOUBLE) AS be"
    )
    plan = plan_of(
        relational.interval_join(a, b, "s", "e", "bs", "be", bucket_seconds=50),
        "simple",
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_jl_project_is_row_local(spark):
    """The projection is literal sign arrays folded row-locally: no
    Exchange, no UDF — one narrow stage over the embedding scan."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    e = read_table(spark, SF_DIR, "embeddings")
    plan = plan_of(similarity.jl_project(e, out_dim=4), "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_length_buckets_single_tiny_aggregate(spark):
    """One hash aggregate over a handful of bucket keys: exactly one
    Exchange (the final nbuckets-key agg), nothing else wide."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import packing

    d = read_table(spark, SF_DIR, "documents").select(
        F.size(F.split("text", " ")).alias("t")
    )
    plan = plan_of(packing.length_buckets(d, "t", max_len=128, min_bucket=16), "simple")
    assert plan.count("Exchange") == 1


def test_ks_drift_no_data_sized_window(spark):
    """The cumulative window must run over the nbins-row counts frame only:
    the plan's Window node sits above the bin aggregate (post-aggregation),
    and the event scan side has no Window or global Sort."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import analytics

    e = read_table(spark, SF_DIR, "events")
    base = e.where(F.col("event_id") % 2 == 0).select("value")
    curr = e.where(F.col("event_id") % 2 == 1).select("value")
    plan = plan_of(analytics.ks_drift(base, curr, "value", nbins=10), "simple")
    # exactly one Window node, and the per-side bin counts ride broadcasts
    assert plan.count("Window") == 1
    assert plan.count("BroadcastExchange") >= 2


def test_bigram_model_join_adapts_and_stays_jvm_side(spark):
    """The score join carries NO broadcast hint (a 100 TB bigram table
    outgrows broadcast; AQE decides) — at test scale the RUNTIME adaptive
    plan must still converge to a broadcast of the small model.  No
    Python evaluation and no cartesian anywhere; the pair stream is
    persisted (InMemoryTableScan) so model training and scoring share
    one pair-generation pass."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    try:
        df = text.bigram_logprob(docs)
        df.collect()  # drive AQE to the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastQueryStage" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan
    finally:
        text.release_caches()


def test_table_checksum_single_scan_single_exchange(spark):
    """One scan, one hash aggregate on the shard key: the checksum must
    never sort or collect the table."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import corpus

    o = read_table(spark, SF_DIR, "orders")
    plan = plan_of(
        corpus.table_checksum(o, cols=["o_orderkey", "o_orderstatus"]), "simple"
    )
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Sort" not in plan


def test_correlation_matrix_is_one_pass(spark):
    """All pairwise co-moments ride a single 1-row aggregate: one scan,
    partial+final aggregate, single-row exchange, no wide shuffle."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import analytics

    li = read_table(spark, SF_DIR, "lineitem")
    df = analytics.correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 1
    detail = plan_of(df)
    assert "SinglePartition" in detail
    assert "hashpartitioning" not in detail


def test_binned_roc_windows_are_bin_frame_only(spark):
    """The ROC sweep's windows run over the nbins-row counts frame, never
    the data: the scored input contributes ONE data-sized aggregate, and
    the plan's Window nodes sit above the spine join."""
    from pyspark.sql import functions as F

    from spark_auto_schema.ops import scoring

    d = spark.range(1_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 100 / 100.0).alias("score"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    plan = plan_of(scoring.binned_roc(d, nbins=10), "simple")
    # one data-sized aggregate (partial+final pairs count as HashAggregate
    # nodes); the rest of the plan operates on <= nbins rows
    assert "BroadcastExchange" in plan  # counts broadcast into the spine
    assert plan.count("Window") <= 3   # tpr/fpr sweep + lag, bin-frame only


def test_bloom_prune_probe_is_broadcast_and_verify_is_anti(spark):
    """The Bloom bit-set (<= 2^18 rows) must broadcast onto the batch probe
    — a shuffled join there would defeat the runtime-filter pattern — and
    both the prune outcome split and the exact verify must be anti-joins,
    never subquery loops."""
    plan = plan_of(QUERIES["bloom_incremental_dedup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # bit-set probe (and positive split)
    assert plan.count("LeftAnti") >= 2  # negative split + exact verify
    assert "CartesianProduct" not in plan


def test_bm25_topk_plan(spark):
    """Corpus scalars ride broadcast nested-loop 1-row joins; per-term df
    broadcasts; the final top-k is TakeOrdered, never a global sort."""
    plan = plan_of(QUERIES["bm25_topk_docs"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # the query-term filter must reach the token source before aggregation
    assert "CartesianProduct" not in plan


def test_expectation_suite_is_single_aggregate(spark):
    """All six expectations reduce in ONE aggregation over ONE scan: the
    plan must contain exactly one scan of orders and no join/shuffle other
    than the final 1-row aggregate exchange."""
    plan = plan_of(QUERIES["dq_expectations_orders"](spark, SF_DIR), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_heavy_hitters_sketch_never_shuffles_vocabulary(spark):
    """The sketch aggregate's exchange must carry partial SKETCHES (a
    single-group aggregate), never a vocabulary-keyed hashpartitioning —
    that vocabulary shuffle is exactly what the sketch exists to avoid."""
    plan = plan_of(QUERIES["heavy_hitters_sketch"](spark, SF_DIR), "simple")
    assert "hashpartitioning(term" not in plan
    assert "SinglePartition" in plan  # partial-sketch merge


def test_fim_transform_is_shuffle_free(spark):
    """FIM is a pure per-row projection: no Exchange of any kind."""
    plan = plan_of(QUERIES["fim_transform_docs"](spark, SF_DIR), "simple")
    assert "Exchange" not in plan


def test_filter_funnel_is_single_scan_single_aggregate(spark):
    """Every rule counter (standalone + cumulative) reduces in ONE
    aggregation over ONE documents scan — adding rules adds agg
    expressions, never passes."""
    plan = plan_of(QUERIES["filter_funnel_docs"](spark, SF_DIR), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_gini_concentration_windows_are_aggregate_sized(spark):
    """The Gini rank windows sort the |sources| aggregate frame, never
    row data: exactly one scan, and the only hashpartitioning exchange
    is the group-count aggregate (the window itself runs on a
    SinglePartition frame of group rows)."""
    plan = plan_of(QUERIES["gini_source_concentration"](spark, SF_DIR), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "hashpartitioning(doc_id" not in plan  # never row-keyed


# ---------------------------------------------------------------- round 8
def test_normalize_and_urls_are_shuffle_free_projections(spark):
    """normalize_text and canonicalize_urls pipeline inside the scan: no
    Exchange, no Python evaluation, one parquet scan each."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    for df in (
        text.normalize_text(docs),
        text.canonicalize_urls(docs.select(F.col("text").alias("url"))),
    ):
        plan = plan_of(df, "simple")
        assert "Exchange" not in plan
        assert "Python" not in plan
        assert plan.count("FileScan parquet") == 1


def test_token_window_dedup_single_scan_two_exchanges(spark):
    """Window generation is row-local (no token explode re-derivation),
    the shared flag is ONE fingerprint exchange, and both the island and
    doc rollups reuse the doc-id partitioning: one scan, exactly two
    exchanges, no join anywhere."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(dedup.token_window_dup_coverage(docs, k=8), "simple")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_topic_shares_assignment_is_zero_shuffle(spark):
    """The centroid assignment is a row-local literal fold: the ONLY
    exchanges are the k-row cluster aggregate and the k-row window frame
    (SinglePartition); one scan, no join, nothing data-sized sorts."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    plan = plan_of(similarity.topic_shares(emb, nlist=8), "simple")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 2
    assert "SinglePartition" in plan
    assert "Join" not in plan


def test_tokenizer_fertility_single_aggregate_no_explode(spark):
    """Token counts fold row-locally over the split array (no Generate /
    explode), then one hash aggregate to group granularity."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(text.tokenizer_fertility(docs), "simple")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") == 1
    assert "Generate" not in plan


def test_top_repeated_substrings_broadcasts_winners(spark):
    """The k winners join back to the corpus via BROADCAST (never a
    shuffle of window text); no cartesian, no sort-merge."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(dedup.top_repeated_substrings(docs), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cross_source_duplication_has_no_digest_self_join(spark):
    """Pairs expand row-locally from the per-digest source set: the only
    joins are broadcasts of the |sources|-row totals — a digest-keyed
    self-join (the O(corpus) join) must not exist."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(dedup.cross_source_duplication(docs), "simple")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_zipf_slope_windows_are_vocab_sized(spark):
    """One wordcount shuffle + a rank window over the per-group VOCAB
    frame; no join, no second scan."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(text.zipf_slope(docs), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_lang_confusion_is_single_scan_no_join(spark):
    """Truth and prediction live in ONE projection — no self-join of
    corpus vs predictions; the share window runs on the |langs|^2
    aggregate frame."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(text.lang_confusion(docs), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_dedup_loss_single_digest_window_no_join(spark):
    """One digest-partition window exchange + one source aggregate: no
    join, no distinct pass, one scan."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(dedup.dedup_loss_by_source(docs), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 2


def test_pii_density_single_scan_single_aggregate(spark):
    """The regexp counts are per-row projections pipelined inside the
    scan; the only exchange is the |sources|-row hash aggregate — no
    join, no second scan (round-9 op)."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(text.pii_density(docs), "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_lm_kl_no_corpus_sized_join_or_expansion(spark):
    """The join is vocabulary-sized (term counts x corpus counts) and the
    scalar frame is one broadcast row — no |sources| x |vocab| expansion,
    no second corpus scan (corpus counts derive from the per-source
    aggregate), one FileScan total."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text

    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(text.lm_kl_divergence(docs), "simple")
    # the persisted (group, term) frame is the single corpus read: all
    # three consumers read InMemoryTableScan, and every FileScan string in
    # the plan text is the one INSIDE an InMemoryRelation description
    # (cache fill), so the file is scanned once
    assert plan.count("InMemoryTableScan") == 3
    assert plan.count("FileScan parquet") == plan.count("InMemoryRelation")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar frame
    assert "CartesianProduct" not in plan
    text.release_caches()


def test_retrieval_recall_probes_ranked_in_plan_no_driver_loop(spark):
    """The probe lists for the whole query panel ride one rank window over
    the |queries| x nlist frame — the query-side frames are broadcast (no
    SortMergeJoin), there is no cartesian product, and building the plan
    triggers no job (a per-query collect loop would).

    WINDOW-INPUT SHAPE (round-9 verdict): both the exact-truth and the
    IVF top-k cuts must be TWO-PHASE — a partial rank over (qid, __salt)
    with a __rk1 <= k filter feeding the final per-qid rank — so no
    single sort partition is ever the corpus-sized candidate set of one
    query.  A revert to a single row_number over partitionBy(qid) drops
    the __salt windows / __rk1 filters from the plan and fails here."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df = similarity.retrieval_recall_eval(
        emb, query_ids=list(range(8)), k=10, nlist=16, nprobe=5
    )
    plan = plan_of(df, "simple")
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "plan construction must not run driver-side jobs"
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # query + centroid fan-outs
    # two phase-1 windows (exact + approx), each partitioned by the salt
    salted_windows = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "__salt" in ln
    ]
    assert len(salted_windows) >= 2, (
        "both top-k cuts must rank over (qid, __salt) first — "
        "single-phase corpus-sized qid partitions are the 100x skew killer"
    )
    # and each feeds through the partial-rank cut before the final window
    assert plan.count("__rk1") >= 2


def test_lsh_recall_panel_plan_shape(spark):
    """lsh_recall_eval inherits the panel harness's plan contract: plan
    construction runs no driver job, the panel frames are broadcast (no
    SortMergeJoin, no cartesian), the signature columns are in-scan
    projections (no extra exchange before the candidate filter), and
    BOTH top-k cuts are two-phase salted ranks."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df = similarity.lsh_recall_eval(
        emb, query_ids=list(range(8)), k=10, num_planes=3, num_tables=6
    )
    plan = plan_of(df, "simple")
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before, "plan construction must not run driver-side jobs"
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    salted_windows = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "__salt" in ln
    ]
    assert len(salted_windows) >= 2
    assert plan.count("__rk1") >= 2
    similarity.release_caches()


def test_dsir_single_feature_pass_takeordered_cut(spark):
    """The persisted feature stream is the single corpus read (model fit
    AND scoring read the cache), the bucket model is broadcast back, and
    the final cut is a TakeOrdered k-heap, never a global Sort."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import sampling

    docs = read_table(spark, SF_DIR, "documents")
    df = sampling.dsir_importance_sample(
        docs, target=F.col("lang") == "en", n=100
    )
    plan = plan_of(df, "simple")
    sampling.release_caches()
    assert plan.count("FileScan parquet") == plan.count("InMemoryRelation")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_paragraph_minhash_bucket_local_no_cartesian(spark, monkeypatch):
    """Candidate generation stays band-bucket-local (equi-join on
    (band, bucket)) at segment granularity — no cartesian product, no
    corpus-wide nested loop.  Read on the lazy segment-pair plan (budget
    0): under the budget the pairs are a local frame."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    monkeypatch.setattr(dedup, "_DRIVER_CC_EDGE_BUDGET", 0)
    docs = read_table(spark, SF_DIR, "documents")
    plan = plan_of(dedup.paragraph_minhash_pairs(docs), "simple")
    dedup.release_caches()
    assert "InMemoryTableScan" in plan  # the signature aggregate
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_recency_weights_single_agg_broadcast_ref(spark):
    """The corpus-max reference timestamp is a 1-row broadcast; the decay
    weight is a per-row expression inside the scan; the only exchange is
    the |groups|-row aggregate."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import analytics

    ev = read_table(spark, SF_DIR, "events")
    plan = plan_of(analytics.recency_weighted_stats(ev), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lm_kl_between_vocab_sized_join_only(spark):
    """The full-outer union join is vocabulary-sized (two wordcount
    aggregates), the per-group scalar frame broadcasts back, and there is
    no cartesian product or corpus-sized sort-merge downstream of the
    wordcounts."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import text
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_DIR, "documents")
    df = text.lm_kl_between(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the |groups|-row scalar rejoin


def test_round10_new_ops_plan_shapes(spark):
    """Scale-shape pins for the round-10 additions that carry real
    dataflow: no cartesian products anywhere; the threshold sweep joins
    its tiny threshold frame by broadcast (inequality join must not
    degenerate to CartesianProduct); the quantized panel's top-k cuts are
    two-phase salted; the empirical-detection shingle frame is persisted
    (one corpus scan feeds its four consumers); the occupancy meter and
    the packing sweep never sort-merge-join at all, and the packing
    sweep runs exactly ONE window pass (the cumsum is budget-independent
    — a per-budget window would re-shuffle once per budget)."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup, packing, similarity

    emb = read_table(spark, SF_DIR, "embeddings")
    docs = read_table(spark, SF_DIR, "documents")

    qr = similarity.quantized_recall_eval(emb, query_ids=list(range(4)), k=5)
    plan = plan_of(qr, "simple")
    assert "CartesianProduct" not in plan
    salted = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "__salt" in ln
    ]
    assert len(salted) >= 2 and plan.count("__rk1") >= 2
    similarity.release_caches()

    sweep = dedup.dedup_threshold_sweep(docs, thresholds=(0.7, 0.8, 0.9))
    plan = plan_of(sweep, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # jaccard >= threshold join
    dedup.release_caches()

    emp = dedup.lsh_empirical_detection(docs)
    plan = plan_of(emp, "simple")
    assert "CartesianProduct" not in plan
    # persisted shingle relation: every FileScan string sits inside an
    # InMemoryRelation description (cache fill), consumers read the cache.
    # InMemoryRelations may OUTNUMBER FileScans since r14: nested caches
    # (the per-id sizes persist atop the shingle cache) fill from another
    # cache, not from a file.
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("FileScan parquet") <= plan.count("InMemoryRelation")
    dedup.release_caches()

    occ = dedup.band_occupancy(docs)
    plan = plan_of(occ, "simple")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan

    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("tokens")
    )
    ps = packing.packing_length_sweep(toks, budgets=(128, 256, 512))
    plan = plan_of(ps, "simple")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("windowspecdefinition") == 1, (
        "the cumsum must be computed once, not once per budget"
    )


def test_round11_new_ops_plan_shapes(spark):
    """Scale-shape pins for the round-11 additions: no cartesian product
    anywhere; the nprobe sweep's top-k cuts are two-phase salted and its
    candidate fan-out is persisted (one pass feeds every sweep value);
    the banding sweep persists the signature frame and candidate union;
    the semantic sweep reads ONE persisted pair set per rollup; the
    rerank pool and the eval-gram set reach the corpus scan as broadcast
    joins; span extraction joins flags by hash equi-join only."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import corpus, dedup, similarity, text

    emb = read_table(spark, SF_DIR, "embeddings")
    docs = read_table(spark, SF_DIR, "documents")

    nps = similarity.ivf_nprobe_sweep(
        emb, query_ids=[0, 1], nprobes=(1, 2), k=5, nlist=16
    )
    plan = plan_of(nps, "simple")
    assert "CartesianProduct" not in plan
    salted = [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "__salt" in ln
    ]
    assert len(salted) >= 2 and plan.count("__rk1") >= 2
    assert "InMemoryTableScan" in plan  # persisted candidate fan-out
    similarity.release_caches()

    cs = dedup.lsh_config_sweep(docs)
    plan = plan_of(cs, "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # sig + candidate frames
    dedup.release_caches()

    st = similarity.semantic_threshold_sweep(emb, thresholds=(0.2, 0.3))
    plan = plan_of(st, "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # one pair set, N rollups
    similarity.release_caches()

    sp = dedup.dup_span_extract(docs, k=8, min_docs=2)
    plan = plan_of(sp, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # h/id equi-joins only

    cw = dedup.contamination_ngram_sweep(docs, docs.limit(5), ns=(4, 8))
    plan = plan_of(cw, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # eval grams broadcast to train scan

    pool = spark.createDataFrame(
        [(1, 0.9), (2, 0.8)], "vec_id long, rrf double"
    )
    rr = similarity.cross_rerank(pool, docs, ["merge", "window"])
    plan = plan_of(rr, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # k-sized pool broadcast into docs

    half = F.pmod(F.xxhash64("doc_id"), F.lit(2))
    dr = dedup.dedup_rate_drift(docs.where(half == 0), docs.where(half == 1))
    assert "CartesianProduct" not in plan_of(dr, "simple")

    cp = corpus.curriculum_phases(
        text.quality_score(docs), "quality", 4
    )
    plan = plan_of(cp, "simple")
    assert "CartesianProduct" not in plan
    # assignment is one in-scan expression against a 1-row broadcast:
    # a per-phase join/shuffle would show as extra exchanges
    assert "SortMergeJoin" not in plan


# ------------------------------------------------- round-12 additions
def test_candidate_verify_paths_have_no_unbounded_broadcast_hint(spark):
    """The MinHash/LSH verify family must NOT hard-hint a broadcast on its
    candidate-id sets: candidate volume scales with the corpus's near-dup
    fraction (~30% on web crawls), so an unconditional ``F.broadcast``
    would push a multi-GB relation through the driver at 100 TB.  The
    analyzed plans must carry zero ResolvedHint nodes except the bounded
    literal frames (lsh_config_sweep's |configs|-row expectation table) —
    AQE converts the semi-joins to broadcast at runtime when small.
    """
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    half = F.pmod(F.xxhash64("doc_id"), F.lit(2))

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    # the lazy pair plans: a returned pair set under the driver budget is
    # a LocalRelation, which carries no hint whatever the pipeline does
    for md5_grade in (False, True):
        lazy = dedup._lsh_plan(docs, "text", "doc_id", 16, 4, 3, 0.5, md5_grade)
        assert "Join" in lazy._jdf.queryExecution().analyzed().toString()
        assert hints(lazy) == 0
    dedup.release_caches()
    assert (
        hints(
            dedup.incremental_near_dedup(
                docs.where(half == 0), docs.where(half == 1)
            )
        )
        == 0
    )
    # the only surviving hint is the |configs|-row expected-candidate
    # literal frame (bounded by construction)
    cs = dedup.lsh_config_sweep(docs, bands_sweep=(2, 4))
    assert hints(cs) <= 1
    dedup.release_caches()


def test_token_survivorship_plan_shape(spark):
    """Token survivorship: no cartesian products anywhere (the near stage
    is the bucketed shingle equi-join), no Python evaluation (all JVM
    built-ins), and no broadcast hint on the candidate-derived drop set
    (same rule as the verify family — AQE decides)."""
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    ts = dedup.token_survivorship(docs)
    plan = plan_of(ts, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only hints are the bounded hot-shingle caps INHERITED from
    # ngram_jaccard_pairs — the survivorship op itself adds none (its
    # candidate-derived drop-set join is unhinted, AQE decides)
    hints = ts._jdf.queryExecution().analyzed().toString().count("ResolvedHint")
    base = (
        dedup.ngram_jaccard_pairs(docs)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
        .count("ResolvedHint")
    )
    assert hints == base
    dedup.release_caches()


def test_quantile_sketch_contract_is_one_aggregate(spark):
    """The sketch contract is ONE hash aggregate to |groups| rows — no
    window, no join, a single group-key exchange; both the exact envelope
    and the sketch ride the same partial/final aggregation."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import scoring, text

    d = read_table(spark, SF_DIR, "documents")
    scored = text.quality_score(d, keep_cols=["source"])
    out = scoring.quantile_sketch_contract(scored, "quality", "source")
    plan = plan_of(out, "simple")
    assert "Join" not in plan and "Window" not in plan
    n = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n <= 1, plan
    assert plan.count("Scan parquet") == 1


def test_dedup_provenance_and_mix_weights_plan_shape(spark):
    """Provenance: one digest window + the bucketed pair pipeline, no
    cartesian, no Python eval, no hints beyond ngram_jaccard_pairs' own
    bounded hot-shingle caps.  Mix weights: the budget scalar rides ONE
    explicitly-broadcast 1-row frame; no sort-merge join anywhere in the
    |sources|-row tail."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import corpus, dedup

    docs = read_table(spark, SF_DIR, "documents")
    prov = dedup.dedup_provenance(docs)
    plan = plan_of(prov, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    surv = dedup.token_survivorship(docs)
    mw = corpus.post_dedup_mix_weights(
        surv, {f"src{i}": (i + 1) / 210 for i in range(20)}
    )
    plan = plan_of(mw, "simple")
    assert "CartesianProduct" not in plan
    # the scalar budget crossJoin must be a broadcast nested-loop of a
    # 1-row frame, never a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in plan
    dedup.release_caches()


def test_spread_small_scan_hash_repartition_no_presort(spark):
    """r14 spread rewrite: the small-scan spread must plan a deterministic
    hashpartitioning exchange (hash of the row's columns), NOT round-robin —
    every keyless repartition(n) pays a local Sort of its input
    (spark.sql.execution.sortBeforeRepartition) so retried tasks reproduce
    their placement; the deterministic column hash needs no such sort and
    the pre-sort dominated the spread cost (lineitem sf0.1: 0.86 s vs
    0.18 s on a 0.95 s scan)."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table, spread_small_scan

    li = read_table(spark, SF_DIR, "lineitem")
    # force the fire path regardless of the session's core count
    cores = spark.sparkContext.defaultParallelism
    spread = li.repartition(
        cores, F.xxhash64(*[F.col(c) for c in li.columns])
    )
    detail = plan_of(spread)
    assert "hashpartitioning(xxhash64" in detail
    assert "roundrobin" not in detail.lower()
    # no Sort node anywhere: the hash spread is sort-free by construction
    assert "Sort " not in plan_of(spread, "simple")
    # and the library helper produces the same shape when it fires
    fired = spread_small_scan(li)
    if "Exchange" in plan_of(fired, "simple"):
        d = plan_of(fired)
        assert "hashpartitioning(xxhash64" in d
        assert "roundrobin" not in d.lower()


def test_pair_engines_persist_shared_shingle_base(spark):
    """r14 recompute cuts: relations consumed by BOTH the signature/hot
    aggregate and a verify/anti-join path must be persisted so the
    scan+explode producer runs once — visible as InMemoryRelation nodes in
    the plan and as registered intra-query caches (released afterwards).
    The LSH engines fold the verify sets into the signature aggregate, so
    there the shingle relation has one reader and only that aggregate is
    cached."""
    from pyspark.sql import functions as F

    from spark_auto_schema import _cache
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents")
    half = docs.where(F.col("doc_id") % 2 == 0)
    other = docs.where(F.col("doc_id") % 2 == 1)

    dedup.release_caches()
    out = dedup.incremental_near_dedup(
        half, other, verify_threshold=0.5, md5_grade=True
    )
    # the shingle relation of each side has one reader, the fused
    # signature+set aggregate, so the scan+explode runs once by
    # construction; the one cached frame per side is that aggregate,
    # read by the band buckets and by the set join
    assert len(_cache._CACHED) == 2
    assert all(
        df.columns[:2] == ["id", "h0"] and "set" in df.columns
        for df, _ in _cache._CACHED
    )
    plan = plan_of(out, "simple")
    assert "InMemoryTableScan" in plan
    n = out.count()
    dedup.release_caches()
    assert not _cache._CACHED

    # the returned pair set is under the driver budget, so it is local;
    # the lazy pair plan that computed it reads the one cached frame
    out2 = dedup.minhash_lsh_pairs_md5(half, verify_threshold=0.5)
    assert len(_cache._CACHED) == 1  # the signature+set aggregate
    assert "LocalTableScan" in plan_of(out2, "simple")
    dedup.release_caches()
    lazy = dedup._lsh_plan(half, "text", "doc_id", 16, 4, 3, 0.5, md5_grade=True)
    assert len(_cache._CACHED) == 1  # the signature+set aggregate
    assert all(
        df.columns[:2] == ["id", "h0"] and "set" in df.columns
        for df, _ in _cache._CACHED
    )
    assert "InMemoryTableScan" in plan_of(lazy, "simple")
    assert lazy.count() == out2.count()
    dedup.release_caches()

    # capped engine: the pre-cap relation (hot aggregate + anti-join input)
    # and the capped relation (sizes + both self-join sides) are both cached
    out3 = dedup.ngram_jaccard_pairs(half, threshold=0.0, max_df=10)
    assert len(_cache._CACHED) >= 2
    out3.count()
    dedup.release_caches()


def test_prepare_corpus_index_single_shingle_pipeline(spark):
    """prepare_corpus_index's two outputs (band buckets + verify sets)
    must share ONE persisted aggregate — the non-md5 verify sets are
    built by the signature groupBy itself (xxhash64 per shingle), never
    by a second corpus-wide scan+explode."""
    from pyspark.sql import functions as F

    from spark_auto_schema import _cache
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents").limit(200)

    dedup.release_caches()
    buckets, verify_sh = dedup.prepare_corpus_index(docs)
    # exactly the one shared signature+set aggregate is cached
    assert len(_cache._CACHED) == 1
    assert "InMemoryTableScan" in plan_of(buckets, "simple")
    assert "InMemoryTableScan" in plan_of(verify_sh, "simple")

    # value identity: the verify sets equal the hashed shingles collected
    # per doc (set order is not part of the value)
    twin = (
        dedup.shingles(docs, hashed=True)
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("set"))
    )
    got = verify_sh.select("id", F.array_sort("set").alias("set"))
    twin = twin.select("id", F.array_sort("set").alias("set"))
    assert got.exceptAll(twin).count() == 0
    assert twin.exceptAll(got).count() == 0
    dedup.release_caches()
    assert not _cache._CACHED


def test_jaccard_tail_carries_sizes_through_pair_agg(spark):
    """r14: the pair tail of _jaccard_from_shingles must NOT re-join the
    pair relation against the per-id sizes after the pair aggregate —
    sizes ride the shingle rows into the aggregation via one enrichment
    join placed BEFORE the self-join, and the same holds for the
    containment and cross-relation variants."""
    from pyspark.sql import functions as F

    from spark_auto_schema import _cache
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    docs = read_table(spark, SF_DIR, "documents").limit(300)

    dedup.release_caches()
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_df=100)
    plan = plan_of(out, "simple")
    # nothing but filter/projection sits ABOVE the pair aggregate: the
    # sizes were carried through it (min(sz) agg functions), so the two
    # former post-aggregate size joins are gone.  (Join counts over the
    # whole text are meaningless here — cached subtrees print inline
    # repeatedly — so pin the tree segment above the aggregate instead.)
    lines = plan.splitlines()
    agg_idx = next(
        i
        for i, ln in enumerate(lines)
        if "HashAggregate" in ln and "min(sz" in ln
    )
    head = "\n".join(lines[:agg_idx])
    assert "Join" not in head, head
    assert "min(sz" in lines[agg_idx]

    # value identity against the replaced two-join tail, rebuilt inline
    sh = dedup.shingles(docs, hashed=True)
    pre = _cache.persist(sh)
    hot = (
        pre.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > 100)
        .select("shingle")
    )
    capped = _cache.persist(
        pre.join(F.broadcast(hot), on="shingle", how="left_anti")
    )
    sizes = capped.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = capped.alias("a"), capped.alias("b")
    inter = (
        a.join(b, on="shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    ref = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                (
                    F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                ).cast("decimal(18,12)"),
                4,
            ).cast("double"),
        )
        .where(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "jaccard")
    )
    assert out.exceptAll(ref).count() == 0
    assert ref.exceptAll(out).count() == 0
    dedup.release_caches()


def test_word_ngrams_are_one_regex_not_a_lambda(spark):
    # word n-grams come from one compiled regexp_extract_all; a per-element
    # transform(sequence, i -> concat_ws(slice)) lambda must not come back
    from spark_auto_schema.ops import dedup, text

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for out in (
        dedup.shingles(df),
        text.repetition_ratio(df),
        dedup.contamination_ngram_sweep(df, df, ns=(2, 3)),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "regexp_extract_all" in plan
        assert "lambdafunction" not in plan
    dedup.release_caches()
