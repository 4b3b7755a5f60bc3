"""Scaling-exponent probe: does each operator family scale ~linearly when
the data grows 10x?

The per-round bench (sf0.1) can prove an operator correct and fast at one
scale but cannot see a hidden quadratic — a bucketed-LSH family whose
bucket keys are too coarse, a contract whose truth side is all-pairs, a
join that degenerates on replica structure.  This probe materializes an
sf1-equivalent corpus (10x sf0.1) with structure-preserving perturbations,
times a representative per-family query subset at BOTH scales through the
same generator (so file encodings are identical and the ratio isolates
data volume), and reports the log-slope  log(t_10x / t_1x) / log(10)  per
query and per family.  Slope ~1.0 = linear, ~2.0 = quadratic; anything
family-median >~1.5 is a scaling bug the sf0.1 bench can't see.

Perturbations (replica i of R):
* documents — every whitespace token gets an ``_r{i}`` suffix for i>0, so
  shingle sets are DISJOINT across replicas: within-replica near-dup
  structure is preserved exactly and total dup pairs scale linearly (naive
  replication would give every doc R-1 exact clones and inflate pair
  counts quadratically, masking the real slope).
* embeddings — deterministic per-(row, dim, replica) sinusoidal jitter
  (amplitude 0.05) decorrelates replicas so cosine near-dup structure does
  not explode; ids offset per replica.
* lineitem / events — key columns offset per replica, values unchanged
  (inference probes value distributions, which stay identical).
* dimension tables — copied unscaled (TPC-H semantics: nation/region etc.
  do not grow with scale factor).

Usage: python tools/scaling_probe.py [out.json]
Env: SCALE_REPLICAS (default 10), SCALE_BASE_DIR (default /tmp/scale_probe),
     SPARK_GRAFT_SF_DIR (source, default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SCALE_REPS (default 2, min-of-N timing).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Representative production-shaped queries per family.  Deliberately
# excluded: verification contracts whose truth side is all-pairs BY DESIGN
# (simhash_pigeonhole_check, minhash_dup_pairs' exact-Jaccard side,
# simhash_determinism's double signature job) — their cost is the contract,
# not the operator, and they are sampled/bounded in-query.
PROBES: dict[str, list[str]] = {
    "dedup": [
        # round-9: paragraph-level MinHash — |segments| keys scale with
        # corpus words; pair space must stay bucket-local
        "paragraph_minhash_pairs",
        # round-14: paragraph provenance — one segment-digest window +
        # the segment MinHash pair engine over exact survivors + a
        # pair-sized attribution joined back; must track
        # paragraph_minhash_pairs' |segments|-linear slope
        "paragraph_provenance_docs",
        # round-10: two contamination_check passes + a hits-sized diff
        # join; must track the corpus shingle volume, never probe x corpus
        "contamination_snapshot_diff",
        # round-10: signature/banding stages + (band, bucket) count — the
        # pre-join occupancy meter must itself stay join-free linear
        "minhash_band_occupancy",
        # round-10: truth (shingle equi-join) + banding candidates +
        # pair-sized overlay; slope must track the two production
        # pipelines it overlays, never a bins x corpus blowup
        "lsh_empirical_detection",
        # round-10: one pair pipeline at the loosest cut + broadcast
        # |thresholds|-row inequality rollups; must track the pair
        # pipeline, never |thresholds| x corpus
        "dedup_threshold_sweep",
        "dedup_exact",
        "ngram_jaccard_dups",
        "simhash_near_dup",
        "incremental_dedup",
        # session-3: same shingle-equi-join engine as Jaccard but with the
        # asymmetric denominator — must inherit the same slope
        "containment_docs",
        # session-5: the bloom bit-set saturates (<=2^18 rows) while the
        # batch and corpus grow 10x — the probe must show the prune+verify
        # staying linear, not the filter degenerating to verify-everything
        "bloom_incremental_dedup",
        # session-5: CDC chunking — token explode + per-doc cumulative
        # window + (doc, chunk) aggregate; all per-document, so the slope
        # must track the token volume, never the chunk-pair space
        "cdc_dedup_stats",
        # round-7: boilerplate removal — digest-keyed doc-frequency agg +
        # flag join share one shuffle key; replica-disjoint segments grow
        # the digest space 10x with the corpus, the harder case
        "remove_boilerplate_docs",
        # round-8: token-window rolling-hash substring dedup — row-local
        # window generation, one fingerprint exchange, island rollups on
        # the id partitioning; replica docs grow position volume 10x and
        # the slope must track it (no pair space exists to explode)
        "token_window_dedup_docs",
        # round-8: memorization audit — same fingerprint aggregate + a
        # TakeOrdered top-k and a broadcast rejoin; slope must track the
        # position volume like the coverage op
        "top_repeated_substrings",
        # round-8: syndication matrix — ONE digest aggregate with
        # bounded collect_set state + row-local pair expansion; replica
        # suffixes grow the digest space 10x, the aggregate must absorb it
        "syndication_matrix",
        # round-8: dedup survivorship — one digest-partition window + one
        # source aggregate; the winner window must track the digest
        # volume, never pair anything
        "dedup_loss_by_source",
        # round-11: per-source dedup-rate drift — two survivorship windows
        # + a |sources|-row compare; must inherit dedup_loss_by_source's slope
        "dedup_rate_drift_sources",
        # round-12: token survivorship — the dedup_loss_by_source digest
        # window + the ngram_jaccard shingle equi-join over exact
        # survivors + one source aggregate; slope must track the pair
        # pipeline (replica-disjoint shingles keep it bucket-local),
        # never survivors x survivors
        "dedup_token_survivorship",
        # round-12: per-doc provenance — the same pipeline projected to
        # doc granularity + a pair-sized min-partner aggregate; must
        # inherit token_survivorship's slope exactly
        "dedup_provenance_docs",
        # round-11: span extraction — window-hash agg + h-keyed flag join +
        # per-doc islands; replica suffixes keep dup structure within-replica,
        # so flagged-window volume (and spans) scale linearly
        "dup_spans",
        # round-11: n-gram-size sweep — |ns| in-scan gram passes against a
        # broadcast eval set; must track the train gram volume per n
        "contamination_ngram_sweep",
        # round-11: banding-shape sweep — ONE signature pass + one tagged
        # (cfg,band,bucket) self-join + one union verify; must track the
        # md5 signature volume like minhash_md5_dup_pairs, never cfg x corpus
        "lsh_config_sweep",
    ],
    "similarity": [
        "embedding_topk",
        "ann_lsh_topk",
        "ivf_topk",
        # session-3: row-local literal-matrix fold — must be flat-linear
        "jl_projection",
        # round-8: topic shares — zero-shuffle literal-centroid assignment
        # + k-row aggregate; must be flat-linear like jl_projection
        "topic_share_balance",
        # round-9: recall eval — |corpus| x (|queries| + nlist) broadcast
        # fan-outs + per-query rank windows; must track the corpus scan
        "retrieval_recall_panel",
        # round-10: LSH-path recall eval — signature projections in-scan,
        # bucket-collision candidate fan-out + salted two-phase ranks;
        # must track the corpus scan like the IVF panel
        "lsh_recall_panel",
        # round-10: quantized-search eval — one posexplode + d-row
        # broadcast + id-keyed reassembly, then the same panel fan-outs;
        # must track the corpus scan, never d x corpus x panel
        "quantized_recall_panel",
        # round-11: SemDeDup pressure curve — one cluster-local pair set at
        # the loosest cut + |thresholds| rollups; must track semantic_dedup's
        # cluster-quadratic term, never |thresholds| x corpus
        "semantic_threshold_sweep",
        # round-11: nprobe sweep — one assignment pass + one persisted
        # candidate fan-out, rank-filtered per sweep value; must track the
        # corpus scan like the recall panels
        "ivf_nprobe_sweep",
        # round-12: the suggest_nlist composition — nlist grows with the
        # corpus (ceil(n/63)), so the cluster-local pair term must stay
        # ~linear (the 0.73-slope config-scaled regime; contrast the
        # pinned-nlist semantic_dedup exclusion note below)
        "semantic_dedup_scaled",
        # round-13: snapshot topic-share diff — two path-selected
        # assignment scans + k-row aggregates/join; must be flat-linear
        # like topic_share_balance
        "topic_share_drift",
        # round-13: quantized-assignment agreement — the quantize
        # dataflow (explode + d-row broadcast + id reassembly) + two
        # assignment scans + one id equi-join + k-row agg; must track
        # the quantize/assign scans, never anything pairwise
        "quantized_assign_agreement",
        # round-13: the broadcast-join assignment path driver anchor —
        # n x 300 BNLJ fan-out + one id-keyed min(struct) aggregate;
        # must track the corpus scan (the fan-out is arithmetic, not
        # shuffle)
        "centroid_assign_join",
        # round-14: the two-level pruned assignment driver anchor — the
        # 1540-centroid codebook is a CONSTANT, so coarse (n x 40) and
        # refine (n x 10 x 39) fan-outs are both per-row arithmetic;
        # must be flat-linear in the corpus like centroid_assign_join
        "centroid_assign_two_level",
        # round-14: the probe pressure curve — ONE persisted n x k scored
        # fan-out + |probes| filtered argmin aggregates; must track the
        # fan-out scan, never |probes| x corpus re-assignment runs
        "two_level_probe_sweep",
        # round-11: rerank harness — pool build (bm25 + cosine top-k) is the
        # corpus-sized part, rerank itself is k-sized; must track the
        # retrievers' scans
        "rerank_cross_encoder",
    ],
    "inference": ["infer_lineitem", "infer_events", "infer_documents"],
    "text": [
        "text_stats",
        "token_count",
        "fingerprint_docs",
        # round-10: per-(source, snapshot) exact-percentile grids + a
        # |groups|-row compare; must track the score scan, with per-group
        # percentile buffers the only stateful part
        "quality_drift_sources",
        # round-12: the sketch-contract twin — ONE aggregate carrying the
        # exact envelope AND the GK sketch side by side; must be
        # flat-linear like any single hash aggregate (per-group sketch
        # state is O(accuracy), independent of n)
        "quality_drift_approx_ok",
        # round-10: chunk relation + per-doc reassembly aggregate + token
        # stream join; must track chunk volume (docs x chunks/doc)
        "chunk_reconstruction_check",
        # session-3: bigram model shuffles carry the vocabulary; replica
        # token suffixes grow the vocab 10x too — the harder case
        "bigram_logprob_docs",
        # session-4: the (grp, tok) count state grows with the vocab, which
        # the replica token suffixes grow 10x — the harder case
        "token_entropy_sources",
        # session-5: BM25 — replica suffixes make the r0 query terms match
        # only 1/10th of the grown corpus, but dl/avgdl still scan it all;
        # the tf slice and TakeOrdered must keep the slope ~1
        "bm25_topk_docs",
        # round-7: document-level PMI — the pair space is quadratic in
        # VOCABULARY by design, and replica token suffixes grow the raw
        # vocab 10x while the min_count floor admits only terms that stay
        # frequent; the probe verifies the cap (not the corpus) bounds the
        # per-doc fan-out, i.e. the slope tracks the token scan
        "cooccurrence_pmi_docs",
        # round-8: shuffle-free per-row projections (translate/regexp
        # chains) + single group aggregates — all must be flat-linear
        "nfkc_normalize_docs",
        "url_domain_rollup",
        "tokenizer_fertility_sources",
        # round-8: Zipf fit — wordcount shuffle + vocab-frame rank window;
        # replica token suffixes grow the vocab 10x, the harder case
        "zipf_slope_sources",
        # round-8: confusion matrix — regexp-count projection + |langs|^2
        # aggregate; must be flat-linear like lang_id's family peers
        "lang_confusion_docs",
        # round-9: PII rollup — two regexp_count projections + one
        # |sources|-row aggregate; must be flat-linear
        "pii_density_sources",
        # round-9: LM KL drift — one wordcount shuffle + vocab-sized join
        # + closed-form per-source scalars; replica token suffixes grow
        # the vocab 10x, the harder case
        "lm_kl_sources",
        # round-9: snapshot KL — two wordcounts + vocab-sized full-outer
        # union frame; same 10x-vocab hard case
        "lm_kl_snapshots",
    ],
    # round-6 additions: event-log behavioral analytics (scale with events;
    # replica-offset user ids also grow the user dim 10x, the harder case)
    "analytics": [
        "user_retention_cohorts",
        "event_funnel",
        "value_histogram",
        "zscore_outliers",
        # session-2: per-user burst islands (window family — scales with
        # events; replica-offset user ids grow the key space 10x too)
        "burst_collapse_events",
        # round-9: recency weighting — per-row decay expression + 1-row
        # broadcast reference + |types|-row aggregate; must be flat-linear
        "recency_weights_events",
        # round-7: per-key winsorization — the |keys|-row band table is a
        # hash aggregate broadcast back onto the unshuffled fact stream;
        # replica-grown event volume AND key space must both leave the
        # slope linear (facts never shuffle)
        "winsorize_events",
        # round-7: MAD robust outliers — two |keys|-row exact-percentile
        # stat aggregates broadcast back; keys grow 10x with events
        "mad_outliers_events",
        # round-7: equi-depth histogram — ONE interpolating percentile
        # aggregate + row-local edge binning; must stay flat-linear with
        # no hidden sort as the value volume grows
        "equidepth_histogram_events",
    ],
    # round-6 curation batch: the leakage-safe split and canonical
    # survivors re-run the full shingle->LSH->closure pipeline (the
    # replica-disjoint shingle design keeps pair counts linear, so a
    # super-linear slope here implicates the operators, not the data);
    # group-quantile/HLL scale with events, zorder with lineitem.
    "curation": [
        # round-12: post-dedup mixture realization — the survivorship
        # pipeline + a |sources|-row share/budget tail; must inherit the
        # survivorship slope (the tail is constant-size)
        "mix_weights_post_dedup",
        # round-11: curriculum bands — one percentile agg + in-scan
        # assignment + |phases|-row rollup; must be flat-linear
        "curriculum_phases",
        # round-9: DSIR — one persisted feature pass, bucket-model
        # broadcast, TakeOrdered cut; replica token suffixes grow the raw
        # feature space 10x while the bucket space stays 1024
        "dsir_sample_docs",
        "leakage_safe_split",
        "canonical_docs",
        "group_quantile_filter",
        "hll_sharded_uniques",
        "zorder_roundtrip",
        "binary_hamming_topk",
        "pipeline_end_to_end",
        # session-2: domain capping — the split design (only over-cap
        # domains pay the window) is exactly what this probe must verify
        "domain_cap_docs",
        # round-10: canonicalize (in-scan regexp chain) -> registered
        # domain -> cap; slope must track the scan + the skewed domain's
        # window, never a global sort
        "domain_cap_psl_audit",
        # session-5: FIM is a pure projection (slope ~1 at worst);
        # contrastive negatives join a broadcast 64-row representative
        # table, so the slope must track the corpus scan, not any
        # anchor x corpus pair space
        "fim_transform_docs",
        "contrastive_negatives",
        # round-7: split assignments are row-local md5 draws (kfold) or
        # two-literal predicates (embargo) — both must be flat scans with
        # zero shuffle at any scale; length bucketing is a literal-array
        # fold + one bucket-key agg
        "kfold_split_docs",
        "time_embargo_split_events",
        "length_buckets_docs",
    ],
    # final round-6 batch: PSI drift and the SCD2 as-of lookup both scale
    # with events (the lookup's dim also grows — every 10th event — so the
    # join is stressed on BOTH sides).
    "monitoring": [
        # round-9: stateful first-seen digest stream + complete-mode window
        # totals; state is O(distinct digests), emission O(novel)
        "streaming_novelty_monitor",
        # round-12: late-data accounting — two plain windowed aggregations
        # over the 4-drop replay (admitted + total); state is O(windows),
        # slope must track the event volume like any windowed count
        "streaming_late_audit",
        # round-13: the alert layer over the same two drains + O(windows)
        # foreachBatch collects — must inherit the audit's flat slope
        "streaming_late_alert",
        # round-13: lateness-mix profile — per batch one scalar max agg +
        # one count agg, NO state store; slope must track the event
        # volume with the stream's fixed per-batch cost on top
        "streaming_lateness_profile",
        # round-13: topic drift monitor — per batch one assignment scan +
        # a k-row collect over the 4-block embedding replay; the frozen
        # baseline is never rescanned, so the slope must track the
        # embedding volume only
        "streaming_topic_drift",
        "psi_drift_events",
        "scd2_lookup_events",
        # session-3: KS shares PSI's binning; rank_transform is the
        # per-key window (key space grows 10x with replica-offset users);
        # the interval join's bucket equi-join scales with events on both
        # derived sides; the correlation matrix is a 1-row co-moment agg
        # over lineitem
        "ks_drift_events",
        "rank_transform_events",
        "interval_overlap_sessions",
        "correlation_matrix_lineitem",
        # session-4: conversation assembly is the sessionize window + a
        # shuffle-reusing groupBy whose per-key state is the session's
        # turn list; events AND the user key space both grow 10x
        "conversation_assembly_events",
        # session-5: pagerank's edge derivation scales with events while
        # its iteration runs on the aggregated graph, so the slope must
        # track the lag window, not the joins; kappa is a 1-row confusion
        # aggregate over documents.  dq_expectations_orders is excluded
        # with the other orders-derived queries (copied table).
        "pagerank_event_types",
        "labeler_kappa_docs",
        # round-7: quantile normalization — the rank window partitions by
        # group (source) and the global grid is ONE broadcast aggregate
        # row; docs grow 10x with sources fixed, so per-group window state
        # grows linearly and the slope must track the scan, not a sort
        "quantile_normalize_docs",
    ],
    # scd2_order_status is deliberately absent: its dimension derives from
    # orders, a COPIED (unscaled) table here, so its ratio would measure
    # nothing.  Same for key_suggestions / fk_profile / csv_quarantine /
    # table_checksum_orders (orders-derived).  semantic_dedup is absent because the driver query
    # pins nlist=16 for oracle replay: at fixed nlist the cluster-local
    # pair join is quadratic BY DESIGN (the SemDeDup paper's own knob is
    # nlist ∝ corpus — ~n/nlist members per cluster), so the probe would
    # measure the pinned model parameter, not the dataflow.
}

SCALED_TABLES = ("documents", "embeddings", "lineitem", "events")
COPIED_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
)


def _build_dir(spark, src: str, out: str, replicas: int) -> None:
    """Materialize a {replicas}x corpus at ``out`` through Spark writes.

    BOTH scales (1x and Rx) go through this writer so parquet encodings
    (timestamp unit, compression, row-group layout) are identical and the
    timing ratio isolates data volume."""
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table

    os.makedirs(out, exist_ok=True)
    for t in COPIED_TABLES:
        shutil.copyfile(f"{src}/{t}.parquet", f"{out}/{t}.parquet")

    def replicate(name: str, per_replica):
        base = read_table(spark, src, name)
        parts = [per_replica(base, i) for i in range(replicas)]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # one flat dir per table; read_table expects <dir>/<name>.parquet
        tmp = f"{out}/_{name}_dir"
        df.write.mode("overwrite").parquet(tmp)
        files = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        if len(files) == 1:
            shutil.move(f"{tmp}/{files[0]}", f"{out}/{name}.parquet")
            shutil.rmtree(tmp)
        else:  # multi-part: keep as directory named <name>.parquet
            dst = f"{out}/{name}.parquet"
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            shutil.move(tmp, dst)

    def docs_replica(df, i):
        off = F.lit(i * 10_000_000)
        if i == 0:
            return df
        text = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda x: F.concat(x, F.lit(f"_r{i}")),
            ),
            " ",
        )
        return df.select(
            (F.col("doc_id") + off).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).cast("long").alias("n_chars"),
        )

    def emb_replica(df, i):
        off = F.lit(i * 10_000_000)
        if i == 0:
            return df
        jitter = F.transform(
            F.col("embedding"),
            lambda x, j: (
                x
                + F.lit(0.05)
                * F.sin(
                    (F.pmod(F.col("vec_id"), F.lit(997)) + F.lit(1.0))
                    * (j.cast("double") + F.lit(1.0))
                    * F.lit(float(i))
                )
            ).cast("float"),
        )
        return df.select(
            (F.col("vec_id") + off).alias("vec_id"),
            jitter.alias("embedding"),
            "label",
        )

    def lineitem_replica(df, i):
        return df.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000)
        )

    def events_replica(df, i):
        return df.withColumn(
            "event_id", F.col("event_id") + F.lit(i * 100_000_000)
        )

    replicate("documents", docs_replica)
    replicate("embeddings", emb_replica)
    replicate("lineitem", lineitem_replica)
    replicate("events", events_replica)


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from spark_auto_schema import release_caches

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    replicas = int(os.environ.get("SCALE_REPLICAS", "10"))
    reps = max(1, int(os.environ.get("SCALE_REPS", "2")))
    base = os.environ.get("SCALE_BASE_DIR", "/tmp/scale_probe")
    out_path = sys.argv[1] if len(sys.argv) > 1 else "tools/scaling_probe_results.json"

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scaling-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {}
    for n in (1, replicas):
        d = f"{base}/x{n}"
        marker = f"{d}/.complete_{n}"
        if not os.path.exists(marker):
            print(f"building {n}x corpus at {d} ...", file=sys.stderr)
            _build_dir(spark, src, d, n)
            Path(marker).touch()
        dirs[n] = d

    queries = entrymod.queries()
    # SCALE_ONLY=a,b,c probes just those entries and MERGES into the
    # existing results file (incremental refresh for newly added ops)
    only = {s for s in os.environ.get("SCALE_ONLY", "").split(",") if s}
    results: dict[str, dict] = {}
    if only and os.path.exists(out_path):
        results = json.loads(Path(out_path).read_text()).get("queries", {})
    for family, names in PROBES.items():
        for name in names:
            if only and name not in only:
                continue
            fn = queries[name]
            times = {}
            for n, d in dirs.items():
                samples = []
                for _ in range(reps):
                    t0 = time.perf_counter()
                    rows = len(fn(spark, d).collect())
                    samples.append(time.perf_counter() - t0)
                    release_caches()
                times[n] = min(samples)
                print(
                    f"  {name} @x{n}: {times[n]:.2f}s ({rows} rows)",
                    file=sys.stderr,
                )
            slope = math.log(times[replicas] / times[1]) / math.log(replicas)
            results[name] = {
                "family": family,
                "t_1x_sec": round(times[1], 3),
                f"t_{replicas}x_sec": round(times[replicas], 3),
                "log_slope": round(slope, 3),
            }
    spark.stop()

    fam_slopes = {
        fam: round(
            sorted(results[n]["log_slope"] for n in names if n in results)[
                sum(1 for n in names if n in results) // 2
            ],
            3,
        )
        for fam, names in PROBES.items()
        if any(n in results for n in names)
    }
    extra = {}
    if os.path.exists(out_path):
        prior = json.loads(Path(out_path).read_text())
        extra = {
            k: v
            for k, v in prior.items()
            if k
            not in (
                "replicas",
                "reps",
                "source",
                "family_median_log_slope",
                "queries",
            )
        }
    payload = {
        **extra,
        "replicas": replicas,
        "reps": reps,
        "source": src,
        "family_median_log_slope": fam_slopes,
        "queries": results,
    }
    Path(out_path).write_text(json.dumps(payload, indent=1) + "\n")
    print(json.dumps(payload, indent=1))


if __name__ == "__main__":
    main()
