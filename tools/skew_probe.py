"""Skewed near-dup probe: token_survivorship / dedup_provenance under a
planted ~30% clone rate at 1x and 30x.

The standard 30x probe corpora replicate documents with replica-disjoint
token suffixes, so the near-dup fraction stays at the testdata's natural
(low) rate — the unhinted verify joins' scale story therefore rests on AQE
handling a candidate set that is ~30% of a web corpus, which the standard
probe never exercises (round-12 verdict item 4).  This probe rewrites each
corpus so that within every 10-consecutive-doc-id block, ids ending in 1
and 2 become EXACT clones of the block anchor (id ending in 0) and the id
ending in 3 becomes a NEAR clone (anchor text + one extra token, n-gram
Jaccard >> 0.8) — a deterministic ~30% planted clone rate whose candidate
and drop sets scale linearly with the corpus, i.e. the worst realistic
shape for the digest window, the shingle equi-join, and the unhinted
drop-set joins at once.

Reuses the cached /tmp/scale_probe corpora (run tools/scaling_probe.py
first); writes x{1,30}_skew30 dirs beside them and merges a
"skew30_queries" section into tools/scaling_probe_30x.json.

Usage: python tools/skew_probe.py [out.json]
Env: SCALE_BASE_DIR, SPARK_GRAFT_CPUS, SCALE_REPS as in scaling_probe.py.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = ["dedup_token_survivorship", "dedup_provenance_docs"]


def _build_skew(spark, src_dir: str, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from spark_auto_schema.io import read_table

    docs = read_table(spark, src_dir, "documents")
    mod = F.pmod(F.col("doc_id"), F.lit(10))
    anchors = docs.select(
        F.col("doc_id").alias("__aid"), F.col("text").alias("__atext")
    ).where(F.pmod(F.col("__aid"), F.lit(10)) == 0)
    out = (
        docs.withColumn("__aid", F.col("doc_id") - mod)
        .join(anchors, on="__aid", how="left")
        .select(
            *[c for c in docs.columns if c != "text"],
            F.when(
                mod.isin(1, 2) & F.col("__atext").isNotNull(),
                F.col("__atext"),
            )
            .when(
                (mod == 3) & F.col("__atext").isNotNull(),
                F.concat(F.col("__atext"), F.lit(" zzextra")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    out.coalesce(8).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from spark_auto_schema import release_caches

    base = os.environ.get("SCALE_BASE_DIR", "/tmp/scale_probe")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SCALE_REPS", "2")))
    out_path = sys.argv[1] if len(sys.argv) > 1 else "tools/scaling_probe_30x.json"

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("skew-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {}
    for n in (1, 30):
        src = f"{base}/x{n}"
        if not os.path.isdir(src):
            raise SystemExit(
                f"{src} missing — run tools/scaling_probe.py first"
            )
        d = f"{base}/x{n}_skew30"
        if not os.path.exists(f"{d}/.complete"):
            print(f"building skewed corpus at {d} ...", file=sys.stderr)
            _build_skew(spark, src, d)
            Path(f"{d}/.complete").touch()
        dirs[n] = d

    queries = entrymod.queries()
    results = {}
    for name in QUERIES:
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
            print(f"  {name} @x{n}_skew30: {times[n]:.2f}s ({rows} rows)", file=sys.stderr)
        results[name] = {
            "t_1x_sec": round(times[1], 3),
            "t_30x_sec": round(times[30], 3),
            "log_slope": round(
                math.log(times[30] / times[1]) / math.log(30), 3
            ),
        }
    spark.stop()

    payload = json.loads(Path(out_path).read_text())
    payload["skew30_queries"] = {
        "note": (
            "planted ~30% clone rate (2 exact + 1 near per 10-id block); "
            "candidate/drop sets scale linearly with the corpus — the "
            "unhinted verify-join worst case"
        ),
        **results,
    }
    Path(out_path).write_text(json.dumps(payload, indent=1))
    print(json.dumps(payload["skew30_queries"], indent=1))


if __name__ == "__main__":
    main()
