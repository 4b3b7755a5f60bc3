"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload drift_check --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The run sets up ``SETUP_ROUNDS`` times
(Spark session, seeded inputs, catalog, one warm-up op), then runs ops in
a closed loop until their summed time reaches ``--seconds``, checking each
op's output after its timer stops.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` interleaves traced and plain ops and prints the
per-layer metrics.  The last line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

Inputs, the Spark warehouse and Spark's scratch space live under
``.perfbench_work/`` in the checkout and are removed at exit; the span
dump of a traced run stays in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_ROUNDS = 2
WORKLOAD_NAMES = ("drift_check", "near_dup_curation")

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s",
    "input_rows_per_s": "rows/s", "peak_rss_mb": "MB", "planted_recall": "ratio",
}
PER_LAYER = {
    "session.build_session_s": "s",
    "io.load_file_s": "s", "io.load_file_jobs": "count",
    "inference.infer_table_schema_s": "s", "inference.jobs": "count",
    "inference.tasks": "count",
    "ddl.generate_s": "s",
    "catalog.deployed_schema_df_s": "s",
    "diff.evaluate_diffs_s": "s", "diff.missing_columns_s": "s", "diff.jobs": "count",
    "core.jobs_per_op": "count", "core.tasks_per_op": "count",
    "core.failed_tasks_per_op": "count",
    "dedup.hash_dedup_s": "s", "dedup.shingles_s": "s",
    "dedup.minhash_signatures_s": "s", "dedup.lsh_candidates_s": "s",
    "dedup.verify_s": "s", "dedup.dedup_clusters_s": "s",
    "dedup.release_caches_s": "s",
    "dedup.shingle_rows": "count", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.cluster_rows": "count",
    "dedup.verify_yield": "ratio",
    "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pids: list[int]) -> float:
    """Summed ``VmHWM`` (peak resident set) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One run of one workload: set-up rounds, the op loop, the metrics."""

    def __init__(self, args: argparse.Namespace) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.n = nproc()
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.workload = WORKLOADS[args.workload](args.seed, self.n)
        self.spark = None
        self.tracer = None
        self.attempted = self.failed = 0
        self.setup_s: list[float] = []

    def conf(self, round_dir: Path) -> dict[str, str]:
        return {
            "spark.sql.shuffle.partitions": str(self.n),
            "spark.sql.warehouse.dir": str(round_dir / "warehouse"),
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }

    # ----------------------------------------------------------- set-up
    def setup_round(self, r: int) -> None:
        from spark_auto_schema import session

        if self.spark is not None:
            self.spark.stop()
            shutil.rmtree(self.work / f"round{r - 1}", ignore_errors=True)
        round_dir = self.work / f"round{r}"
        start = time.perf_counter()
        spark = session.build_session(
            "local", "perfbench", f"local[{self.n}]", self.conf(round_dir))
        built = time.perf_counter()
        if self.tracer is not None:
            self.tracer.sc = spark.sparkContext
            self.tracer.record("session.build_session", start, built)
        spark.sparkContext.setLogLevel("ERROR")
        self.workload.setup(spark, round_dir)
        out = self.attempt(spark, 0, self.workload.op)
        self.setup_s.append(time.perf_counter() - start)
        self.spark = spark
        self.verify(0, out)

    def attempt(self, spark, i: int, fn, *extra):
        """Run op ``i``; an exception counts as a failed op."""
        self.attempted += 1
        try:
            return fn(spark, i, *extra)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None

    def verify(self, i: int, out) -> bool:
        if out is None:
            return False
        errors = self.workload.check(i, out)
        if errors:
            self.failed += 1
            print(f"op {i} wrong: {errors[:3]}", file=sys.stderr)
        return not errors

    # -------------------------------------------------------- op loops
    def measure(self) -> dict:
        op_s, ok_rows, ok_ops, i = [], 0, 0, 1
        while sum(op_s) < self.args.seconds:
            start = time.perf_counter()
            out = self.attempt(self.spark, i, self.workload.op)
            op_s.append(time.perf_counter() - start)
            if self.verify(i, out):
                ok_ops += 1
                ok_rows += self.workload.rows(i)
            i += 1
        busy = sum(op_s)
        w = self.workload
        return {
            "setup_s": median(self.setup_s),
            "op_p50_s": median(op_s),
            "ops_per_s": ok_ops / busy,
            "input_rows_per_s": ok_rows / busy,
            "peak_rss_mb": peak_rss_mb([os.getpid(), self.jvm_pid()]),
            "planted_recall": w.found / w.planted if w.planted else 0.0,
            "_ops": len(op_s),
        }

    def measure_traced(self) -> dict:
        """Alternate a plain op (under one job group, for the per-op job
        counts) with the traced op on the same input, until the two
        together reach ``--seconds``."""
        from spans import job_counts

        sc = self.spark.sparkContext
        tracer = self.tracer
        plain_s, traced_s, per_op, i = [], [], [], 1
        while sum(plain_s) + sum(traced_s) < self.args.seconds:
            # which of the two goes first alternates, so that neither
            # always meets the input cold
            for traced in ((False, True) if i % 2 else (True, False)):
                if traced:
                    first = len(tracer.spans)
                    tracer.op, tracer.counts = i, {}
                    start = time.perf_counter()
                    out = self.attempt(self.spark, i, self.workload.traced_op, tracer)
                    tracer.count_jobs(first)
                    traced_s.append(time.perf_counter() - start)
                    tracer.op = None
                    self.verify(i, out)
                    layer = layer_metrics(tracer.spans[first:], tracer.counts)
                else:
                    group = f"perfbench-op-{i}"
                    sc.setJobGroup(group, "plain op")
                    start = time.perf_counter()
                    out = self.attempt(self.spark, i, self.workload.op)
                    plain_s.append(time.perf_counter() - start)
                    sc.setJobGroup("perfbench-idle", "")
                    self.verify(i, out)
                    jobs, tasks, failed = job_counts(sc, group)
            layer.update({"core.jobs_per_op": jobs, "core.tasks_per_op": tasks,
                          "core.failed_tasks_per_op": failed})
            per_op.append(layer)
            i += 1
        metrics = {name: median([m.get(name, 0.0) for m in per_op]) for name in PER_LAYER}
        metrics["session.build_session_s"] = median(
            [s.seconds for s in tracer.spans if s.name == "session.build_session"])
        metrics["trace.overhead_s"] = median(traced_s) - median(plain_s)
        metrics["_ops"] = len(plain_s) + len(traced_s)
        return metrics

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    # ------------------------------------------------------- lifecycle
    def record(self) -> dict:
        import pyspark

        conf = dict(self.spark.sparkContext.getConf().getAll())
        conf.update({k: v for k, v in self.spark.conf.getAll.items()
                     if k.startswith("spark.sql.")})
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "nproc": self.n, "python": platform.python_version(),
            "spark": pyspark.__version__,
            "conf": {k: conf[k] for k in sorted(conf)
                     if not k.startswith(("spark.app.", "spark.driver.host",
                                          "spark.driver.port", "spark.executor.id"))},
        }

    def execute(self) -> dict:
        from spans import Tracer

        # scratch space of Python, the JVM and Spark stays in the checkout;
        # SPARK_LOCAL_DIRS, when set, would win over spark.local.dir
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        (self.work / "tmp").mkdir(parents=True, exist_ok=True)
        if self.args.trace:
            self.tracer = Tracer()
        for r in range(SETUP_ROUNDS):
            self.setup_round(r)
        if self.tracer is not None:
            metrics = self.measure_traced()
        else:
            metrics = self.measure()
        record = self.record()
        record["ops"] = metrics.pop("_ops")
        print("record " + json.dumps(record, sort_keys=True))
        if self.tracer is not None:
            dump = ROOT / ".perfbench_work" / "traces" / (
                f"{self.args.workload}-seed{self.args.seed}.jsonl")
            self.tracer.dump(dump, record)
            print(f"spans written to {dump.relative_to(ROOT)}")
        return metrics

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and its Python workers, wait for them."""
        from pyspark import SparkContext

        if self.spark is not None:
            gateway = SparkContext._gateway
            proc = gateway.proc
            below = descendants(proc.pid)
            self.spark.stop()
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            deadline = time.monotonic() + 30
            while below and time.monotonic() < deadline:
                below = [p for p in below if os.path.exists(f"/proc/{p}")]
                time.sleep(0.1)
        shutil.rmtree(self.work, ignore_errors=True)


def layer_metrics(spans, counts: dict) -> dict:
    """Per-layer figures of one traced op from its spans and counts."""
    secs: dict[str, float] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, int] = {}
    for s in spans:
        secs[s.name] = secs.get(s.name, 0.0) + s.seconds
        layer = s.name.split(".")[0]
        jobs[layer] = jobs.get(layer, 0) + s.jobs
        tasks[layer] = tasks.get(layer, 0) + s.tasks
        jobs[s.name] = jobs.get(s.name, 0) + s.jobs
    sig = secs.get("dedup.minhash_signatures+shingles", 0.0)
    cand = secs.get("dedup.lsh_candidates+signatures", 0.0)
    out = {
        "io.load_file_s": secs.get("io.load_file", 0.0),
        "io.load_file_jobs": jobs.get("io.load_file", 0),
        "inference.infer_table_schema_s": secs.get("inference.infer_table_schema", 0.0),
        "inference.jobs": jobs.get("inference", 0),
        "inference.tasks": tasks.get("inference", 0),
        "ddl.generate_s": secs.get("ddl.generate", 0.0),
        "catalog.deployed_schema_df_s": secs.get("catalog.deployed_schema_df", 0.0),
        "diff.evaluate_diffs_s": secs.get("diff.evaluate_diffs", 0.0),
        "diff.missing_columns_s": secs.get("diff.missing_columns", 0.0),
        "diff.jobs": jobs.get("diff", 0),
        "dedup.hash_dedup_s": secs.get("dedup.hash_dedup", 0.0),
        "dedup.shingles_s": secs.get("dedup.shingles", 0.0),
        "dedup.minhash_signatures_s": sig - secs.get("dedup.shingles", 0.0) if sig else 0.0,
        "dedup.lsh_candidates_s": cand - sig if cand else 0.0,
        "dedup.verify_s": (secs["dedup.verify+lsh_candidates"] - cand
                           if "dedup.verify+lsh_candidates" in secs else 0.0),
        "dedup.dedup_clusters_s": secs.get("dedup.dedup_clusters", 0.0),
        "dedup.release_caches_s": secs.get("dedup.release_caches", 0.0),
    }
    for name in ("shingle_rows", "candidate_pairs", "verified_pairs", "cluster_rows"):
        out[f"dedup.{name}"] = counts.get(name, 0)
    if counts.get("candidate_pairs"):
        out["dedup.verify_yield"] = counts["verified_pairs"] / counts["candidate_pairs"]
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "spark_auto_schema" / "__init__.py").is_file():
        print(f"no spark_auto_schema package next to {HERE.name}/: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run = Run(args)
    try:
        metrics = run.execute()
    finally:
        run.shutdown()
    units = PER_LAYER if args.trace else END_TO_END
    for name, unit in units.items():
        print(f"{name:34s} {metrics[name]:>14.6g} {unit}")
    print(f"{'failed_ops_ratio':34s} {run.failed / run.attempted:>14.6g} "
          f"({run.failed} of {run.attempted} ops)")
    w = run.workload
    print(f"{'planted truth found':34s} {w.found} of {w.planted}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
