"""The workloads: seeded set-up, one op, a traced op and the check.

Every workload is a closed loop with one client: the next op starts only
after the previous one has returned and been checked.  An op returns plain
Python data, so the checkers never touch Spark.

* ``drift_check`` - one table of a seeded parquet warehouse through the
  whole schema path: inference (typed columns and probed text columns),
  both CREATE TABLE dialects, and the diff against its drifted twin in the
  Spark catalog.  Fixed per-call costs dominate: job launches,
  ``createDataFrame``, the small-scan spread shuffle and the diff running
  once per consumer.
* ``near_dup_curation`` - a batch of docs through ``ops.dedup``: content
  hashing, MinHash LSH with exact verification, clustering and cache
  release.  Shuffle- and cache-heavy; the schema path does nothing.
"""

from __future__ import annotations

import contextlib
from pathlib import Path

import numpy as np
from pyspark.sql import types as T

import gen
from check import check_drift, check_near_dup
from spark_auto_schema import SparkAutoSchema, catalog, core, ddl, diff, io
from spark_auto_schema.ops import dedup
from spans import Tracer

# Library calls the traced ops wrap, as (owner, attribute, span name).  The
# facade reaches load_file and infer_table_schema through names bound in
# ``core`` and the other layers through their modules.
FACADE_CALLS = [
    (core, "load_file", "io.load_file"),
    (core, "infer_table_schema", "inference.infer_table_schema"),
    (catalog, "deployed_schema_df", "catalog.deployed_schema_df"),
    (diff, "evaluate_diffs", "diff.evaluate_diffs"),
    (diff, "missing_columns", "diff.missing_columns"),
    (ddl, "generate_table_ddl", "ddl.generate"),
    (ddl, "generate_spark_table_ddl", "ddl.generate"),
    (ddl, "generate_column_ddl", "ddl.generate"),
    (ddl, "generate_spark_column_ddl", "ddl.generate"),
]


def _metadata(sas: SparkAutoSchema) -> list[tuple[str, str]]:
    return [(c.name, c.proposed_type) for c in sas.metadata or []]


class Workload:
    """Inputs are made per set-up round from ``seed`` alone, so every round
    of a run, and every run with that seed, sees identical files."""

    name = ""
    pool = 8  # distinct inputs per round; op i uses input i % pool

    def __init__(self, seed: int, nproc: int) -> None:
        self.seed = seed
        self.nproc = nproc
        self.truth: list[dict] = []
        # planted truth items reported / planted, over the distinct inputs
        # checked, so the recall does not depend on how many ops a run held
        self.found = 0
        self.planted = 0
        self.scored: set[int] = set()

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def setup(self, spark, root: Path) -> None:
        raise NotImplementedError

    def op(self, spark, i: int):
        raise NotImplementedError

    def traced_op(self, spark, i: int, tracer: Tracer):
        raise NotImplementedError

    def check(self, i: int, out) -> list[str]:
        raise NotImplementedError

    def rows(self, i: int) -> int:
        return self.truth[i % self.pool]["rows"]

    def score(self, i: int, found: int, planted: int) -> None:
        if i % self.pool not in self.scored:
            self.scored.add(i % self.pool)
            self.found += found
            self.planted += planted


class DriftCheck(Workload):
    name = "drift_check"
    db = "warehouse"
    # (rows, columns) of each table.  Cell counts are alike, so ops cost
    # alike, and any run of consecutive tables averages 10000 rows, so
    # neither a run's median op time nor its rows per second hinges on how
    # many ops fit in it.
    shapes = [(10000, 16), (8000, 20), (12000, 13), (10000, 16),
              (8000, 20), (12000, 13), (10000, 16), (10000, 16)]
    pool = len(shapes)

    def setup(self, spark, root: Path) -> None:
        rng = self.rng(0)
        vocab = gen.vocabulary(rng, 3000)
        text = {n: gen.phrases(rng, vocab, 512, n) for n in (80, 240, 400)}
        root.mkdir(parents=True, exist_ok=True)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.db}")
        self.paths, self.truth = [], []
        for k, (n_rows, n_cols) in enumerate(self.shapes):
            path = root / f"table_{k}.parquet"
            truth = gen.drift_table(self.rng(k + 1), path, self.db, f"table_{k}",
                                    n_rows, n_cols, 5 * k, text)
            gen.write_truth(root / f"table_{k}.truth.json", truth)
            spark.sql(truth["deployed_ddl"])
            self.paths.append(path)
            self.truth.append(truth)

    def _diff_op(self, spark, i: int, collect_span):
        sas = SparkAutoSchema(schema=self.db, table=f"table_{i % self.pool}",
                              file=str(self.paths[i % self.pool]), spark=spark)
        diff_df = sas.evaluate_table_ddl_diffs()
        with collect_span():
            rows = [tuple(r) for r in diff_df.collect()]
        return (_metadata(sas), sas.generate_table_ddl(), sas.generate_spark_table_ddl(),
                rows, sas.generate_column_ddl(), sas.generate_spark_column_ddl())

    def op(self, spark, i: int):
        return self._diff_op(spark, i, contextlib.nullcontext)

    def traced_op(self, spark, i: int, tracer: Tracer):
        # the collect is the action of the lazy diff plan: it belongs to
        # the diff layer's span
        with tracer.patched(FACADE_CALLS), tracer.span("core.op"):
            return self._diff_op(spark, i, lambda: tracer.span("diff.evaluate_diffs"))

    def check(self, i: int, out) -> list[str]:
        truth = self.truth[i % self.pool]
        errors = check_drift(*out, truth)
        want = {tuple(r) for r in truth["diffs"]}
        self.score(i, len(want & {tuple(r) for r in out[3]}), len(want))
        return errors


class NearDupCuration(Workload):
    name = "near_dup_curation"
    docs_per_batch = 500
    pool = 4
    _pairs_schema = T.StructType([
        T.StructField("id_a", T.LongType()), T.StructField("id_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ])

    def setup(self, spark, root: Path) -> None:
        rng = self.rng(0)
        vocab = gen.vocabulary(rng, 20000)
        probs = gen.zipf_probs(len(vocab))
        root.mkdir(parents=True, exist_ok=True)
        self.paths, self.truth, self.texts = [], [], []
        for k in range(self.pool):
            path = root / f"docs_{k}"
            truth, texts = gen.doc_batch(self.rng(k + 1), path, self.docs_per_batch,
                                         k * 10**6, vocab, probs, self.nproc)
            gen.write_truth(root / f"docs_{k}.truth.json", truth)
            self.paths.append(path)
            self.truth.append(truth)
            self.texts.append(texts)

    def rows(self, i: int) -> int:
        return self.truth[i % self.pool]["docs"]

    def _docs(self, spark, i: int):
        return io.read_parquet(spark, str(self.paths[i % self.pool]))

    @staticmethod
    def _hash_groups(df) -> list[tuple[int, int]]:
        return [(r.keep_id, r.dup_count)
                for r in dedup.hash_dedup(df).select("keep_id", "dup_count").collect()]

    def op(self, spark, i: int):
        df = self._docs(spark, i)
        groups = self._hash_groups(df)
        pairs_df = dedup.minhash_lsh_pairs(df, verify_threshold=0.5)
        pairs = [(r.id_a, r.id_b, r.jaccard) for r in pairs_df.collect()]
        clusters = [(r.id, r.cluster_id) for r in dedup.dedup_clusters(pairs_df).collect()]
        dedup.release_caches()
        return groups, pairs, clusters

    def traced_op(self, spark, i: int, tracer: Tracer):
        """The op split into stages, each span holding one action.  A
        stage's self time is its span minus the span of the stage run
        before it, which computed the same prefix of the plan; caches are
        released between the two MinHash runs so neither reads the other's
        persisted frames."""
        counts = tracer.counts
        with tracer.span("core.op"):
            df = self._docs(spark, i)
            with tracer.span("dedup.hash_dedup"):
                groups = self._hash_groups(df)
            with tracer.span("dedup.shingles"):
                counts["shingle_rows"] = dedup.shingles(df).count()
            with tracer.span("dedup.minhash_signatures+shingles"):
                _noop_write(dedup.minhash_signatures(df))
            with tracer.span("dedup.lsh_candidates+signatures"):
                counts["candidate_pairs"] = dedup.minhash_lsh_pairs(
                    df, verify_threshold=None).count()
            dedup.release_caches()
            with tracer.span("dedup.verify+lsh_candidates"):
                pairs = [(r.id_a, r.id_b, r.jaccard) for r in
                         dedup.minhash_lsh_pairs(df, verify_threshold=0.5).collect()]
            pairs_df = spark.createDataFrame(pairs, self._pairs_schema)
            with tracer.span("dedup.dedup_clusters"):
                clusters = [(r.id, r.cluster_id)
                            for r in dedup.dedup_clusters(pairs_df).collect()]
            with tracer.span("dedup.release_caches"):
                dedup.release_caches()
        counts["verified_pairs"] = len(pairs)
        counts["cluster_rows"] = len(clusters)
        return groups, pairs, clusters

    def check(self, i: int, out) -> list[str]:
        groups, pairs, clusters = out
        truth = self.truth[i % self.pool]
        errors, found = check_near_dup(groups, pairs, clusters, truth,
                                       self.texts[i % self.pool])
        self.score(i, found, len(truth["near_dup_pairs"]))
        return errors


def _noop_write(df) -> None:
    """Run the whole plan of ``df`` without keeping its output: unlike
    ``count()``, the noop sink keeps every column, so no aggregate is
    pruned away."""
    df.write.format("noop").mode("overwrite").save()


WORKLOADS = {w.name: w for w in (DriftCheck, NearDupCuration)}
