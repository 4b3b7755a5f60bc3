"""Canonical SparkSession configuration for this engine, at two scales.

Every operator in this package is written against the SAME execution
assumptions: AQE on (broadcast conversion, skew-join splitting, partition
coalescing are load-bearing — several plan pins count on runtime
ReusedExchange/broadcast conversion), Arrow on (the three ``mapInPandas``
kernels move batches, not rows), and UTC sessions (cross-engine timestamp
stability; ``io.pin_utc_session``).  This module centralizes those
assumptions so a deployment doesn't rediscover them one incident at a
time.

``build_session("local")`` is the test/bench shape this repo runs under.
``build_session("cluster")`` is the 100 TB starting point — the settings
and their rationale:

* ``spark.sql.adaptive.enabled`` + skewJoin + coalescePartitions: the
  engine's joins are planned as shuffle joins pre-AQE and rely on runtime
  conversion to broadcast when a side is small (dimension joins, stat
  tables) and on skew-split for hot keys (cluster-local pair joins,
  salted fallbacks).
* ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``: extends
  that runtime conversion INTO cached subtrees, where a ``persist()``
  boundary would otherwise pin a static shuffle join at cache-compile
  time (see the note at the setting for which joins that still covers).
* ``spark.sql.shuffle.partitions``: sized so a post-shuffle partition is
  ~128-200 MB.  At 100 TB input with ~10x reduction before the wide
  stages, 20k-40k is a sane starting range — set it per job from data
  volume, then let ``coalescePartitions`` shrink small stages; the local
  default (32) exists only to keep tiny test shuffles fast.
* ``spark.sql.files.maxPartitionBytes`` 128 MB: scan-side parallelism;
  matches parquet row-group sizing so one task reads whole row groups.
* ``spark.sql.autoBroadcastJoinThreshold`` 64 MB on a cluster with
  8-16 GB executors: the engine broadcasts dims/stat frames explicitly
  where boundedness is known BY CONSTRUCTION; the threshold governs the
  rest.  Raise it only with executor memory.
* ``spark.sql.execution.arrow.pyspark.enabled``: Arrow transfer for the
  Pandas-UDF kernels (EWMA, media features, classifier scoring) — the
  difference between columnar batches and per-row pickling.
* ``spark.sql.parquet.aggregatePushdown``: footer-served MIN/MAX/COUNT —
  free stats for the profile/zone-map ops when files carry statistics.
* ``spark.serializer`` Kryo: smaller shuffle blocks for the array-typed
  rows (embeddings, signatures) the similarity/dedup families move.

These are STARTING values with documented reasoning, not magic: anything
data-dependent (shuffle partitions, broadcast threshold) should be set
per-pipeline from observed volumes.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

_COMMON = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE under persist() boundaries: without this, a cached plan pins a
    # STATIC join strategy at compile time, so an unhinted join inside a
    # cached subtree stays a full shuffle join.  It was set for the
    # candidate-id semi-joins the near-dup verify once cached (measured
    # 5.6x on lsh_config_sweep at sf0.1, BASELINE round-12); those are
    # gone.  Unhinted joins still sit under persist() (lsh_config_sweep's
    # cached band self-join is one), but whether they need this has not
    # been measured.  The trade-off — consumers of a cached relation may
    # re-shuffle because its output partitioning is no longer pinned — is
    # the right one for this engine: every cached relation here is a small
    # candidate/stat frame, not a co-partitioning anchor.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}

_LOCAL = {
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
}

_CLUSTER = {
    "spark.sql.shuffle.partitions": "20000",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MB
    "spark.sql.autoBroadcastJoinThreshold": "67108864",  # 64 MB
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def build_session(
    scale: str = "local",
    app_name: str = "spark_auto_schema",
    master: str | None = None,
    overrides: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with this engine's canonical configuration.

    ``scale="local"`` (default) — the test/bench shape: ``local[*]``
    unless ``master`` is given, small shuffle fan-out, UI off.
    ``scale="cluster"`` — the 100 TB starting point documented in the
    module docstring; pass ``master`` (or rely on spark-submit) and use
    ``overrides`` for anything data-dependent.
    """
    if scale not in ("local", "cluster"):
        raise ValueError("scale must be 'local' or 'cluster'")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif scale == "local":
        builder = builder.master("local[*]")
    conf = dict(_COMMON)
    conf.update(_LOCAL if scale == "local" else _CLUSTER)
    conf.update(overrides or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def _scoped_conf(
    spark: SparkSession, key: str, value: str | int | None
) -> Iterator[None]:
    """Set the session conf ``key`` to ``value`` for the ``with`` body, then
    restore its prior value, or unset it if it had none.  ``value=None``
    leaves the conf alone."""
    if value is None:
        yield
        return
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
