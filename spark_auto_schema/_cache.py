"""The one registry of frames the library caches for reuse within a query.

An operator that reads a frame more than once persists it with
:func:`persist`, or truncates a growing lineage with
:func:`local_checkpoint`; both register the frame here.  Spark's
CacheManager never collects persisted plans, so a long-lived session that
keeps calling operators accumulates cached blocks until
:func:`release_caches` drops every registered frame, whichever module made
it.  Call it once the results have been read (bench, the correctness mirror
and perfbench call it between queries).  A persisted frame read after a
release recomputes from its lineage; a local checkpoint has no lineage, so
read a checkpointed result before releasing it.

``streaming.run_to_memory`` registers each memory sink it drains, and the
same release drops those temp views, so a long-lived session does not
hold one in-memory result table per drained stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# (frame, is a local checkpoint)
_CACHED: list[tuple[DataFrame, bool]] = []
# view names of the memory sinks streaming.run_to_memory drained
_SINKS: list[str] = []


def persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _CACHED.append((df, False))
    return df


def local_checkpoint(df: DataFrame) -> DataFrame:
    df = df.localCheckpoint(eager=True)
    _CACHED.append((df, True))
    return df


def release_caches() -> None:
    """Unpersist every registered frame and drop every registered memory
    sink.  A checkpoint's blocks belong to the RDD under its LogicalRDD,
    which ``DataFrame.unpersist()`` does not reach; that RDD is unpersisted
    for checkpoints only, since under a frame the library merely persisted
    it may be the caller's."""
    while _CACHED:
        df, checkpointed = _CACHED.pop()
        try:
            if checkpointed:
                df._jdf.queryExecution().logical().rdd().unpersist(False)
            else:
                df.unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
    # memory sinks: drop each temp view (and the rows the sink holds on the
    # driver; a re-run re-drains), then the terminated-query references the
    # StreamingQueryManager keeps for awaitAnyTermination bookkeeping
    names, _SINKS[:] = list(_SINKS), []
    spark = SparkSession.getActiveSession() if names else None
    if spark is None:
        return
    try:
        for name in names:
            spark.catalog.dropTempView(name)
        spark.streams.resetTerminated()
    except Exception:  # pragma: no cover - session already stopped
        pass
