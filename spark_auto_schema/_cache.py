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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# (frame, is a local checkpoint)
_CACHED: list[tuple[DataFrame, bool]] = []


def persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _CACHED.append((df, False))
    return df


def local_checkpoint(df: DataFrame) -> DataFrame:
    df = df.localCheckpoint(eager=True)
    _CACHED.append((df, True))
    return df


def release_caches() -> None:
    """Unpersist every registered frame.  A checkpoint's blocks belong to
    the RDD under its LogicalRDD, which ``DataFrame.unpersist()`` does not
    reach; that RDD is unpersisted for checkpoints only, since under a
    frame the library merely persisted it may be the caller's."""
    while _CACHED:
        df, checkpointed = _CACHED.pop()
        try:
            if checkpointed:
                df._jdf.queryExecution().logical().rdd().unpersist(False)
            else:
                df.unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
