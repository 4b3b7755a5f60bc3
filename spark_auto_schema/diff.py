"""Schema diff: proposed vs deployed, computed on the driver.

Reference: ``evaluate_table_ddl_diffs`` at
``/root/reference/redshift_auto_schema/RedshiftAutoSchema.py:202-225``:
a pandas full outer join of proposed metadata and deployed catalog columns
on the column name, then row-wise classification into
TYPE MISMATCH / MISSING / DEPRECATED, dropping ``notype`` proposals.

Both sides hold one row per column, so the diff stays in Python like the
reference's: :func:`diff_rows` is the one implementation of the rule over
two (field, type) row lists, :func:`evaluate_diffs` lifts its rows into the
one local relation a diff builds, and :func:`missing_columns` reads that
relation's rows back in Python, without a Spark job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .io import local_df
from .types import classify_type

REASON_MISSING = "MISSING"
REASON_DEPRECATED = "DEPRECATED"
REASON_TYPE_MISMATCH = "TYPE MISMATCH"

DIFF_COLUMNS = ("field", "proposed_type", "deployed_type", "reason")
DIFF_SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in DIFF_COLUMNS])


def _reason(proposed_type: str | None, deployed_type: str | None) -> str | None:
    if proposed_type is None:
        return REASON_DEPRECATED if deployed_type is not None else None
    if proposed_type == "notype":
        return None
    if deployed_type is None:
        return REASON_MISSING
    if classify_type(proposed_type) != classify_type(deployed_type):
        return REASON_TYPE_MISMATCH
    return None


def diff_rows(
    proposed: Sequence[tuple[str, str | None]],
    deployed: Sequence[tuple[str, str | None]],
) -> list[tuple[str, str | None, str | None, str]]:
    """Full-outer diff of two (field, type) lists, mirroring RAS.py:217-225:
    (field, proposed_type, deployed_type, reason) for the rows with a
    reason, in proposed order, then deprecated columns in deployed order.

    * both types present and their 13-class types differ -> TYPE MISMATCH
    * proposed type only -> MISSING (also against a NULL deployed type)
    * deployed type only -> DEPRECATED
    * ``notype`` proposals are silently dropped (so an all-null new column
      never produces an ADD COLUMN — reference behavior, RAS.py:153 vs 222)
    """
    deployed_types = dict(deployed)  # a catalog lists each column once
    proposed_fields = {field for field, _ in proposed}
    joined = [(f, p, deployed_types.get(f)) for f, p in proposed]
    joined += [(f, None, d) for f, d in deployed if f not in proposed_fields]
    return [(f, p, d, reason) for f, p, d in joined if (reason := _reason(p, d))]


def evaluate_diffs(
    spark: SparkSession,
    proposed: Sequence[tuple[str, str | None]],
    deployed: Sequence[tuple[str, str | None]],
) -> DataFrame:
    """:func:`diff_rows` of (field, proposed_type) and (field, deployed_type)
    rows, as a local DataFrame (field, proposed_type, deployed_type, reason)
    whose reads run no Spark job."""
    return local_df(spark, diff_rows(proposed, deployed), DIFF_SCHEMA)


def missing_columns(diff: DataFrame) -> list[tuple[str, str]]:
    """(field, proposed_type) of the MISSING rows (RAS.py:188-189), read
    from the diff's rows in Python; over the local diff relation this runs
    no Spark job."""
    return [(f, p) for f, p, _, reason in diff.collect() if reason == REASON_MISSING]
