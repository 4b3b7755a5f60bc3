"""The one numeric snap every reported ratio goes through.

Engines disagree on ``round()`` of a double that sits one ulp below a
half boundary (``0.49124999...96``).  Casting to a DECIMAL first fixes the
value at ``scale`` decimal digits, so the final ``digits``-place round is
the same in Spark and in the DuckDB oracles.  A new operator that reports
a rounded double calls :func:`snap` rather than spelling the cast.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def snap(c: Column, digits: int = 6, scale: int = 12, precision: int = 18) -> Column:
    """``round(cast(c AS decimal(precision, scale)), digits)`` as a double.

    The forms in use: (18,12)→6 for ratios and fractions, (18,12)→4 and
    (18,10)→4 for 4-place scores, (18,10)→6, and (38,12)→6 for sums that
    can outgrow 18,12's six integer digits."""
    return F.round(c.cast("decimal(%d,%d)" % (precision, scale)), digits).cast("double")
