"""Missing-value strategies: LOCF, backfill, fills (SURVEY.md W10, P1, P7).

The reference encodes missing observations as NaN (unvoiced F0,
`audio_feature_extraction_toolkit/core/feature_extractor.py:97-107`) and either
drops them or zero-fills (`04_feature_extraction_experiment/
feature_extraction.py:125,237` np.nan_to_num). In the engine, missing = SQL
NULL; the required point-in-time strategy is last-observation-carried-forward,
which is leakage-free by construction (only reads rows ≤ t).

All pure Window expressions — `last(..., ignorenulls=True)` over the history
frame compiles to a single Window node, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def locf(col: str, w: WindowSpec, default: float | None = 0.0) -> Column:
    """Last-observation-carried-forward; leading NULLs → ``default``
    (None keeps them NULL)."""
    filled = F.last(col, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    if default is None:
        return filled
    return F.coalesce(filled, F.lit(default))


def backfill(col: str, w: WindowSpec, default: float | None = None) -> Column:
    """Next-observation-carried-backward. NOT leakage-free (reads future rows);
    excluded from point-in-time feature vectors, provided for offline repair."""
    filled = F.first(col, ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    if default is None:
        return filled
    return F.coalesce(filled, F.lit(default))


def clip(col: str, lo: float, hi: float) -> Column:
    """np.clip analog (`04_…/feature_extraction.py:125-139`). NaN stays NaN
    as in numpy — Spark sorts NaN above every double, so a bare
    least(greatest(...)) would silently pin NaN to the hi bound."""
    c = F.col(col)
    return F.when(F.isnan(c.cast("double")), c).otherwise(
        F.least(F.greatest(c, F.lit(lo)), F.lit(hi))
    )

