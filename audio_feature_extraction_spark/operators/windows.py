"""Windowed per-entity sequence features (SURVEY.md §2.5, W1-W12).

All pure ``pyspark.sql`` Window expressions — JVM-side, whole-stage-codegen
eligible, no Python in the hot path. Every helper takes an *ordered entity
window spec* built by :func:`entity_window`, so the partitioning contract is
explicit at every call site: features are computed per entity
(``partitionBy(keys)``) in event-time order (``orderBy(ts, tiebreak)``).

Scale note: window exec sorts within partitions after hashing on the entity
key; the only shuffle is the one hash exchange on the keys, reused by every
window expression sharing the spec (Catalyst collapses them into one Window
physical node per frame family).

Reference parity notes are cited per function (file:line under /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def entity_window(keys: list[str], order: list[str]) -> WindowSpec:
    return Window.partitionBy(*keys).orderBy(*order)


def _full(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def _trailing(w: WindowSpec, n: int) -> WindowSpec:
    return w.rowsBetween(-(n - 1), 0)


def _history(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(Window.unboundedPreceding, 0)


# ---------------------------------------------------------------- W3: lag/lead


def delta1(col: str, w: WindowSpec) -> Column:
    """First difference, np.diff analog (04_…/feature_extractor.py:293);
    the first row of each entity gets 0.0."""
    return F.coalesce(F.col(col) - F.lag(col, 1).over(w), F.lit(0.0))


def lead_delta(col: str, w: WindowSpec) -> Column:
    return F.coalesce(F.lead(col, 1).over(w) - F.col(col), F.lit(0.0))


# ------------------------------------------------- W2: width-9 regression delta


def _edge_lag(col: str, i: int, w: WindowSpec) -> Column:
    """x[t-i] with start-of-sequence edge replication (librosa pad analog).

    REQUIRES a NULL-free column: lag() returns NULL both past the partition
    edge AND for a genuine interior NULL, so an un-filled NULL at row t-i
    would be silently replaced with the partition's FIRST value. Callers
    must LOCF/interpolate first (the flagship pipeline does) — that is also
    exactly what the reference does before computing deltas (NaN-free
    frames after unvoiced-F0 interpolation)."""
    if i == 0:
        return F.col(col)
    return F.coalesce(F.lag(col, i).over(w), F.first(col).over(_full(w)))


def _edge_lead(col: str, i: int, w: WindowSpec) -> Column:
    if i == 0:
        return F.col(col)
    return F.coalesce(F.lead(col, i).over(w), F.last(col).over(_full(w)))


def delta_trailing(col: str, w: WindowSpec, half: int = 4) -> Column:
    """Causal width-(2*half+1) regression delta — the librosa delta
    (core/feature_extractor.py:137-138) evaluated at t-half so it reads only
    rows ≤ t (zero temporal leakage, per the north rule).

    D[t] = Σ_{m=1..half} m * (x[t-(half-m)] - x[t-(half+m)]) / (2·Σ m²)
    """
    denom = 2 * sum(m * m for m in range(1, half + 1))
    expr = F.lit(0.0)
    for m in range(1, half + 1):
        expr = expr + F.lit(float(m)) * (
            _edge_lag(col, half - m, w) - _edge_lag(col, half + m, w)
        )
    return expr / F.lit(float(denom))


def delta2_trailing(
    df: DataFrame,
    col: str,
    keys: list[str],
    order: list[str],
    half: int = 4,
    out: str = "d2",
) -> DataFrame:
    """Δ² (delta-delta): :func:`delta_trailing` applied to its own output —
    the reference stacks Δ and Δ² onto every feature
    (04_feature_extraction_experiment/feature_extraction.py:208-211,
    core/feature_extractor.py:137-138). Two chained Window nodes over the SAME
    (keys, order) spec, so Catalyst plans ONE hash exchange + one sort reused
    by both passes; edge replication composes (the Δ² pad reads the
    edge-replicated Δ, exactly like librosa's repeated pad-and-convolve)."""
    w = entity_window(keys, order)
    df = df.withColumn("__d1", delta_trailing(col, w, half))
    df = df.withColumn(out, delta_trailing("__d1", w, half))
    return df.drop("__d1")


def delta_centered(col: str, w: WindowSpec, half: int = 4) -> Column:
    """Exact centered librosa-style delta (non-causal; excluded from the
    leakage-gated flagship vector, provided for reference parity)."""
    denom = 2 * sum(m * m for m in range(1, half + 1))
    expr = F.lit(0.0)
    for m in range(1, half + 1):
        expr = expr + F.lit(float(m)) * (
            _edge_lead(col, m, w) - _edge_lag(col, m, w)
        )
    return expr / F.lit(float(denom))


# --------------------------------------------------------- W4-W6: rolling stats


def rolling_mean(col: str, w: WindowSpec, n: int) -> Column:
    return F.avg(col).over(_trailing(w, n))


def rolling_std_pop(col: str, w: WindowSpec, n: int) -> Column:
    """Population std over trailing n rows; single-row windows → 0.0
    (local-stability analog, 04_…/feature_extractor.py:450-452)."""
    return F.coalesce(F.stddev_pop(col).over(_trailing(w, n)), F.lit(0.0))


def rolling_min(col: str, w: WindowSpec, n: int) -> Column:
    return F.min(col).over(_trailing(w, n))


def rolling_max(col: str, w: WindowSpec, n: int) -> Column:
    return F.max(col).over(_trailing(w, n))


def rolling_median(col: str, w: WindowSpec, n: int) -> Column:
    """medfilt analog (04_…/feature_extractor.py:264,286) — trailing form.

    Spark disallows median()/percentile() over a bounded frame, so this is the
    classic frame-compatible form: collect the (≤n) frame values, sort, pick
    the middle (averaging the two middles for even counts). n is a small
    constant (kernel 3/5 in the reference) so the per-row array is tiny."""
    vals = F.array_sort(F.collect_list(col).over(_trailing(w, n)))
    cnt = F.size(vals)
    # an all-NULL frame collects an EMPTY array: cnt=0 makes the lo index 0,
    # which even try_element_at rejects (INVALID_INDEX_OF_ZERO) — guard the
    # whole expression so the empty frame yields a NULL median
    lo = F.try_element_at(vals, ((cnt + 1) / 2).cast("int"))
    hi = F.try_element_at(vals, (cnt / 2 + 1).cast("int"))
    return F.when(cnt > 0, (lo + hi) / 2.0)


# ---------------------------------------------- W5/W7: fixed-coefficient smooth


# Savitzky-Golay smoothing coefficients, window 11, polyorder 3: the
# projection row for the window center of the least-squares cubic fit
# (04_…/feature_extractor.py:290,430), exactly (-36, 9, 44, 69, 84, 89,
# …)/429.
# Kept as literals because the oracle text embeds them: np.linalg.pinv sets
# their last bits by the BLAS kernel chosen for the host CPU, which would
# make the oracle text host-dependent. These are the Core2 OpenBLAS values,
# each within 1.1e-16 of the exact rational.
SAVGOL_11_3 = [
    -0.08391608391608396, 0.02097902097902097, 0.10256410256410264,
    0.16083916083916086, 0.1958041958041958, 0.20745920745920746,
    0.1958041958041958, 0.1608391608391608, 0.10256410256410253,
    0.02097902097902093, -0.08391608391608402,
]


def gaussian_coeffs(window: int = 9, sigma: float = 2.0) -> list[float]:
    """Normalized gaussian smoothing kernel (dtw_alignment.py:413-441;
    gaussian_filter1d import :24). Pure numpy at plan-build time."""
    import numpy as np

    assert window % 2 == 1, f"window must be odd, got {window}"
    half = window // 2
    x = np.arange(-half, half + 1, dtype=np.float64)
    k = np.exp(-0.5 * (x / sigma) ** 2)
    k /= k.sum()
    return [float(c) for c in k]


def weighted_window(col: str, w: WindowSpec, weights: list[float]) -> Column:
    """Trailing fixed-weight dot product (delayed-center convolution) with
    edge replication — the causal form of SG / gaussian smoothing
    (dtw_alignment.py:413-441). weights[i] multiplies x[t-(len-1)+i]."""
    n = len(weights)
    expr = F.lit(0.0)
    for i, c in enumerate(weights):
        expr = expr + F.lit(float(c)) * _edge_lag(col, n - 1 - i, w)
    return expr


# ------------------------------------------------------ W8-W9: cumulative ops


def running_sum(col: str, w: WindowSpec) -> Column:
    """np.cumsum analog (dtw_alignment.py:151,486-487)."""
    return F.sum(col).over(_history(w))


def running_max(col: str, w: WindowSpec) -> Column:
    """np.maximum.accumulate analog — monotonic repair (dtw_alignment.py:1087)."""
    return F.max(col).over(_history(w))


# ------------------------------------------------------------- misc kernels


def preemphasis(col: str, w: WindowSpec, alpha: float = 0.97) -> Column:
    """y[t] - α·y[t-1] (core/feature_extractor.py:69); first row passes through."""
    return F.col(col) - F.lit(alpha) * F.coalesce(F.lag(col, 1).over(w), F.lit(0.0))


def sign_change_rate(col: str, w: WindowSpec, n: int) -> Column:
    """Zero-crossing-rate analog over trailing n rows
    (core/feature_extractor.py:164-168)."""
    flip = (F.signum(col) * F.signum(F.lag(col, 1).over(w)) < 0).cast("double")
    return F.avg(F.coalesce(flip, F.lit(0.0))).over(_trailing(w, n))


def trim_to_active(
    df: DataFrame,
    keys: list[str],
    ts: str,
    active: Column,
) -> DataFrame:
    """Silence-trim analog (P3, `core/feature_extractor.py:72`,
    `04_…/feature_extractor.py:261`): per entity, drop leading/trailing rows
    outside the first..last row where ``active`` holds (interior inactive rows
    are kept, exactly like librosa.effects.trim keeps interior silence).

    One unordered full-frame window per key — no sort needed, the min/max of
    the active timestamps is frame-order independent."""
    from audio_feature_extraction_spark.operators.timeutil import ts_micros

    w_full = Window.partitionBy(*keys).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    us = ts_micros(ts)
    lo = F.min(F.when(active, us)).over(w_full)
    hi = F.max(F.when(active, us)).over(w_full)
    return df.withColumn("__lo", lo).withColumn("__hi", hi).where(
        F.col("__lo").isNotNull() & us.between(F.col("__lo"), F.col("__hi"))
    ).drop("__lo", "__hi")


def top1_per_group(df: DataFrame, keys: list[str], order_cols: list) -> DataFrame:
    """argmax/argmin per group via row_number (W11/O3, dtw_alignment.py:247,1048).
    order_cols must contain a deterministic tiebreaker."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
