"""Exact DTW kernel vs a brute-force per-cell DP oracle (SURVEY.md §2.10)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from audio_feature_extraction_spark.operators.dtw import (
    dtw_accumulate,
    dtw_join,
    dtw_pair,
    dtw_path,
)


def brute_force_acc(cost, diag_w=1.0, step_w=1.0, band=None):
    """Per-cell reference DP — the slow, obviously-correct form."""
    n, m = cost.shape
    acc = np.full((n + 1, m + 1), np.inf)
    acc[0, 0] = 0.0
    ratio = n / m
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            if band is not None and abs(i - j * ratio) > band:
                continue
            prev = min(
                acc[i - 1, j] * step_w,
                acc[i, j - 1] * step_w,
                acc[i - 1, j - 1] * diag_w,
            )
            acc[i, j] = cost[i - 1, j - 1] + prev
    return acc[1:, 1:]


def brute_force_path(acc, diag_w=1.0, step_w=1.0):
    """Per-step reference backtrack: the weighted predecessor minimum, ties
    to the diagonal, then up, then left; row 0 goes left, column 0 up."""
    i, j = acc.shape[0] - 1, acc.shape[1] - 1
    path = [(i, j)]
    while (i, j) != (0, 0):
        if i == 0:
            j -= 1
        elif j == 0:
            i -= 1
        else:
            cands = [
                acc[i - 1, j - 1] * diag_w,
                acc[i - 1, j] * step_w,
                acc[i, j - 1] * step_w,
            ]
            k = cands.index(min(cands))
            i, j = (i - 1, j - 1) if k == 0 else (i - 1, j) if k == 1 else (i, j - 1)
        path.append((i, j))
    return path[::-1]


@pytest.mark.parametrize("shape", [(1, 1), (5, 5), (7, 13), (20, 9)])
@pytest.mark.parametrize("weights", [(1.0, 1.0), (0.8, 1.2)])
@pytest.mark.parametrize("band", [None, 3])
def test_accumulate_matches_brute_force(shape, weights, band):
    rng = np.random.default_rng(shape[0] * 100 + shape[1])
    cost = rng.uniform(0.1, 5.0, shape)
    dw, sw = weights
    got = dtw_accumulate(cost, dw, sw, band)
    want = brute_force_acc(cost, dw, sw, band)
    mask = np.isfinite(want)
    assert (np.isfinite(got) == mask).all()
    np.testing.assert_allclose(got[mask], want[mask], rtol=1e-12)
    if mask[-1, -1]:
        assert dtw_path(got, dw, sw) == brute_force_path(want, dw, sw)


@pytest.mark.parametrize("weights", [(1.0, 1.0), (0.8, 1.2)])
def test_path_ties_match_brute_force(weights):
    """Small integer costs make equal predecessor candidates common; the
    batched backtrack must break them like the per-step loop."""
    rng = np.random.default_rng(5)
    dw, sw = weights
    for _ in range(50):
        cost = rng.integers(0, 3, rng.integers(1, 13, 2)) * 1.0
        acc = dtw_accumulate(cost, dw, sw)
        assert dtw_path(acc, dw, sw) == brute_force_path(acc, dw, sw)


def test_identical_sequences_zero_distance(spark):
    """Exactly 0 on both the local and the Spark path: the cross term is the
    same elementwise multiply-and-sum as the squared norms (no BLAS)."""
    a = np.random.default_rng(1).normal(size=(12, 3))
    r = dtw_pair(a, a)
    assert r["dtw_dist"] == 0.0
    # all-diagonal path
    assert r["path_len"] == 12
    df = spark.createDataFrame(
        [("k", i, *map(float, a[i])) for i in range(12)],
        "k string, seq int, f0 double, f1 double, f2 double",
    )
    (got,) = dtw_join(df, df, on=["k"], feature_cols=["f0", "f1", "f2"]).collect()
    assert (got.n, got.m, got.dtw_dist, got.path_len) == (12, 12, 0.0, 12)


def test_path_is_valid_warping():
    rng = np.random.default_rng(2)
    cost = rng.uniform(0.0, 1.0, (8, 11))
    acc = dtw_accumulate(cost)
    path = dtw_path(acc)
    assert path[0] == (0, 0) and path[-1] == (7, 10)
    for (i0, j0), (i1, j1) in zip(path, path[1:]):
        assert (i1 - i0, j1 - j0) in {(0, 1), (1, 0), (1, 1)}  # monotone steps


def test_band_excludes_off_diagonal_cells():
    # the slope-scaled band keeps the ends feasible but blanks the corners
    cost = np.ones((10, 10))
    acc = dtw_accumulate(cost, band=2)
    assert np.isfinite(acc[-1, -1])  # the warping path itself exists
    assert not np.isfinite(acc[0, 9])  # |1 - 10| = 9 > band
    assert not np.isfinite(acc[9, 0])


def test_dtw_join_spark(spark):
    """Batched Arrow kernel == local kernel, plus the missing-partner case
    (key on one side only -> NULL distance)."""
    rng = np.random.default_rng(3)
    rows_l, rows_r, want = [], [], {}
    for key, (n, m) in {"a": (9, 9), "b": (6, 14), "c": (5, 0)}.items():
        fa = rng.normal(size=(n, 2))
        fb = rng.normal(size=(m, 2)) if m else np.zeros((0, 2))
        rows_l += [(key, i, float(fa[i, 0]), float(fa[i, 1])) for i in range(n)]
        rows_r += [(key, i, float(fb[i, 0]), float(fb[i, 1])) for i in range(m)]
        if m:
            want[key] = dtw_pair(fa, fb, 0.8, 1.2, band=8)
    schema = "k string, seq int, f0 double, f1 double"
    l = spark.createDataFrame(rows_l, schema).repartition(4)
    r = spark.createDataFrame(rows_r, schema).repartition(3)
    got = (
        dtw_join(
            l, r, on=["k"], order_col="seq", feature_cols=["f0", "f1"],
            diag_weight=0.8, step_weight=1.2, band=8,
        )
        .toPandas()
        .set_index("k")
    )
    assert len(got) == 3
    for key, w in want.items():
        assert got.loc[key, "n"] == w["n"] and got.loc[key, "m"] == w["m"]
        np.testing.assert_allclose(got.loc[key, "dtw_dist"], w["dtw_dist"])
        assert got.loc[key, "path_len"] == w["path_len"]
    assert pd.isna(got.loc["c", "dtw_dist"]) and got.loc["c", "m"] == 0


def test_dtw_path_respects_step_weights():
    """Regression (review-found): the backtrack must compare candidates with
    the SAME weights as the forward recurrence — every step's chosen
    predecessor must achieve the weighted minimum."""
    import numpy as np

    from audio_feature_extraction_spark.operators.dtw import (
        dtw_accumulate,
        dtw_path,
    )

    rng = np.random.default_rng(11)
    dw, sw = 0.8, 1.2
    for _ in range(25):
        cost = rng.random((rng.integers(3, 9), rng.integers(3, 9)))
        acc = dtw_accumulate(cost, diag_weight=dw, step_weight=sw)
        path = dtw_path(acc, diag_weight=dw, step_weight=sw)
        assert path[0] == (0, 0) and path[-1] == (
            acc.shape[0] - 1,
            acc.shape[1] - 1,
        )
        for (pi, pj), (i, j) in zip(path, path[1:]):
            if i == 0 or j == 0 or (pi, pj) == (0, 0):
                continue
            cands = {
                (i - 1, j - 1): acc[i - 1, j - 1] * dw,
                (i - 1, j): acc[i - 1, j] * sw,
                (i, j - 1): acc[i, j - 1] * sw,
            }
            assert cands[(pi, pj)] == min(cands.values()), (path, (i, j))


def _cell_cost(x: float, y: float) -> float:
    """The oracle's d = 1 local cost, one cell at a time."""
    return math.sqrt(max((x * x + y * y) - 2.0 * (x * y), 0.0))


@pytest.mark.parametrize("band", [None, 0, 3])
@pytest.mark.parametrize("weights", [(1.0, 1.0), (0.8, 1.2)])
def test_dtw_join_matches_brute_force(spark, band, weights):
    """Property: over mixed shapes 1..12 x 1..12 (~200 pairs across the six
    parametrizations), each pair's dtw_join row equals the per-cell DP and
    backtrack exactly. Covers order_col ties (broken by the feature value),
    one-sided keys (NULL distances), a NULL key and a NULL value inside a
    sequence (NaN distance). band=0 with n != m leaves the end cell
    unreachable: inf distance, path_len 0."""
    dw, sw = weights
    rng = np.random.default_rng([9 if band is None else band, int(10 * dw)])
    rows_l, rows_r, want = [], [], {}
    for key in range(34):
        n, m = (int(x) for x in rng.integers(1, 13, 2))
        if key == 2:  # n == m keeps the end cell reachable at band=0
            m = n
        # a few keys repeat order values, so the tie rule decides the order
        seq_l = rng.integers(0, n if key % 5 else max(1, n // 2), n)
        seq_r = rng.integers(0, 2 * m, m)
        va, vb = rng.normal(size=n), rng.normal(size=m)
        if key % 3 == 0:  # small integers: ties in the cost and the backtrack
            va, vb = rng.integers(0, 3, n) * 1.0, rng.integers(0, 3, m) * 1.0
        if key == 0:  # left only
            rows_l += [(key, int(q), float(v)) for q, v in zip(seq_l, va)]
            want[key] = (n, 0, None, 0)
            continue
        if key == 1:  # right only
            rows_r += [(key, int(q), float(v)) for q, v in zip(seq_r, vb)]
            want[key] = (0, m, None, 0)
            continue
        rows_l += [(key, int(q), float(v)) for q, v in zip(seq_l, va)]
        rows_r += [(key, int(q), float(v)) for q, v in zip(seq_r, vb)]
        if key == 2:  # a NULL feature value inside the left sequence
            rows_l[-1] = (key, rows_l[-1][1], None)
            want[key] = (n, m, "nan", 0)
            continue
        a = [v for _, v in sorted(zip(seq_l, va))]
        b = [v for _, v in sorted(zip(seq_r, vb))]
        cost = np.array([[_cell_cost(x, y) for y in b] for x in a])
        acc = brute_force_acc(cost, dw, sw, band)
        dist = acc[-1, -1]
        path_len = len(brute_force_path(acc, dw, sw)) if np.isfinite(dist) else 0
        if band == 0 and n != m:
            assert dist == np.inf and path_len == 0
        want[key] = (n, m, dist, path_len)
    # a NULL key pairs with nothing: one one-sided row per side
    rows_l += [(None, 0, 1.0), (None, 1, 2.0)]
    rows_r += [(None, q, 1.0) for q in range(3)]
    schema = "k int, seq int, value double"
    l = spark.createDataFrame(rows_l, schema).repartition(3)
    r = spark.createDataFrame(rows_r, schema).repartition(2)
    rows = dtw_join(
        l, r, on=["k"], diag_weight=dw, step_weight=sw, band=band
    ).collect()
    assert sorted((row.n, row.m) for row in rows if row.k is None) == [(0, 3), (2, 0)]
    got = {row.k: row for row in rows if row.k is not None}
    assert got.keys() == want.keys()
    for key, (n, m, dist, path_len) in want.items():
        row = got[key]
        assert (row.n, row.m, row.path_len) == (n, m, path_len), (key, row)
        if dist is None:
            assert row.dtw_dist is None and row.dtw_norm is None, (key, row)
        elif dist == "nan":
            assert math.isnan(row.dtw_dist), (key, row)
        else:
            assert row.dtw_dist == dist, (key, row, dist)
            assert row.dtw_norm == dist / (n + m), (key, row)
