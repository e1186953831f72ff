"""Aggregate-family queries (queries/aggregates.py) vs independent numpy
implementations: the DuckDB oracles prove cross-engine parity, but a bug
present in both sides of an identical formula would pass them, so these
re-derive the same answers through unrelated algorithms (polyfit, a
hand-coded PSI)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.conftest import write_table


def test_trend_slope_matches_numpy_polyfit(spark, tmp_path):
    """Engine slope == np.polyfit(deg=1) on the same quantized series:
    x = whole seconds since the user's first event, y = value rounded at
    1e-6. polyfit solves the identical least-squares problem via a
    completely different algorithm (SVD), so agreement to 1e-9 relative
    validates the closed-form integer-sum formula itself."""
    from audio_feature_extraction_spark.queries.aggregates import (
        _q_trend_slope,
    )

    rng = np.random.default_rng(13)
    rows = []
    for uid in range(6):
        n = int(rng.integers(2, 40))
        base = pd.Timestamp("2024-03-01") + pd.Timedelta(seconds=int(uid))
        ts = base + pd.to_timedelta(
            np.sort(rng.integers(0, 10_000_000, n)), unit="s"
        ) + pd.to_timedelta(rng.integers(0, 1_000_000, n), unit="us")
        v = rng.normal(50, 20, n) + 0.001 * np.arange(n)
        for t, x in zip(ts, v):
            rows.append((len(rows), t, uid, "a", float(x), "{}"))
    # a constant-time user (all events in the same second): zero variance
    t0 = pd.Timestamp("2024-03-02 12:00:00")
    for i in range(3):
        rows.append((len(rows), t0 + pd.Timedelta(microseconds=i), 99, "a", 1.0, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = write_table(spark, tmp_path, "events", pdf)
    got = _q_trend_slope(spark, d).toPandas().set_index("user_id")

    for uid, g in pdf.groupby("user_id"):
        us = g.ts.astype("int64") // 1000  # ns -> us
        x = ((us - us.min()) // 1_000_000).to_numpy(dtype=np.float64)
        y = np.floor(g.value.to_numpy() * 1e6 + 0.5) / 1e6
        if np.ptp(x) == 0:
            assert pd.isna(got.loc[uid, "slope"]), uid
            continue
        want = np.polyfit(x, y, 1)[0]
        have = got.loc[uid, "slope"]
        assert np.isclose(have, want, rtol=1e-9, atol=1e-15), (uid, have, want)
        assert got.loc[uid, "n"] == len(g)


def test_trend_fit_matches_numpy(spark, tmp_path):
    """trend_fit's intercept and R² vs numpy polyfit + corrcoef on the
    same quantized series — full deg-1 fit validated by an unrelated
    algorithm."""
    from audio_feature_extraction_spark.queries.aggregates import _q_trend_fit

    rng = np.random.default_rng(29)
    rows = []
    for uid in range(5):
        n = int(rng.integers(3, 30))
        base = pd.Timestamp("2024-05-01")
        ts = base + pd.to_timedelta(
            np.sort(rng.integers(0, 5_000_000, n)), unit="s"
        )
        v = rng.normal(100, 30, n)
        for t, x in zip(ts, v):
            rows.append((len(rows), t, uid, "a", float(x), "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = write_table(spark, tmp_path, "events", pdf)
    got = _q_trend_fit(spark, d).toPandas().set_index("user_id")

    for uid, g in pdf.groupby("user_id"):
        us = g.ts.astype("int64") // 1000
        x = ((us - us.min()) // 1_000_000).to_numpy(dtype=np.float64)
        y = np.floor(g.value.to_numpy() * 1e6 + 0.5) / 1e6
        slope, intercept = np.polyfit(x, y, 1)
        r2 = np.corrcoef(x, y)[0, 1] ** 2
        assert np.isclose(got.loc[uid, "slope"], slope, rtol=1e-9), uid
        assert np.isclose(got.loc[uid, "intercept"], intercept, rtol=1e-9), uid
        assert np.isclose(got.loc[uid, "r2"], r2, rtol=1e-9), uid


def test_drift_psi_matches_independent_numpy(spark, tmp_path):
    """Engine PSI == an independently-coded numpy PSI (same fixed bins /
    split / epsilon convention) on synthetic drifted + stable types."""
    from audio_feature_extraction_spark.queries.aggregates import (
        _PSI_BINS,
        _q_drift_psi,
    )

    rng = np.random.default_rng(5)
    rows = []
    # 'stable': same distribution both halves; 'shifted': mean jumps
    for etype, mu_ref, mu_cur in [("stable", 100, 100), ("shifted", 80, 300)]:
        for half, mu, t0 in [
            ("ref", mu_ref, pd.Timestamp("2024-01-03")),
            ("cur", mu_cur, pd.Timestamp("2024-01-20")),
        ]:
            v = rng.normal(mu, 40, 400)
            ts = t0 + pd.to_timedelta(rng.integers(0, 86400 * 5, 400), "s")
            for t, x in zip(ts, v):
                rows.append((len(rows), t, 1, etype, float(x), "{}"))
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = write_table(spark, tmp_path, "events", pdf)
    got = _q_drift_psi(spark, d).toPandas().set_index("event_type")

    split = pd.Timestamp("2024-01-16")
    eps = 1e-6
    for etype, g in pdf.groupby("event_type"):
        ref = g[g.ts < split].value.to_numpy()
        cur = g[g.ts >= split].value.to_numpy()

        def hist(v):
            out = []
            for lo, hi in _PSI_BINS:
                m = np.ones(len(v), dtype=bool)
                if lo is not None:
                    m &= v >= lo
                if hi is not None:
                    m &= v < hi
                out.append(m.sum())
            return np.array(out, dtype=float)

        p = np.maximum(hist(ref) / len(ref), eps)
        q = np.maximum(hist(cur) / len(cur), eps)
        want = float(np.sum((p - q) * np.log(p / q)))
        have = got.loc[etype, "psi"]
        assert abs(have - want) < 2e-6, (etype, have, want)
        assert got.loc[etype, "n_ref"] == len(ref)
    # and the qualitative read: shifted >> stable
    assert got.loc["shifted", "psi"] > 0.25 > got.loc["stable", "psi"]
