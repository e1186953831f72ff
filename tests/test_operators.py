"""Unit tests for windows / backfill / sessionize operators vs numpy."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators import windows as W
from audio_feature_extraction_spark.operators.backfill import (
    backfill,
    clip,
    locf,
)
from audio_feature_extraction_spark.operators.sessionize import (
    session_bounds,
    with_session_id,
)

X = np.array([3.0, np.nan, 1.0, np.nan, np.nan, 4.0, -2.0, np.nan])
TS = pd.to_datetime("2024-01-01") + pd.to_timedelta(
    [0, 5, 10, 50, 55, 120, 125, 126], unit="s"
)


@pytest.fixture(scope="module")
def df(spark):
    pdf = pd.DataFrame({"k": "a", "i": range(len(X)), "ts": TS, "x": X})
    return spark.createDataFrame(pdf, schema="k string, i int, ts timestamp, x double")


W_SPEC = None


def wspec():
    return Window.partitionBy("k").orderBy("i")


def col_np(df, col, **kw):
    out = df.select("i", col.alias("o")).toPandas().sort_values("i")
    return out.o.to_numpy()


def test_locf_and_backfill(df):
    w = wspec()
    got = col_np(df, locf("x", w))
    exp = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    assert np.array_equal(got, exp)
    got_b = col_np(df, backfill("x", w))
    exp_b = np.array([3, 1, 1, 4, 4, 4, -2, np.nan])
    assert ((got_b == exp_b) | (np.isnan(got_b) & np.isnan(exp_b))).all()


def test_delta1_and_preemphasis(df):
    w = wspec()
    filled = locf("x", w)
    d = df.withColumn("v", filled)
    got = col_np(d, W.delta1("v", w))
    v = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    exp = np.concatenate([[0.0], np.diff(v)])
    assert np.allclose(got, exp)
    got_pe = col_np(d, W.preemphasis("v", w, 0.97))
    exp_pe = v - 0.97 * np.concatenate([[0.0], v[:-1]])
    assert np.allclose(got_pe, exp_pe)


def test_delta_trailing_edge_replication(df):
    w = wspec()
    d = df.withColumn("v", locf("x", w))
    got = col_np(d, W.delta_trailing("v", w, half=4))
    v = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    xp = np.concatenate([np.full(8, v[0]), v])
    exp = np.zeros(len(v))
    for m in range(1, 5):
        exp += m * (xp[4 + m : 4 + m + len(v)] - xp[4 - m : 4 - m + len(v)])
    exp /= 60.0
    assert np.allclose(got, exp)


def test_delta_centered(df):
    w = wspec()
    d = df.withColumn("v", locf("x", w))
    got = col_np(d, W.delta_centered("v", w, half=1))
    v = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    vp = np.concatenate([[v[0]], v, [v[-1]]])
    exp = (vp[2:] - vp[:-2]) / 2.0
    assert np.allclose(got, exp)


def test_rolling_stats_and_cumulative(df):
    w = wspec()
    d = df.withColumn("v", locf("x", w))
    v = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    got_m = col_np(d, W.rolling_mean("v", w, 3))
    exp_m = np.array([v[max(0, i - 2) : i + 1].mean() for i in range(len(v))])
    assert np.allclose(got_m, exp_m)
    got_s = col_np(d, W.rolling_std_pop("v", w, 3))
    exp_s = np.array([v[max(0, i - 2) : i + 1].std() for i in range(len(v))])
    assert np.allclose(got_s, exp_s)
    got_c = col_np(d, W.running_sum(F.col("v"), w))
    assert np.allclose(got_c, np.cumsum(v))
    got_rm = col_np(d, W.running_max("v", w))
    assert np.allclose(got_rm, np.maximum.accumulate(v))
    got_med = col_np(d, W.rolling_median("v", w, 3))
    exp_med = np.array([np.median(v[max(0, i - 2) : i + 1]) for i in range(len(v))])
    assert np.allclose(got_med, exp_med)


def test_weighted_window_savgol(df):
    w = wspec()
    d = df.withColumn("v", locf("x", w))
    v = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    # SG (5, 2): projection row for the window center of the LS quadratic
    x = np.arange(-2, 3, dtype=np.float64)
    coeffs = np.linalg.pinv(np.vander(x, 3, increasing=True))[0].tolist()
    # moving-average check: uniform weights == trailing mean with edge pad
    uni = [0.2] * 5
    got = col_np(d, W.weighted_window("v", w, uni))
    xp = np.concatenate([np.full(4, v[0]), v])
    exp = np.array([xp[i : i + 5].mean() for i in range(len(v))])
    assert np.allclose(got, exp)
    # SG coefficients reproduce a quadratic exactly at the (delayed) center
    q = np.arange(20, dtype=np.float64) ** 2
    qdf = d.sparkSession.createDataFrame(
        pd.DataFrame({"k": "a", "i": range(20), "v": q}), "k string, i int, v double"
    )
    got_sg = col_np(qdf, W.weighted_window("v", wspec(), coeffs))
    # for t >= 4 the window holds q[t-4..t]; center value is q[t-2]
    assert np.allclose(got_sg[4:], q[2:18])
    # the shipped (11, 3) literals are that same projection row, to the ulp
    x11 = np.arange(-5, 6, dtype=np.float64)
    row = np.linalg.pinv(np.vander(x11, 4, increasing=True))[0]
    assert np.max(np.abs(np.array(W.SAVGOL_11_3) - row)) < 1e-15
    assert abs(sum(W.SAVGOL_11_3) - 1.0) < 1e-15


def test_sign_change_rate(df):
    w = wspec()
    d = df.withColumn("v", locf("x", w))
    got = col_np(d, W.sign_change_rate("v", w, 4))
    v = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    flips = np.concatenate([[0.0], (np.sign(v[1:]) * np.sign(v[:-1]) < 0).astype(float)])
    exp = np.array([flips[max(0, i - 3) : i + 1].mean() for i in range(len(v))])
    assert np.allclose(got, exp)


def test_sessionize_merge_then_filter(spark, df):
    sid = with_session_id(df, keys=["k"], ts="ts", order=["i"], gap_sec=30.0)
    got = sid.toPandas().sort_values("i").session_id.to_numpy()
    # gaps: 5,5,40,5,65,5,1 → breaks at i=3 and i=5
    assert np.array_equal(got, np.array([0, 0, 0, 1, 1, 2, 2, 2]))
    b = session_bounds(sid, keys=["k"], min_rows=3).toPandas()
    assert set(b.session_id) == {0, 2}  # session 1 (2 rows) dropped AFTER merging


def test_top1_per_group(spark):
    pdf = pd.DataFrame({"g": ["a", "a", "b"], "v": [1.0, 5.0, 2.0], "id": [1, 2, 3]})
    d = spark.createDataFrame(pdf, "g string, v double, id int")
    out = W.top1_per_group(d, ["g"], [F.desc("v"), F.asc("id")]).toPandas()
    assert set(out.id) == {2, 3}


def test_clip(df):
    got = col_np(df.withColumn("v", locf("x", wspec())), clip("v", -1.0, 2.0))
    v = np.array([3, 3, 1, 1, 1, 4, -2, -2.0])
    assert np.allclose(got, np.clip(v, -1, 2))


def test_capped_session_panes(spark):
    """Sessions longer than the cap split into fixed panes from the anchor;
    a row exactly ON a pane boundary starts the next pane (exact-us)."""
    from datetime import datetime

    from audio_feature_extraction_spark.operators.sessionize import (
        with_capped_session_id,
    )

    rows = [
        # one gap-session (gaps < 100s), spanning 250s with 100s cap
        (1, 7, datetime(2024, 1, 1, 0, 0, 0)),    # pane 0 (anchor)
        (2, 7, datetime(2024, 1, 1, 0, 1, 39)),   # +99s  pane 0
        (3, 7, datetime(2024, 1, 1, 0, 1, 40)),   # +100s pane 1 (boundary)
        (4, 7, datetime(2024, 1, 1, 0, 3, 19)),   # +199s pane 1
        (5, 7, datetime(2024, 1, 1, 0, 4, 10)),   # +250s pane 2
        # gap > 100s -> new gap-session, anchor resets
        (6, 7, datetime(2024, 1, 1, 1, 0, 0)),    # session 1 pane 0
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = with_capped_session_id(
        df, keys=["user_id"], ts="ts", order=["ts", "event_id"],
        gap_sec=100.0, max_duration_sec=100.0,
    )
    got = {
        r["event_id"]: (r["session_id"], r["sub_session"]) for r in out.collect()
    }
    assert got == {1: (0, 0), 2: (0, 0), 3: (0, 1), 4: (0, 1), 5: (0, 2), 6: (1, 0)}


def test_rolling_median_all_null_frame(spark):
    """Regression (review-found): a trailing frame holding only NULLs
    collects an EMPTY array — index 0 crashes even try_element_at
    (INVALID_INDEX_OF_ZERO); the median must be NULL, not an error."""
    from datetime import datetime

    from pyspark.sql import Window

    from audio_feature_extraction_spark.operators.windows import rolling_median

    rows = [
        ("a", datetime(2024, 1, 1, 0, 0, 0), None),
        ("a", datetime(2024, 1, 1, 0, 0, 1), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    w = Window.partitionBy("k").orderBy("ts")
    out = df.select("ts", rolling_median("v", w, 3).alias("med")).collect()
    got = {r["ts"].second: r["med"] for r in out}
    assert got[0] is None and got[1] == 5.0
