"""Per-entity ordered-window features (LOCF, deltas, rolling, smoothing, ranks).

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators import windows as W
from audio_feature_extraction_spark.operators import stats as _ST
from audio_feature_extraction_spark.operators.backfill import backfill
from audio_feature_extraction_spark.operators.backfill import locf
from audio_feature_extraction_spark.operators.timeutil import ts_micros
from audio_feature_extraction_spark.operators.windows import trim_to_active
from .common import DAY_US, _WU, _ev, _t, _uw


# --------------------------------------------------------------------------
# missing-value strategies (W10)
# --------------------------------------------------------------------------


def _q_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = _uw()
    return ev.select(
        "event_id",
        "user_id",
        locf("v", w, default=0.0).alias("v_locf"),
        backfill("v", w, default=None).alias("v_backfill"),
    )

_SQL_LOCF_FILL = f"""
WITH b AS (SELECT event_id, user_id, ts,
           CASE WHEN value > 150 THEN NULL ELSE value END AS v FROM events)
SELECT event_id, user_id,
  COALESCE(LAST_VALUE(v IGNORE NULLS)
           OVER ({_WU} ROWS UNBOUNDED PRECEDING), 0.0) AS v_locf,
  FIRST_VALUE(v IGNORE NULLS)
           OVER ({_WU} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS v_backfill
FROM b
"""

# --------------------------------------------------------------------------
# window features (W2-W9)
# --------------------------------------------------------------------------


def _q_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    return ev.select(
        "event_id",
        W.delta1("value", w).alias("d1"),
        W.lead_delta("value", w).alias("d_lead"),
    )

_SQL_LAG_LEAD_DELTA = f"""
SELECT event_id,
  COALESCE(value - LAG(value) OVER ({_WU}), 0.0) AS d1,
  COALESCE(LEAD(value) OVER ({_WU}) - value, 0.0) AS d_lead
FROM events
"""

def _duck_edge_lag(col: str, k: int) -> str:
    return (
        f"COALESCE(LAG({col}, {k}) OVER ({_WU}), "
        f"FIRST_VALUE({col}) OVER ({_WU} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"
    )

def _q_delta9(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    return ev.select(
        "event_id", F.round(W.delta_trailing("value", w, half=4), 6).alias("d9")
    )

# same term order & parenthesization as operators.windows.delta_trailing
_SQL_DELTA9 = f"""
SELECT event_id,
  ROUND((0.0
    + 1.0 * ({_duck_edge_lag("value", 3)} - {_duck_edge_lag("value", 5)})
    + 2.0 * ({_duck_edge_lag("value", 2)} - {_duck_edge_lag("value", 6)})
    + 3.0 * ({_duck_edge_lag("value", 1)} - {_duck_edge_lag("value", 7)})
    + 4.0 * (value - {_duck_edge_lag("value", 8)})) / 60.0, 6) AS d9
FROM events
"""

def _q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    return ev.select(
        "event_id",
        F.round(W.rolling_mean("value", w, 5), 6).alias("rmean"),
        F.round(W.rolling_std_pop("value", w, 5), 6).alias("rstd"),
        W.rolling_min("value", w, 5).alias("rmin"),
        W.rolling_max("value", w, 5).alias("rmax"),
    )

_SQL_ROLLING_STATS = f"""
SELECT event_id,
  ROUND(AVG(value) OVER w5, 6) AS rmean,
  ROUND(COALESCE(STDDEV_POP(value) OVER w5, 0.0), 6) AS rstd,
  MIN(value) OVER w5 AS rmin,
  MAX(value) OVER w5 AS rmax
FROM events
WINDOW w5 AS ({_WU} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""

def _q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    return ev.select(
        "event_id", F.round(W.rolling_median("value", w, 5), 6).alias("rmed")
    )

_SQL_ROLLING_MEDIAN = f"""
SELECT event_id,
  ROUND(MEDIAN(value) OVER ({_WU} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
  AS rmed
FROM events
"""

def _q_savgol(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    smooth = W.weighted_window("value", w, W.SAVGOL_11_3)
    return ev.select("event_id", F.round(smooth, 6).alias("smooth"))

def _sql_savgol() -> str:
    n = len(W.SAVGOL_11_3)
    terms = "".join(
        f"\n    + ({c!r}) * {_duck_edge_lag('value', n - 1 - i)}"
        for i, c in enumerate(W.SAVGOL_11_3)
    )
    return f"SELECT event_id, ROUND((0.0{terms}), 6) AS smooth FROM events"

def _q_gauss_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: gaussian convolutional smoothing (dtw_alignment.py:413-441) as a
    trailing fixed-weight windowed dot product — same physical shape as SG."""
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    coeffs = W.gaussian_coeffs(9, 2.0)
    return ev.select(
        "event_id", F.round(W.weighted_window("value", w, coeffs), 6).alias("smooth")
    )

def _sql_gauss() -> str:
    coeffs = W.gaussian_coeffs(9, 2.0)
    n = len(coeffs)
    terms = "".join(
        f"\n    + ({c!r}) * {_duck_edge_lag('value', n - 1 - i)}"
        for i, c in enumerate(coeffs)
    )
    return f"SELECT event_id, ROUND((0.0{terms}), 6) AS smooth FROM events"

def _q_preemph_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn("c", F.col("value") - 100.0)
    w = _uw()
    return ev.select(
        "event_id",
        F.round(W.preemphasis("value", w, 0.97), 6).alias("preemph"),
        F.round(W.sign_change_rate("c", w, 10), 6).alias("scr"),
    )

_SQL_PREEMPH_ZCR = f"""
WITH b AS (SELECT event_id, user_id, ts, value, value - 100.0 AS c FROM events),
flips AS (
  SELECT event_id, user_id, ts, value,
    COALESCE(CASE WHEN SIGN(c) * SIGN(LAG(c) OVER ({_WU})) < 0
             THEN 1.0 ELSE 0.0 END, 0.0) AS flip
  FROM b)
SELECT event_id,
  ROUND(value - 0.97 * COALESCE(LAG(value) OVER ({_WU}), 0.0), 6) AS preemph,
  ROUND(AVG(flip) OVER ({_WU} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS scr
FROM flips
"""

def _q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    return ev.select(
        "event_id",
        F.round(W.running_sum(F.col("value"), w), 6).alias("cum_value"),
        W.running_max("value", w).alias("cum_max"),
        F.row_number().over(w).alias("rn"),
    )

_SQL_RUNNING_TOTALS = f"""
SELECT event_id,
  ROUND(SUM(value) OVER ({_WU} ROWS UNBOUNDED PRECEDING), 6) AS cum_value,
  MAX(value) OVER ({_WU} ROWS UNBOUNDED PRECEDING) AS cum_max,
  ROW_NUMBER() OVER ({_WU}) AS rn
FROM events
"""

def _q_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = W.top1_per_group(
        ev, keys=["user_id"], order_cols=[F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("user_id", "event_id", "ts", "value")

_SQL_TOP1 = """
SELECT user_id, event_id, ts, value FROM (
  SELECT *, ROW_NUMBER()
    OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""

TRIM_THRESH = 170.0

def _q_trim_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-trim (P3): keep rows between the first and last loud row per
    user (librosa.effects.trim analog, core/feature_extractor.py:72)."""
    ev = _t(spark, sf_dir, "events")
    out = trim_to_active(
        ev, keys=["user_id"], ts="ts", active=F.col("value") >= TRIM_THRESH
    )
    return out.select("event_id", "user_id", "ts")

_SQL_TRIM_ACTIVE = f"""
WITH b AS (SELECT event_id, user_id, ts, value, epoch_us(ts) AS us FROM events),
m AS (SELECT *,
    MIN(CASE WHEN value >= {TRIM_THRESH} THEN us END)
        OVER (PARTITION BY user_id) AS lo,
    MAX(CASE WHEN value >= {TRIM_THRESH} THEN us END)
        OVER (PARTITION BY user_id) AS hi
  FROM b)
SELECT event_id, user_id, ts FROM m
WHERE lo IS NOT NULL AND us BETWEEN lo AND hi
"""

def _q_gate_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-gate + clip projection (P4/P7): clipped value on active rows,
    zero elsewhere (feature_extraction.py:143-183, :125-139)."""
    ev = _t(spark, sf_dir, "events")
    is_active = (F.col("event_type") != "error") & (F.col("value") > 50)
    return ev.select(
        "event_id",
        F.round(_ST.clip_gate(F.col("value"), is_active, 20.0, 180.0), 6).alias(
            "gated"
        ),
    )

_SQL_GATE_CLIP = """
SELECT event_id,
  ROUND(CASE WHEN event_type != 'error' AND value > 50
        THEN LEAST(GREATEST(value, 20.0), 180.0) ELSE 0.0 END, 6) AS gated
FROM events
"""

def _q_robust_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR-clip robust normalization per group (dtw_alignment.py:388-411)."""
    ev = _t(spark, sf_dir, "events")
    out = _ST.robust_normalize(ev, ["event_type"], "value", out="normalized")
    return out.select("event_id", F.round("normalized", 6).alias("normalized"))

_SQL_ROBUST_NORM = """
WITH s AS (
  SELECT event_type,
    QUANTILE_CONT(value, 0.25) AS q25,
    QUANTILE_CONT(value, 0.50) AS q50,
    QUANTILE_CONT(value, 0.75) AS q75
  FROM events GROUP BY 1)
SELECT event_id,
  ROUND((LEAST(GREATEST(value, q25 - 1.5 * (q75 - q25)),
               q75 + 1.5 * (q75 - q25)) - q50)
        / ((q75 - q25) + 1e-8), 6) AS normalized
FROM events JOIN s USING (event_type)
"""

def _q_delta9_centered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact centered librosa-style delta (W2 non-causal variant)."""
    ev = _t(spark, sf_dir, "events")
    w = _uw()
    return ev.select(
        "event_id", F.round(W.delta_centered("value", w, half=4), 6).alias("d9c")
    )

def _duck_edge_lead(col: str, k: int) -> str:
    return (
        f"COALESCE(LEAD({col}, {k}) OVER ({_WU}), "
        f"LAST_VALUE({col}) OVER ({_WU} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))"
    )

_SQL_DELTA9_CENTERED = f"""
SELECT event_id,
  ROUND((0.0
    + 1.0 * ({_duck_edge_lead("value", 1)} - {_duck_edge_lag("value", 1)})
    + 2.0 * ({_duck_edge_lead("value", 2)} - {_duck_edge_lag("value", 2)})
    + 3.0 * ({_duck_edge_lead("value", 3)} - {_duck_edge_lag("value", 3)})
    + 4.0 * ({_duck_edge_lead("value", 4)} - {_duck_edge_lag("value", 4)}))
    / 60.0, 6) AS d9c
FROM events
"""

def _q_time_range_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame (W12 time-based form): per user, count and sum
    over the trailing 24 h of *event time* — a range frame over int64 µs, not
    a row-count frame (ties included as frame peers on both engines)."""
    ev = _t(spark, sf_dir, "events").withColumn("us", ts_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-DAY_US, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.round(F.sum("value").over(w), 6).alias("sum_24h"),
    )

_SQL_TIME_RANGE_STATS = f"""
SELECT event_id,
  COUNT(*) OVER w AS n_24h,
  ROUND(SUM(value) OVER w, 6) AS sum_24h
FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {DAY_US} PRECEDING AND CURRENT ROW)
"""

def _q_delta9_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Δ² (delta-delta, W2): the trailing regression delta applied to its own
    output — the reference's stacked Δ/Δ² features
    (feature_extraction.py:208-211)."""
    ev = _t(spark, sf_dir, "events")
    out = W.delta2_trailing(
        ev, "value", keys=["user_id"], order=["ts", "event_id"], half=4, out="d2"
    )
    return out.select("event_id", F.round("d2", 6).alias("d2"))

def _duck_delta9_expr(col: str) -> str:
    """The causal width-9 regression delta as a DuckDB expression — same term
    order & parenthesization as operators.windows.delta_trailing."""
    return (
        "(0.0"
        f"\n    + 1.0 * ({_duck_edge_lag(col, 3)} - {_duck_edge_lag(col, 5)})"
        f"\n    + 2.0 * ({_duck_edge_lag(col, 2)} - {_duck_edge_lag(col, 6)})"
        f"\n    + 3.0 * ({_duck_edge_lag(col, 1)} - {_duck_edge_lag(col, 7)})"
        f"\n    + 4.0 * ({col} - {_duck_edge_lag(col, 8)})) / 60.0"
    )

_SQL_DELTA9_SECOND = f"""
WITH d1 AS (
  SELECT event_id, user_id, ts,
    {_duck_delta9_expr("value")} AS d9
  FROM events)
SELECT event_id, ROUND({_duck_delta9_expr("d9")}, 6) AS d2
FROM d1
"""

def _q_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value ranking family (§2.5): percent_rank, cume_dist and
    quartile ntile over (user, value, event_id-tiebroken) order — one
    window pass, standard SQL semantics shared by both engines."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )

_SQL_RANK_STATS = """
SELECT event_id, user_id,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 6) AS cume,
  CAST(NTILE(4) OVER w AS INT) AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
"""


QUERIES = {
    "locf_fill": (_q_locf_fill, _SQL_LOCF_FILL),
    "lag_lead_delta": (_q_lag_lead_delta, _SQL_LAG_LEAD_DELTA),
    "delta9": (_q_delta9, _SQL_DELTA9),
    "rolling_stats": (_q_rolling_stats, _SQL_ROLLING_STATS),
    "rolling_median": (_q_rolling_median, _SQL_ROLLING_MEDIAN),
    "savgol_smooth": (_q_savgol, _sql_savgol()),
    "gauss_smooth": (_q_gauss_smooth, _sql_gauss()),
    "preemph_zcr": (_q_preemph_zcr, _SQL_PREEMPH_ZCR),
    "running_totals": (_q_running_totals, _SQL_RUNNING_TOTALS),
    "top1_per_group": (_q_top1_per_group, _SQL_TOP1),
    "trim_active": (_q_trim_active, _SQL_TRIM_ACTIVE),
    "gate_clip": (_q_gate_clip, _SQL_GATE_CLIP),
    "robust_norm": (_q_robust_norm, _SQL_ROBUST_NORM),
    "delta9_centered": (_q_delta9_centered, _SQL_DELTA9_CENTERED),
    "time_range_stats": (_q_time_range_stats, _SQL_TIME_RANGE_STATS),
    "delta9_second": (_q_delta9_second, _SQL_DELTA9_SECOND),
    "rank_stats": (_q_rank_stats, _SQL_RANK_STATS),
}
