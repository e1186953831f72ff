"""Flagship point-in-time pipeline query + its oracle.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from audio_feature_extraction_spark.plans.pipeline import feature_pipeline
from audio_feature_extraction_spark.plans.from_events import reference_from_events
from audio_feature_extraction_spark.plans.from_events import sequences_from_events
from .common import EV_GAP_SEC, EV_GAP_US, EV_TOL_SEC, EV_TOL_US, _ev, _t


def _sequences_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequences_from_events(_ev(spark, sf_dir))

def _reference_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reference_from_events(_t(spark, sf_dir, "events"))

def _pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _sequences_from_events(spark, sf_dir)
    ref = _reference_from_events(spark, sf_dir)
    return feature_pipeline(seq, ref, gap_sec=EV_GAP_SEC, tol_sec=EV_TOL_SEC)

def _pipeline_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _pipeline(spark, sf_dir)
    el = lambda i: F.element_at("feature_vector", i)  # noqa: E731
    return out.select(
        "doc_id",
        "seq",
        "ts",
        "session_id",
        F.round(el(1), 6).alias("v_filled"),
        F.round(el(2), 6).alias("delta1"),
        F.round(el(3), 6).alias("delta9"),
        F.round(el(4), 6).alias("roll_mean"),
        F.round(el(5), 6).alias("roll_std"),
        el(7).cast("int").alias("n_tok"),
        el(8).cast("long").alias("cum_tokens"),
        F.round(el(9), 6).alias("ref0"),
        F.round(el(10), 6).alias("lag_sec"),
    )

# --------------------------------------------------------------------------
# flagship pipeline as a gated query
# --------------------------------------------------------------------------

_SQL_PIPELINE = f"""
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) AS doc_id,
         CAST(event_id AS INT) AS seq,
         user_id, ts,
         CASE WHEN value > 150 THEN NULL ELSE value END AS v,
         CAST((event_id % 31) + 2 AS INT) AS n_tok
  FROM events),
gaps AS (
  SELECT *,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
              OVER (PARTITION BY doc_id ORDER BY ts, seq) > {EV_GAP_US}
         THEN 1 ELSE 0 END AS is_new
  FROM base),
f AS (
  SELECT doc_id, seq, user_id, ts, n_tok,
    COALESCE(LAST_VALUE(v IGNORE NULLS) OVER wh, 0.0) AS v_filled,
    CAST(SUM(CAST(n_tok AS BIGINT)) OVER wh AS BIGINT) AS cum_tokens,
    CAST(SUM(is_new) OVER wh AS BIGINT) AS session_id
  FROM gaps
  WINDOW wh AS (PARTITION BY doc_id ORDER BY ts, seq ROWS UNBOUNDED PRECEDING)),
g AS (
  SELECT *,
    COALESCE(v_filled - LAG(v_filled) OVER w, 0.0) AS delta1,
    (0.0
     + 1.0 * (COALESCE(LAG(v_filled, 3) OVER w, FIRST_VALUE(v_filled) OVER wf)
            - COALESCE(LAG(v_filled, 5) OVER w, FIRST_VALUE(v_filled) OVER wf))
     + 2.0 * (COALESCE(LAG(v_filled, 2) OVER w, FIRST_VALUE(v_filled) OVER wf)
            - COALESCE(LAG(v_filled, 6) OVER w, FIRST_VALUE(v_filled) OVER wf))
     + 3.0 * (COALESCE(LAG(v_filled, 1) OVER w, FIRST_VALUE(v_filled) OVER wf)
            - COALESCE(LAG(v_filled, 7) OVER w, FIRST_VALUE(v_filled) OVER wf))
     + 4.0 * (v_filled
            - COALESCE(LAG(v_filled, 8) OVER w, FIRST_VALUE(v_filled) OVER wf))
    ) / 60.0 AS delta9,
    AVG(v_filled) OVER w5 AS roll_mean,
    COALESCE(STDDEV_POP(v_filled) OVER w5, 0.0) AS roll_std
  FROM f
  WINDOW w AS (PARTITION BY doc_id ORDER BY ts, seq),
         w5 AS (PARTITION BY doc_id ORDER BY ts, seq
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY doc_id ORDER BY ts, seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
r AS (SELECT user_id, ts, MAX(value) AS r0 FROM events
      WHERE event_type = 'purchase' GROUP BY user_id, ts),
m AS (SELECT g.*, r.ts AS rts, r.r0
      FROM g ASOF LEFT JOIN r ON g.user_id = r.user_id AND g.ts >= r.ts)
SELECT doc_id, seq, ts, session_id,
  ROUND(v_filled, 6) AS v_filled,
  ROUND(delta1, 6) AS delta1,
  ROUND(delta9, 6) AS delta9,
  ROUND(roll_mean, 6) AS roll_mean,
  ROUND(roll_std, 6) AS roll_std,
  n_tok, cum_tokens,
  ROUND(CASE WHEN rts IS NOT NULL
              AND epoch_us(ts) - epoch_us(rts) <= {EV_TOL_US}
        THEN r0 ELSE 0.0 END, 6) AS ref0,
  ROUND(CASE WHEN rts IS NOT NULL
              AND epoch_us(ts) - epoch_us(rts) <= {EV_TOL_US}
        THEN (epoch_us(ts) - epoch_us(rts)) / 1000000.0 ELSE -1.0 END, 6)
        AS lag_sec
FROM m
"""


QUERIES = {
    "pipeline_features": (_pipeline_scalar, _SQL_PIPELINE),
}
