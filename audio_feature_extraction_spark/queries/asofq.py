"""Point-in-time as-of join queries (every strategy and direction).

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from audio_feature_extraction_spark.operators.asof import asof_join
from audio_feature_extraction_spark.operators.asof import dedupe_right
from .common import EV_TOL_SEC, EV_TOL_US, _t


# --------------------------------------------------------------------------
# as-of joins (J4/J5) — every physical strategy against one oracle
# --------------------------------------------------------------------------


def _asof_frames(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("ref_value")
    )
    right = dedupe_right(right, on=["user_id"], ts="ts")
    return left, right

def _q_asof(strategy: str, direction: str = "backward"):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        left, right = _asof_frames(spark, sf_dir)
        return asof_join(
            left,
            right,
            on=["user_id"],
            left_ts="ts",
            tolerance_sec=EV_TOL_SEC,
            direction=direction,
            strategy=strategy,
        )

    return q

_SQL_ASOF_BACKWARD = f"""
WITH l AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, MAX(value) AS ref_value FROM events
           WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.ts, l.value,
  CASE WHEN r.ts IS NOT NULL
        AND epoch_us(l.ts) - epoch_us(r.ts) <= {EV_TOL_US}
       THEN r.ts END AS matched_ts,
  CASE WHEN r.ts IS NOT NULL
        AND epoch_us(l.ts) - epoch_us(r.ts) <= {EV_TOL_US}
       THEN r.ref_value END AS ref_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""

_SQL_ASOF_FORWARD = f"""
WITH l AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, MAX(value) AS ref_value FROM events
           WHERE event_type = 'purchase' GROUP BY user_id, ts),
     m AS (SELECT l.*,
           (SELECT MIN(r.ts) FROM r
            WHERE r.user_id = l.user_id AND r.ts >= l.ts) AS cand FROM l)
SELECT event_id, user_id, ts, value,
  CASE WHEN cand IS NOT NULL
        AND epoch_us(cand) - epoch_us(ts) <= {EV_TOL_US}
       THEN cand END AS matched_ts,
  CASE WHEN cand IS NOT NULL
        AND epoch_us(cand) - epoch_us(ts) <= {EV_TOL_US}
       THEN (SELECT r.ref_value FROM r
             WHERE r.user_id = m.user_id AND r.ts = m.cand) END AS ref_value
FROM m
"""


_SQL_ASOF_NEAREST = f"""
WITH l AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, MAX(value) AS ref_value FROM events
           WHERE event_type = 'purchase' GROUP BY user_id, ts),
     m AS (SELECT l.*,
           (SELECT MAX(r.ts) FROM r
            WHERE r.user_id = l.user_id AND r.ts <= l.ts) AS bc,
           (SELECT MIN(r.ts) FROM r
            WHERE r.user_id = l.user_id AND r.ts >= l.ts) AS fc FROM l),
     v AS (SELECT *,
           CASE WHEN bc IS NOT NULL
                 AND epoch_us(ts) - epoch_us(bc) <= {EV_TOL_US}
                THEN bc END AS vb,
           CASE WHEN fc IS NOT NULL
                 AND epoch_us(fc) - epoch_us(ts) <= {EV_TOL_US}
                THEN fc END AS vf
           FROM m),
     c AS (SELECT *,
           CASE WHEN vb IS NOT NULL AND (vf IS NULL OR
                  epoch_us(ts) - epoch_us(vb) <= epoch_us(vf) - epoch_us(ts))
                THEN vb
                WHEN vf IS NOT NULL THEN vf END AS mts
           FROM v)
SELECT event_id, user_id, ts, value, mts AS matched_ts,
  (SELECT r.ref_value FROM r
   WHERE r.user_id = c.user_id AND r.ts = c.mts) AS ref_value
FROM c
"""


QUERIES = {
    # a driver-contract name (ORDER, pins); the range-exchange strategy it
    # named measured slower than the window plan and was dropped
    "asof_range_merge": (_q_asof("window"), _SQL_ASOF_BACKWARD),
    "asof_backward": (_q_asof("window"), _SQL_ASOF_BACKWARD),
    "asof_salted": (_q_asof("salted"), _SQL_ASOF_BACKWARD),
    "asof_broadcast": (_q_asof("broadcast"), _SQL_ASOF_BACKWARD),
    # a driver-contract name (ORDER, pins); one broadcast matcher serves both
    "asof_broadcast_arrow": (_q_asof("broadcast"), _SQL_ASOF_BACKWARD),
    "asof_forward": (
        _q_asof("window", direction="forward"), _SQL_ASOF_FORWARD
    ),
    "asof_nearest": (
        _q_asof("window", direction="nearest"), _SQL_ASOF_NEAREST
    ),
}
