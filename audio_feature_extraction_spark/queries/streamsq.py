"""Tumbling and sliding event-time window aggregations over the events table.

Declares its queries in ``QUERIES``; oracle conventions: __spark_entry__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .common import _t


TUMBLE_US = 21_600_000_000  # 6 h

SLIDE_US = 10_800_000_000  # 3 h

def _q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time frames (W1, feature_extraction.py:35-45):
    6 h windows per event_type via the native window() operator.

    avg goes through an exact DECIMAL sum: at sf0.1 a group's float avg
    landed exactly on a round-half boundary (…3125e-6) and the two engines'
    different summation orders rounded opposite ways — decimal summation is
    order-independent, so the rounded avg is bit-identical at every SF."""
    ev = _t(spark, sf_dir, "events")
    # exact decimal SUM → cast to double → double division: both engines
    # then hold the IDENTICAL IEEE double. The final rounding is the
    # floor(x*1e6 + 0.5)/1e6 expression on BOTH sides — the engines' native
    # round() functions disagree at representation boundaries (Spark rounds
    # the exact BigDecimal of the double, DuckDB rounds a float product),
    # which is exactly what a 10×-data summation exposed.
    dsum = F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
    avg = dsum / F.count(F.lit(1))
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(avg * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                "avg_value"
            ),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "avg_value")
    )

_SQL_TUMBLING_COUNTS = f"""
SELECT make_timestamp(epoch_us(ts)
         - ((epoch_us(ts) % {TUMBLE_US}) + {TUMBLE_US}) % {TUMBLE_US})
         AS win_start,
       event_type, COUNT(*) AS n,
       FLOOR(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*)
             * 1e6 + 0.5) / 1e6 AS avg_value
FROM events GROUP BY 1, 2
"""

def _q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding frames (W1): 6 h window, 3 h hop — every event lands in 2
    windows (librosa.util.frame analog, 04_…/process_audio.py:104)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )

_SQL_SLIDING_COUNTS = f"""
SELECT make_timestamp(epoch_us(ts)
         - ((epoch_us(ts) % {SLIDE_US}) + {SLIDE_US}) % {SLIDE_US}
         - j * {SLIDE_US}) AS win_start,
       event_type, COUNT(*) AS n
FROM events, unnest([0, 1]) AS t(j)
GROUP BY 1, 2
"""


QUERIES = {
    "tumbling_counts": (_q_tumbling_counts, _SQL_TUMBLING_COUNTS),
    "sliding_counts": (_q_sliding_counts, _SQL_SLIDING_COUNTS),
}
