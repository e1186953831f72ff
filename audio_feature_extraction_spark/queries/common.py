"""Shared helpers: table loaders, window specs, event-table constants.

Used by the family modules, which declare their queries in ``QUERIES``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window


# events-table parameters: median same-user inter-event gap is ~7.7 h, so an
# 8 h gap sessionizes into multi-event sessions; 2-day as-of tolerance gives a
# healthy matched/unmatched mix (the missing-partner case stays exercised).
EV_GAP_SEC = 28_800.0

EV_TOL_SEC = 172_800.0

EV_GAP_US = int(EV_GAP_SEC * 1_000_000)

EV_TOL_US = int(EV_TOL_SEC * 1_000_000)

_WU = "PARTITION BY user_id ORDER BY ts, event_id"

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + the NULL-injected observation column ``v`` (missing-value
    analog of unvoiced F0, SURVEY.md P1). Single source of truth:
    plans.from_events.with_v / V_NULL_ABOVE — the same derivation the
    flagship pipeline uses, so the threshold can never drift between the
    two query families."""
    from audio_feature_extraction_spark.plans.from_events import with_v

    return with_v(_t(spark, sf_dir, "events"))

def _uw():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")

DAY_US = 86_400_000_000

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
