"""Flagship end-to-end feature pipeline (SURVEY.md §7.2).

For every row of the input sequences table:
  sessionize by 30 s event-time gaps per doc_id, LOCF-backfill missing values,
  compute lag-1 delta + causal width-9 regression delta + trailing rolling
  stats + running token totals, as-of join each row to the latest preceding
  reference event for its (source, doc_id) within 300 s, and emit
  (doc_id, seq, ts, session_id, feature_vector array<double>, tokens).

Must match ``oracle.oracle_features`` (np.allclose on feature_vector,
bit-identical int32 tokens) — see tests/test_pipeline_oracle.py.

Physical shape: ONE hash exchange, two sorts and three Window nodes. The
as-of runs first with its union clustered on hash(doc_id) -- a strict subset
of the as-of window keys (source, doc_id), which still satisfies the window's
ClusteredDistribution -- and every feature window partitions by doc_id in
(ts, seq) order, so Spark reuses that partitioning and sorts once more. The
features are two window layers over that one spec, each a single ``select``
(one Window node each):

  layer 1 reads only input columns: the LOCF fill ``last(value)``, the
          running token total, and the session break flag (``lag(ts)``);
  layer 2 reads layer 1: lag-1 delta, width-9 delta, the rolling mean and
          std of the filled value, and the session id (running sum of the
          break flags).

A chain of ``withColumn`` calls would put one Window node per dependent
step over the fat token rows (five, plus the as-of one). The fat token rows
cross the wire exactly once. No pandas UDF anywhere -- the whole plan is JVM
window exec + projections, whole-stage-codegen eligible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.oracle import (
    ASOF_TOL_SEC,
    GAP_SEC,
    ROLL_WINDOW,
)
from audio_feature_extraction_spark.operators import windows as W
from audio_feature_extraction_spark.operators.asof import asof_join
from audio_feature_extraction_spark.operators.backfill import locf
from audio_feature_extraction_spark.operators.sessionize import (
    session_break,
    session_index,
)
from audio_feature_extraction_spark.operators.timeutil import ts_micros


def feature_pipeline(
    seq: DataFrame,
    ref: DataFrame,
    gap_sec: float = GAP_SEC,
    tol_sec: float = ASOF_TOL_SEC,
) -> DataFrame:
    # point-in-time reference lookup first (backward as-of, tolerance-bounded),
    # with the union clustered on doc_id alone — the one exchange of the run;
    # every window below reuses hash(doc_id) and plans sort-only
    matched = asof_join(
        seq,
        ref,
        on=["source", "doc_id"],
        left_ts="ts",
        tolerance_sec=tol_sec,
        direction="backward",
        strategy="window",
        cluster_on=["doc_id"],
    )

    w = Window.partitionBy("doc_id").orderBy("ts", "seq")

    # point-in-time backfill + windowed features (no further exchange), as
    # two window layers: each select over the one spec is one Window node
    layer1 = matched.select(
        "*",
        locf("value", w, default=0.0).alias("v_filled"),
        W.running_sum(F.col("n_tok").cast("long"), w).alias("cum_tokens"),
        session_break("ts", w, gap_sec).alias("__break"),
    )
    layer2 = layer1.select(
        "*",
        W.delta1("v_filled", w).alias("delta1"),
        W.delta_trailing("v_filled", w, half=4).alias("delta9"),
        W.rolling_mean("v_filled", w, ROLL_WINDOW).alias("roll_mean"),
        W.rolling_std_pop("v_filled", w, ROLL_WINDOW).alias("roll_std"),
        session_index("__break", w).alias("session_id"),
    )

    # exact µs subtraction first, one double division after (oracle parity)
    lag_sec = (
        (ts_micros("ts") - ts_micros("matched_ts")).cast("double") / 1e6
    )
    out = layer2.select(
        "doc_id",
        "seq",
        "ts",
        "session_id",
        F.array(
            F.col("v_filled"),
            F.col("delta1"),
            F.col("delta9"),
            F.col("roll_mean"),
            F.col("roll_std"),
            F.col("session_id").cast("double"),
            F.col("n_tok").cast("double"),
            F.col("cum_tokens").cast("double"),
            F.coalesce(F.try_element_at("ref_vec", F.lit(1)), F.lit(0.0)),
            F.coalesce(lag_sec, F.lit(-1.0)),
        ).alias("feature_vector"),
        "tokens",
    )
    return out
