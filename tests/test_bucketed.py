"""Bucketed-input co-location (SURVEY.md §4.2 / the 100 TB zero-shuffle shape).

At cluster scale the input lives in a bucketed/sorted Iceberg table. A scan of
a table bucketed by doc_id satisfies every per-doc_id window's
ClusteredDistribution, so the broadcast as-of strategy followed by a per-doc
window shuffles the fat token rows ZERO times — the only exchange left is
the slim reference-dimension aggregation feeding the broadcast.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.asof import asof_join
from audio_feature_extraction_spark.oracle import ASOF_TOL_SEC


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _asof_then_window(seq, ref, **kw):
    m = asof_join(
        seq, ref, on=["source", "doc_id"], left_ts="ts",
        tolerance_sec=ASOF_TOL_SEC, **kw,
    )
    w = Window.partitionBy("doc_id").orderBy("ts", "seq")
    return m.select(
        "doc_id",
        "seq",
        "matched_ts",
        F.coalesce(F.try_element_at("ref_vec", F.lit(1)), F.lit(0.0)).alias("r0"),
        F.sum(F.col("n_tok").cast("long")).over(w).alias("cum_tokens"),
    )


def test_bucketed_scan_plus_broadcast_asof_is_zero_fat_shuffle(spark, tiny_df, tmp_path):
    seq, ref = tiny_df
    tbl = "seq_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        seq.write.bucketBy(8, "doc_id")
        .sortBy("doc_id", "ts")
        .option("path", str(tmp_path / tbl))
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    try:
        out = _asof_then_window(spark.table(tbl), ref, strategy="broadcast")
        plan = _plan(out)

        # the fat side never hash-exchanges: no exchange keyed on doc_id alone
        fat_ex = re.findall(r"Exchange hashpartitioning\(doc_id#\d+, \d+\)", plan)
        assert not fat_ex, plan
        # at most the slim ref-side agg exchange remains
        assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan
        assert "BroadcastHashJoin" in plan, plan

        # semantics unchanged vs the window strategy
        a = out.toPandas().sort_values(["doc_id", "seq"]).reset_index(drop=True)
        b = (
            _asof_then_window(seq, ref, strategy="window", cluster_on=["doc_id"])
            .toPandas()
            .sort_values(["doc_id", "seq"])
            .reset_index(drop=True)
        )
        assert a["matched_ts"].equals(b["matched_ts"])
        assert a["cum_tokens"].equals(b["cum_tokens"])
        assert np.array_equal(a["r0"].to_numpy(), b["r0"].to_numpy())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
