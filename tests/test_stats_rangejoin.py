"""Unit tests for the projection/trim/normalization/band-join operators
(SURVEY.md P3/P4/P7, A9/A10, J5) on tiny hand-checked frames."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.rangejoin import band_join_stats
from audio_feature_extraction_spark.operators.stats import (
    histogram_counts,
    robust_normalize,
)
from audio_feature_extraction_spark.operators.windows import trim_to_active


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_trim_keeps_interior_inactive_rows(spark):
    df = spark.createDataFrame(
        [
            ("a", _ts(0), 1.0),   # leading quiet — dropped
            ("a", _ts(1), 9.0),   # first loud
            ("a", _ts(2), 1.0),   # interior quiet — KEPT (librosa.trim parity)
            ("a", _ts(3), 9.0),   # last loud
            ("a", _ts(4), 1.0),   # trailing quiet — dropped
            ("b", _ts(0), 1.0),   # all-quiet entity — fully dropped
        ],
        "k string, ts timestamp, v double",
    )
    out = trim_to_active(df, keys=["k"], ts="ts", active=F.col("v") >= 5.0)
    rows = sorted((r.k, r.ts.hour) for r in out.collect())
    assert rows == [("a", 1), ("a", 2), ("a", 3)]


def test_band_join_keeps_zero_candidate_left_rows(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(10)), (2, "u", _ts(23)), (3, "w", _ts(10))],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", _ts(9), 5.0), ("u", _ts(8), 3.0), ("u", _ts(22, 30), 7.0)],
        "k string, ts timestamp, val double",
    )
    out = band_join_stats(
        left, right, on=["k"], lo_sec=0.0, hi_sec=2 * 3600.0, value_col="val"
    )
    got = {r.event_id: (r.n_in_band, r.band_max) for r in out.collect()}
    # event 1 at 10:00 sees 09:00(5.0) and 08:00(3.0); event 2 at 23:00 sees
    # only 22:30(7.0); event 3 has no same-key rows at all but survives
    assert got == {1: (2, 5.0), 2: (1, 7.0), 3: (0, None)}


def test_band_join_excludes_future_rows(spark):
    """lo_sec=0 ⇒ point-in-time: right rows after left.ts never match."""
    left = spark.createDataFrame(
        [(1, "u", _ts(10))], "event_id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("u", _ts(11), 99.0)], "k string, ts timestamp, val double"
    )
    out = band_join_stats(
        left, right, on=["k"], lo_sec=0.0, hi_sec=86400.0, value_col="val"
    )
    assert out.collect()[0].n_in_band == 0


def test_robust_normalize_median_maps_to_zero(spark):
    df = spark.createDataFrame(
        [("g", float(x)) for x in range(1, 12)], "g string, v double"
    )
    out = robust_normalize(df, ["g"], "v").collect()
    by_v = {r.v: r.normalized for r in out}
    assert by_v[6.0] == pytest.approx(0.0, abs=1e-9)  # median → 0
    # IQR = 8.5 - 3.5 = 5; v=11 inside clip bounds (3.5-7.5=-4 .. 8.5+7.5=16)
    assert by_v[11.0] == pytest.approx(5.0 / (5.0 + 1e-8), rel=1e-9)


def test_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (99.0,), (250.0,)], "v double"
    )
    out = histogram_counts(df, "v", lo=0.0, hi=100.0, nbins=10)
    got = {r.bucket: r.n for r in out.collect()}
    assert got == {0: 3, 1: 1, 9: 2}  # -5 clamps to 0; 250 clamps to 9


def test_binpack_mix_false_matches_formula(spark):
    from audio_feature_extraction_spark.operators.binpack import with_bin_id

    df = spark.createDataFrame(
        [("g", i, 40) for i in range(10)], "g string, doc_id int, n_tok int"
    )
    out = with_bin_id(
        df,
        ["g"],
        payload_col="n_tok",
        order_cols=["doc_id"],
        target_payload_per_bin=100,
        out="bin",
    )
    got = {r.doc_id: r.bin for r in out.collect()}
    # cumsum 40,80,120,...,400 → floor((cum-1)/100): 0,0,1,1,1,2,2,3,3,3
    assert [got[i] for i in range(10)] == [0, 0, 1, 1, 1, 2, 2, 3, 3, 3]


def test_cosine_neardup_finds_planted_pairs(spark):
    from audio_feature_extraction_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planted = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001)).alias("embedding"),
        F.col("label"),
    )
    out = cosine_neardup_pairs(emb.unionByName(planted), threshold=0.9)
    pairs = sorted((r.id_a, r.id_b) for r in out.collect())
    assert pairs == [(i, i + 100_000) for i in range(5)]


def test_snr_metrics_population_std(spark):
    """Reference parity (np.std is ddof=0): cv/stability use POPULATION std,
    and a single-row group yields cv=0 / stability=1, not NULL."""
    import numpy as np

    from audio_feature_extraction_spark.operators.stats import snr_metrics

    df = spark.createDataFrame(
        [("a", 2.0), ("a", 4.0), ("a", 6.0), ("b", 5.0)], "k string, v double"
    )
    out = {r["k"]: r.asDict() for r in snr_metrics(df, ["k"], "v").collect()}
    std_pop = float(np.std([2.0, 4.0, 6.0]))  # ddof=0
    assert out["a"]["cv"] == pytest.approx(std_pop / (4.0 + 1e-8))
    assert out["b"]["cv"] == pytest.approx(0.0)
    assert out["b"]["stability"] == pytest.approx(1.0)


def test_histogram_excludes_null_and_nan(spark):
    """NULL/NaN rows must not inflate bucket 0 (greatest() skips NULLs)."""
    from audio_feature_extraction_spark.operators.stats import histogram_counts

    df = spark.createDataFrame(
        [(0.5,), (None,), (float("nan"),), (9.5,)], "v double"
    )
    out = {r["bucket"]: r["n"] for r in
           histogram_counts(df, "v", 0.0, 10.0, 10).collect()}
    assert out == {0: 1, 9: 1}


def test_robust_normalize_keeps_null_group(spark):
    """NULL group keys must be normalized within their own group, not
    silently dropped by a non-null-safe equi-join."""
    from audio_feature_extraction_spark.operators.stats import robust_normalize

    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (None, 3.0), ("a", 5.0)],
        "k string, v double",
    )
    out = robust_normalize(df, ["k"], "v").toPandas()
    assert len(out) == 4
    assert out[out.k.isna()].normalized.notna().all()


def test_band_join_stats_keeps_duplicate_left_rows(spark):
    """Two identical left rows must each get their own stats row — grouping
    on the left columns alone would merge them and double the counts."""
    from datetime import datetime

    from audio_feature_extraction_spark.operators.rangejoin import (
        band_join_stats,
    )

    t0 = datetime(2024, 1, 1, 0, 30, 0)
    l = spark.createDataFrame(
        [("a", t0), ("a", t0)], "k string, ts timestamp"
    )
    r = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 0, 0, 0)),
         ("a", datetime(2024, 1, 1, 0, 15, 0))],
        "k string, ts timestamp",
    )
    out = band_join_stats(l, r, on=["k"], lo_sec=0.0, hi_sec=3600.0).toPandas()
    assert len(out) == 2
    assert (out.n_in_band == 2).all()
