"""As-of join operator unit tests (SURVEY.md J4/J5): direction, tolerance,
ties, missing partners, strategy equivalence, input validation."""

import re

import numpy as np
import pandas as pd
import pytest

from audio_feature_extraction_spark.operators.asof import (
    DIRECTIONS,
    STRATEGIES,
    asof_join,
    dedupe_right,
)

LEFT = pd.DataFrame(
    {
        "k": ["a"] * 5 + ["b"] * 3 + ["c"] * 1,
        "ts": pd.to_datetime(
            [
                "2024-01-01 00:00:00",
                "2024-01-01 00:00:05",
                "2024-01-01 00:00:05",  # duplicate left ts (tie case)
                "2024-01-01 00:01:00",
                "2024-01-01 00:10:00",
                "2024-01-01 00:00:01",
                "2024-01-01 00:00:02",
                "2024-01-01 00:05:00",
                "2024-01-01 00:00:30",  # key 'c' has no right rows (anti case)
            ]
        ),
        "lid": list(range(9)),
    }
)

RIGHT = pd.DataFrame(
    {
        "k": ["a"] * 3 + ["b"] * 2,
        "ts": pd.to_datetime(
            [
                "2024-01-01 00:00:03",
                "2024-01-01 00:00:05",  # equal-ts right row: backward must match it
                "2024-01-01 00:02:00",
                "2024-01-01 00:00:00",
                "2024-01-01 00:04:00",
            ]
        ),
        "rv": [1.0, 2.0, 3.0, 10.0, 20.0],
    }
)


def expected(direction="backward", tol=None):
    t = pd.Timedelta(seconds=tol) if tol is not None else None
    l = LEFT.sort_values("ts", kind="mergesort")
    r = RIGHT.sort_values("ts", kind="mergesort").rename(columns={"ts": "matched_ts"})
    out = pd.merge_asof(
        l, r, left_on="ts", right_on="matched_ts", by="k", direction=direction, tolerance=t
    )
    return out.sort_values("lid").reset_index(drop=True)


@pytest.fixture(scope="module")
def dfs(spark):
    return (
        spark.createDataFrame(LEFT, schema="k string, ts timestamp, lid int"),
        spark.createDataFrame(RIGHT, schema="k string, ts timestamp, rv double"),
    )


def check(out_pdf, direction="backward", tol=None):
    out = out_pdf.sort_values("lid").reset_index(drop=True)
    exp = expected(direction, tol)
    assert len(out) == len(exp)
    ov, ev = out.rv.to_numpy(), exp.rv.to_numpy()
    assert ((ov == ev) | (np.isnan(ov) & np.isnan(ev))).all(), (ov, ev)
    om = pd.to_datetime(out.matched_ts).to_numpy()
    em = pd.to_datetime(exp.matched_ts).to_numpy()
    assert ((om == em) | (pd.isna(om) & pd.isna(em))).all()


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("tol", [None, 60.0])
def test_backward(dfs, strategy, tol):
    l, r = dfs
    out = asof_join(l, r, on=["k"], tolerance_sec=tol, strategy=strategy).toPandas()
    check(out, "backward", tol)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_forward(dfs, strategy):
    l, r = dfs
    out = asof_join(l, r, on=["k"], direction="forward", strategy=strategy).toPandas()
    check(out, "forward", None)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_null_payload_partner_wins(spark, strategy):
    """Regression (hypothesis-found): a right row whose PAYLOAD is NULL is
    still the as-of partner — the join must return its NULL, not resurrect
    an older non-NULL payload. 'No partner' and 'partner with NULL value'
    are different answers."""
    from datetime import datetime

    l = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 0, 0, 1), 0)],
        schema="k string, ts timestamp, lid int",
    )
    r = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 0, 0, 0), 7.0),
            ("a", datetime(2024, 1, 1, 0, 0, 1), None),
        ],
        schema="k string, ts timestamp, rv double",
    )
    out = asof_join(l, r, on=["k"], strategy=strategy).toPandas()
    assert len(out) == 1
    assert pd.Timestamp(out.matched_ts.iloc[0]) == pd.Timestamp(
        "2024-01-01 00:00:01"
    )
    assert pd.isna(out.rv.iloc[0])


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_null_key_equivalence(spark, strategy):
    """NULL join keys must behave identically across every physical
    strategy: NULL-key left rows match the NULL-key right history (the
    window's partitionBy groups NULLs together; broadcast joins
    null-safe)."""
    l = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [None, None, "a", None],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00:02", "2024-01-01 00:00:09",
                     "2024-01-01 00:00:05", "2024-01-01 00:00:00"]
                ),
                "lid": [0, 1, 2, 3],
            }
        ),
        schema="k string, ts timestamp, lid int",
    )
    r = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [None, "a"],
                "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:04"]),
                "rv": [7.0, 1.0],
            }
        ),
        schema="k string, ts timestamp, rv double",
    )
    out = (
        asof_join(l, r, on=["k"], strategy=strategy)
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    want = [7.0, 7.0, 1.0, np.nan]
    ov = out.rv.to_numpy()
    assert ((ov == want) | (np.isnan(ov) & np.isnan(want))).all(), (strategy, ov)


def test_dedupe_right(spark):
    r = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a"],
                "ts": pd.to_datetime(["2024-01-01", "2024-01-01"]),
                "rv": [1.0, 5.0],
            }
        ),
        schema="k string, ts timestamp, rv double",
    )
    out = dedupe_right(r, on=["k"], ts="ts").toPandas()
    assert len(out) == 1 and out.rv.iloc[0] == 5.0


def test_null_left_ts_never_matches_any_strategy(spark):
    """A NULL left-ts row has no position in time: every strategy and
    direction must return NULL matches (pandas merge_asof parity; review
    finding r03 — the forward window's desc sort is NULLS LAST, which
    otherwise exposed every right row to NULL-ts left rows)."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [("a", None, 1.0)], "k string, ts timestamp, v double"
    )
    right = spark.createDataFrame(
        [("a", "2024-01-01 00:00:05", 1.0), ("a", "2024-01-01 00:00:15", 2.0)],
        "k string, ts string, rv double",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "rv")
    for strat in STRATEGIES:
        for d in DIRECTIONS:
            row = asof_join(
                left, right, on=["k"], left_ts="ts",
                direction=d, strategy=strat,
            ).collect()[0]
            assert row["matched_ts"] is None and row["rv"] is None, (strat, d)


@pytest.mark.parametrize(
    "kw, accepted",
    [
        ({"strategy": "range_merge"}, re.escape(str(STRATEGIES))),
        ({"strategy": "Window"}, "salted"),
        ({"direction": "sideways"}, "nearest"),
        ({"cluster_on": ["lid"]}, "subset"),
        ({"cluster_on": ["k"], "strategy": "salted"}, "window"),
    ],
    ids=[
        "deleted-strategy", "unknown-strategy", "unknown-direction",
        "cluster-not-subset", "cluster-not-window",
    ],
)
def test_invalid_strategy_or_direction_raises(dfs, kw, accepted):
    """An unknown or deleted strategy, an unknown direction, or a
    cluster_on the plan would ignore or cannot use fails at call time with
    the accepted values named, instead of running some other plan (an
    assert would be stripped under python -O)."""
    l, r = dfs
    with pytest.raises(ValueError, match=accepted):
        asof_join(l, r, on=["k"], **kw)
