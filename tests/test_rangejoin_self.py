"""interval_self_overlap_pairs (the start-bucket ⋈ cover-bucket
self-overlap join behind `session_overlap`), the query's packed/unpacked
pair-key branches and its plan-time fan-out guard."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from audio_feature_extraction_spark.operators.rangejoin import (
    interval_self_overlap_pairs,
)


def _brute_pairs(df: pd.DataFrame):
    """Unordered overlapping pairs, each once, as the operator orders them:
    side a = lexicographically smaller (start, key)."""
    want = set()
    rows = list(df.itertuples())
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            if a.s <= b.e and b.s <= a.e:
                ka, kb = (a, b) if (a.s, a.k) < (b.s, b.k) else (b, a)
                want.add((int(ka.k), int(ka.s), int(kb.k), int(kb.s)))
    return want


def test_self_overlap_pairs_vs_bruteforce(spark):
    """Random intervals (incl. negative epochs, zero-length, bucket-edge
    endpoints, multi-bucket spans): the operator's pair set == brute force,
    each pair exactly once, side a the earlier-(start, key) interval."""
    rng = np.random.default_rng(11)
    w_us = 1_000_000
    n = 150
    starts = rng.integers(-5 * w_us, 5 * w_us, n)
    lengths = rng.integers(0, 4 * w_us, n)
    # a few duplicate starts across keys to exercise the key tiebreak
    starts[10] = starts[20]
    starts[30] = starts[40]
    df = pd.DataFrame({"k": range(n), "s": starts, "e": starts + lengths})
    got = (
        interval_self_overlap_pairs(
            spark.createDataFrame(df), key="k", start="s", end="e",
            bucket_sec=1.0, parallelism=4,
        )
        .select("k_a", "s_a", "k_b", "s_b")
        .toPandas()
    )
    gotset = set(map(tuple, got.astype("int64").values.tolist()))
    assert len(got) == len(gotset), "duplicate pair emitted"
    assert gotset == _brute_pairs(df)


def _overlap_report_pandas(ev: pd.DataFrame, gap_us: int) -> pd.DataFrame:
    """Reference top-10 co-presence report (the session_overlap oracle's
    semantics, independently coded in pandas)."""
    sess = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        us = g["ts"].astype("int64").to_numpy()
        new = np.zeros(len(us), dtype=bool)
        new[1:] = (us[1:] - us[:-1]) > gap_us
        sid = np.cumsum(new)
        for s in range(sid.max() + 1):
            m = sid == s
            sess.append((uid, us[m].min(), us[m].max()))
    agg: dict = {}
    for i, (u1, s1, e1) in enumerate(sess):
        for u2, s2, e2 in sess[i + 1 :]:
            if u1 == u2 or not (s1 <= e2 and s2 <= e1):
                continue
            a, b = (u1, u2) if u1 < u2 else (u2, u1)
            ov = min(e1, e2) - max(s1, s2)
            n, t = agg.get((a, b), (0, 0))
            agg[(a, b)] = (n + 1, t + ov)
    rows = sorted(
        [(u1, u2, n, t) for (u1, u2), (n, t) in agg.items()],
        key=lambda r: (-r[2], -r[3], r[0], r[1]),
    )[:10]
    return pd.DataFrame(
        [(i + 1, *r) for i, r in enumerate(rows)],
        columns=["rank", "u1", "u2", "n_overlaps", "overlap_us"],
    )


def _run_overlap_case(spark, tmp_path, uid_base: int, subdir: str):
    from audio_feature_extraction_spark.queries.common import EV_GAP_US
    from audio_feature_extraction_spark.queries.sessions import (
        _q_session_overlap,
    )

    rng = np.random.default_rng(23)
    n_users, n_ev = 30, 900
    uids = uid_base + rng.integers(0, n_users, n_ev)
    ts = rng.integers(0, 40 * 86_400, n_ev) * 1_000_000
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": uids.astype("int64"),
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
    )
    d = tmp_path / subdir
    d.mkdir()
    spark.createDataFrame(ev).write.parquet(str(d / "events.parquet"))
    got = _q_session_overlap(spark, str(d)).toPandas()
    want = _overlap_report_pandas(
        ev.assign(ts=ev["ts"].astype("int64") // 1000), EV_GAP_US
    )
    got = got.astype("int64").reset_index(drop=True)
    want = want.astype("int64")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_session_overlap_packed_branch(spark, tmp_path):
    """Small user ids → the packed single-long pair key path."""
    _run_overlap_case(spark, tmp_path, uid_base=0, subdir="small")


def test_session_overlap_unpacked_branch(spark, tmp_path):
    """User ids above 2^31 → the two-column fallback path, same report."""
    _run_overlap_case(spark, tmp_path, uid_base=1 << 33, subdir="big")


def test_session_overlap_fanout_guard_raises(spark, tmp_path):
    """One user whose events are never a gap apart forms one session
    longer than 512 buckets × 1,800 s: the builder's stats job must
    refuse it before any pair is generated."""
    from audio_feature_extraction_spark.queries.common import EV_GAP_SEC
    from audio_feature_extraction_spark.queries.sessions import (
        _q_session_overlap,
    )

    step_s = 4 * 3600
    assert step_s < EV_GAP_SEC
    n_ev = 300 * 3600 // step_s + 1  # 300 h > 512 × 1,800 s = 256 h
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pd.to_datetime(np.arange(n_ev) * step_s, unit="s"),
            "user_id": np.int64(7),
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
    )
    d = tmp_path / "long"
    d.mkdir()
    spark.createDataFrame(ev).write.parquet(str(d / "events.parquet"))
    with pytest.raises(ValueError, match="fan-out cap"):
        _q_session_overlap(spark, str(d))
