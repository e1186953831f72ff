"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer, covered  # noqa: E402

from audio_feature_extraction_spark.oracle import ASOF_TOL_SEC, oracle_features  # noqa: E402


def test_sequence_fingerprint_follows_seed(tmp_path):
    a = gen.write_sequences(7, 300, str(tmp_path / "a"))
    b = gen.write_sequences(7, 300, str(tmp_path / "b"))
    c = gen.write_sequences(8, 300, str(tmp_path / "c"))
    assert a == b
    assert a["digest"] != c["digest"]
    assert a["rows"] >= 3 * 300 and a["tokens"] >= 16 * a["rows"]


def test_registry_fingerprint_follows_seed(tmp_path):
    a = gen.write_registry(7, 100, 1000, str(tmp_path / "a"))
    b = gen.write_registry(7, 100, 1000, str(tmp_path / "b"))
    c = gen.write_registry(8, 100, 1000, str(tmp_path / "c"))
    assert a == b
    assert a["digest"] != c["digest"]


def test_sequence_shape_follows_fixtures():
    seq, ref = gen.sequences(3, 2000)
    s = seq.to_pandas()
    docs = s.drop_duplicates("doc_id")
    assert 0.55 < (docs["source"] == "web").mean() < 0.65
    assert 0.12 < s["value"].isna().mean() < 0.18
    assert s["n_tok"].between(16, 256).all()
    assert (s["tokens"].map(len) == s["n_tok"]).all()
    assert s["tokens"].iloc[0].dtype == np.int32
    no_ref = 1 - ref.to_pandas()["doc_id"].nunique() / len(docs)
    assert 0.25 < no_ref < 0.35


@pytest.fixture(scope="module")
def oracle_pair():
    seq, ref = gen.sequences(5, 30)
    want = oracle_features(seq.to_pandas(), ref.to_pandas())
    return want, want.copy(deep=True)


def test_identical_features_pass(oracle_pair):
    want, got = oracle_pair
    assert checks.check_features(got, want) == []
    lags = np.stack(got["feature_vector"].to_numpy())[:, checks.LAG_SLOT]
    assert checks.check_lags(lags, ASOF_TOL_SEC) == []


def test_flipped_token_fails(oracle_pair):
    want, got = oracle_pair
    got = got.copy(deep=True)
    tok = got.at[5, "tokens"].copy()
    tok[0] ^= 1
    got.at[5, "tokens"] = tok
    errs = checks.check_features(got, want)
    assert len(errs) == 1 and "token arrays differ" in errs[0]


def test_changed_feature_fails(oracle_pair):
    want, got = oracle_pair
    got = got.copy(deep=True)
    fv = got.at[3, "feature_vector"].copy()
    fv[1] += 1e-6
    got.at[3, "feature_vector"] = fv
    assert any("not allclose" in e for e in checks.check_features(got, want))


@pytest.mark.parametrize("lag", [-0.5, ASOF_TOL_SEC + 1.0, float("nan")])
def test_leaked_lag_fails(lag):
    lags = np.array([-1.0, 0.0, 12.5, ASOF_TOL_SEC, lag])
    errs = checks.check_lags(lags, ASOF_TOL_SEC)
    assert len(errs) == 1 and "1 rows" in errs[0]


def test_totals_and_resume_checks():
    ok = {"rows": 10, "hash": 123}
    assert checks.check_totals("x", ok, dict(ok)) == []
    assert len(checks.check_totals("x", ok, {"rows": 10, "hash": 124})) == 1
    assert checks.check_resume(0, ok, dict(ok), 1.0) == []
    assert len(checks.check_resume(1, ok, {"rows": 9, "hash": 123}, 1.25)) == 3


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_is_duration_minus_child_coverage():
    t = Tracer()
    with t.span("root") as root:
        with t.span("a") as a:
            with t.span("a.inner"):
                pass
        with t.span("b") as b:
            pass
    kids = [(a.start, a.end), (b.start, b.end)]
    assert t.self_time(root) == pytest.approx(
        root.duration - covered(kids, root.start, root.end)
    )
    assert a.parent == root.sid and b.parent == root.sid
    # hand-built spans pin the arithmetic exactly
    t = Tracer()
    t.spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps the first child
        _span(3, 1, 1.5, 2.0),  # grandchild: covered by its parent already
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - 5.0)
    assert t.self_time(t.spans[1]) == pytest.approx(3.0 - 0.5)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def _span(sid, parent, start, end):
    from tracing import Span

    return Span(sid, f"s{sid}", parent, start, end)
