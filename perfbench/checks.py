"""Output checks, run outside the timed region.

Each check returns a list of error strings; an empty list means the output
is correct. The functions take plain numbers and pandas frames so they can
be tested without a Spark session.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

RTOL, ATOL = 1e-9, 1e-12
LAG_SLOT = 9  # feature_vector index of the as-of lag in seconds


def lag_violations(lag_sec: np.ndarray, tol_sec: float) -> np.ndarray:
    """Rows whose as-of lag is neither the unmatched sentinel -1 nor within
    [0, tol]: a negative lag matched a future reference event (leakage), a
    lag above tol matched outside the tolerance."""
    lag = np.asarray(lag_sec, dtype=np.float64)
    ok = (lag == -1.0) | ((lag >= 0.0) & (lag <= tol_sec))
    return np.flatnonzero(~ok)


def check_totals(what: str, expect: dict, got: dict) -> list[str]:
    """Row count and order-independent content hash must match."""
    return [
        f"{what}: {k} expected {expect[k]} got {got[k]}"
        for k in ("rows", "hash")
        if expect[k] != got[k]
    ]


def check_lags(lag_sec: np.ndarray, tol_sec: float) -> list[str]:
    bad = lag_violations(lag_sec, tol_sec)
    if not len(bad):
        return []
    return [
        f"lag_sec: {len(bad)} rows outside {{-1}} ∪ [0, {tol_sec}], "
        f"first {np.asarray(lag_sec)[bad[:3]].tolist()}"
    ]


def check_features(got: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """Engine rows against ``oracle.oracle_features`` for the same docs:
    identical keys, session ids and int32 tokens; allclose feature
    vectors."""
    key = ["doc_id", "seq"]
    a = got.sort_values(key).reset_index(drop=True)
    b = oracle.sort_values(key).reset_index(drop=True)
    if len(a) != len(b) or not (a[key].to_numpy() == b[key].to_numpy()).all():
        return [f"features: row keys differ ({len(a)} engine vs {len(b)} oracle)"]
    errs = []
    ts_a = a["ts"].to_numpy().astype("datetime64[us]")
    ts_b = b["ts"].to_numpy().astype("datetime64[us]")
    if not (ts_a == ts_b).all():
        errs.append("features: ts differs")
    if not (a["session_id"].to_numpy() == b["session_id"].to_numpy()).all():
        errs.append("features: session_id differs")
    bad_tok = [
        i
        for i, (x, y) in enumerate(zip(a["tokens"], b["tokens"]))
        if np.asarray(x).dtype != np.int32 or not np.array_equal(x, y)
    ]
    if bad_tok:
        r = a.iloc[bad_tok[0]]
        errs.append(
            f"features: {len(bad_tok)} token arrays differ, first "
            f"{r['doc_id']}/{r['seq']}"
        )
    fa = np.stack(a["feature_vector"].to_numpy())
    fb = np.stack(b["feature_vector"].to_numpy())
    close = np.isclose(fa, fb, rtol=RTOL, atol=ATOL)
    if not close.all():
        i, j = np.argwhere(~close)[0]
        errs.append(
            f"features: {int((~close).sum())} values not allclose, first "
            f"row {i} slot {j}: {fa[i, j]!r} vs {fb[i, j]!r}"
        )
    return errs


def check_resume(
    verify_rows: int, expect: dict, got: dict, recommit_ratio: float
) -> list[str]:
    errs = []
    if verify_rows:
        errs.append(f"checkpoint: verify() reports {verify_rows} bad snapshots")
    errs += check_totals("checkpoint table vs pipeline", expect, got)
    if recommit_ratio != 1.0:
        errs.append(f"checkpoint: recommit_ratio {recommit_ratio} != 1.0")
    return errs
