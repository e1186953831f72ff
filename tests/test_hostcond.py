"""tools/hostcond.py: the bench host-condition window flags noisy runs."""

from __future__ import annotations


def test_window_noisy_triggers():
    """VERDICT r05 #5: calibration drift must trigger a re-run even at
    zero steal (a round-5 benchmark pass: 1221.6 -> 850.0 at 1.35% steal)."""
    from tools.hostcond import window_noisy

    base = {"steal_pct": 0.5, "cpu_score_start": 1000.0,
            "cpu_score_end": 990.0}
    assert window_noisy(base, 2.0) == ""
    assert window_noisy({**base, "steal_pct": 6.8}, 2.0) == "steal"
    # that pass's numbers: >20% drift at low steal
    drifted = {"steal_pct": 1.35, "cpu_score_start": 1221.6,
               "cpu_score_end": 850.0}
    assert window_noisy(drifted, 2.0) == "cal_drift"
    # symmetric: a ramp UP is just as suspect for min-keeping
    assert window_noisy(
        {**base, "cpu_score_start": 700.0, "cpu_score_end": 1000.0}, 2.0
    ) == "cal_drift"


def test_hostwindow_forced_noise(monkeypatch):
    """Forced-noise path: SPARK_GRAFT_FAKE_CPU_SCORES drives the window's
    calibration scores so the trigger fires deterministically — the hook
    bench.py's host block exercises."""
    import tools.hostcond as hc

    monkeypatch.setenv("SPARK_GRAFT_FAKE_CPU_SCORES", "1221.6,850.0")
    monkeypatch.setattr(hc, "_FAKE_SCORE_IDX", 0)
    hw = hc.HostWindow().start()
    cond = hw.stop()
    assert cond["cpu_score_start"] == 1221.6
    assert cond["cpu_score_end"] == 850.0
    assert hc.window_noisy(cond, steal_threshold_pct=100.0) == "cal_drift"
