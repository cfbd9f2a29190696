"""Unit tests for bench.py's calibration gating (no Spark): the 20%
band separates this host's turbo/SMT jitter from real contention, and
the retry picks the attempt with the higher floor."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _p(calibs):
    return {"cpu_calib_mops": list(calibs)}


def test_steady_quiet_window_passes():
    # judge's quiet-window spread (18.6%) must NOT be flagged
    assert bench.calib_steady(_p([11.8, 11.3, 9.6]))


def test_contention_burst_fails():
    # the polluted r3 artifact (29% drop) must be flagged
    assert not bench.calib_steady(_p([13.3, 9.43, 13.7]))


def test_uniform_throttle_passes_by_design():
    # a uniformly-throttled window has no in-run swing — the gate
    # cannot catch it; the absolute calib value is the cross-run
    # normalizer (documented in BASELINE.md)
    assert bench.calib_steady(_p([5.0, 4.9, 5.1]))


def test_best_attempt_is_higher_floor():
    a = _p([13.0, 9.0, 13.0])   # contention dip
    b = _p([12.0, 11.5, 11.8])  # steady
    best = max([a, b], key=lambda p: min(p["cpu_calib_mops"]))
    assert best is b and bench.calib_steady(best)


def test_select_attempt_records_cold_attempt():
    # retry wins -> the artifact must still carry attempt 1's (cold)
    # total and calibration, plus which attempt won (r5, VERDICT r4 #4)
    a = {"cpu_calib_mops": [13.0, 9.0, 13.0], "value": 150.0}
    b = {"cpu_calib_mops": [12.0, 11.5, 11.8], "value": 95.0}
    out = bench.select_attempt([a, b])
    assert out["winning_attempt"] == 2 and out["value"] == 95.0
    assert out["attempt1_total_sec"] == 150.0
    assert out["attempt1_calib_mops"] == [13.0, 9.0, 13.0]
    assert out["n_attempts"] == 2 and not out["degraded"]


def test_select_attempt_single_attempt_annotates_itself():
    a = {"cpu_calib_mops": [12.0, 11.5, 11.8], "value": 95.0}
    out = bench.select_attempt([a])
    assert out["winning_attempt"] == 1
    assert out["attempt1_total_sec"] == 95.0
    assert out["n_attempts"] == 1 and not out["degraded"]


def test_select_attempt_carries_per_attempt_queries():
    # round 6 (VERDICT r5 #7): BOTH attempts' per-query timings ship in
    # the artifact so warm/cold regime switches stay comparable
    a = {"cpu_calib_mops": [13.0, 9.0, 13.0], "value": 150.0,
         "queries": {"q1": 9.0}}
    b = {"cpu_calib_mops": [12.0, 11.5, 11.8], "value": 95.0,
         "queries": {"q1": 5.0}}
    out = bench.select_attempt([a, b])
    assert [at["queries"] for at in out["attempts"]] == \
        [{"q1": 9.0}, {"q1": 5.0}]
    assert [at["total_sec"] for at in out["attempts"]] == [150.0, 95.0]
