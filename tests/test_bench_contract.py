"""Contract tests for bench.py's stdout JSON line.

The driver captures only the last ~2000 characters of bench stdout; if the
final JSON line grows past that window the driver records ``parsed: null``
and the round loses its official bench number (this happened in round 7 —
VERDICT r7 #1). These tests pin the line's size and shape against the worst
realistic registry width so the regression can't silently recur.
"""

from __future__ import annotations

import json

import bench


def _fake_run(n_stable: int, n_new: int):
    timings: dict[str, float] = {}
    spreads: dict[str, dict[str, float]] = {}
    stable_names = bench.HEADLINE[:n_stable]
    new_names = bench.HEADLINE2[:n_new]
    for name in stable_names + new_names:
        timings[name] = 12.3456
        spreads[name] = {"min": 12.3456, "median": 13.4567, "max": 14.5678}
    return timings, spreads


def test_stdout_line_fits_driver_capture():
    # 40 queries — wider than the real 24+20 registry headline split — with
    # worst-case 7-char timings must still leave slack inside the 2000-char
    # driver tail capture.
    timings, spreads = _fake_run(len(bench.HEADLINE), len(bench.HEADLINE2))
    line, _ = bench.build_outputs(
        timings, spreads, 0.1, 4, (12.34, 11.22, 10.11), (13.45, 12.33, 11.22)
    )
    assert len(line) < 1800, f"stdout line {len(line)} chars risks driver truncation"


def test_stdout_line_parses_and_keeps_driver_contract():
    timings, spreads = _fake_run(5, 3)
    line, detail = bench.build_outputs(
        timings, spreads, 0.1, 4, (1.0, 1.0, 1.0), (2.0, 2.0, 2.0)
    )
    obj = json.loads(line)
    assert obj["metric"] == "headline_queries_total_wall"
    assert obj["unit"] == "sec"
    assert obj["sf"] == 0.1
    assert set(obj["queries"]) == set(bench.HEADLINE[:5])
    assert obj["value"] == round(sum(obj["queries"].values()), 4)
    # round 12: the headline statistic is the per-query MEDIAN; the line
    # self-describes that and keeps the pre-r12 min for series continuity
    assert obj["stat"] == "median"
    assert obj["value_min"] == round(sum(12.3456 for _ in range(5)), 4)
    # bulky keys live in the detail payload, never on the line
    assert "spreads" not in obj and "queries_new_ops" not in obj
    assert set(detail["spreads"]) == set(bench.HEADLINE[:5]) | set(bench.HEADLINE2[:3])
    assert set(detail["queries_new_ops"]) == set(bench.HEADLINE2[:3])


def test_contended_flag_rides_the_line_and_detail():
    # r9: the series needs a self-flag for box contention (VERDICT r8) —
    # it must appear on BOTH outputs and default to the un-contended state
    timings, spreads = _fake_run(3, 2)
    line, detail = bench.build_outputs(
        timings, spreads, 0.1, 4, (9.0, 8.0, 7.0), (9.5, 8.5, 7.5),
        contended=True, quiet_wait_s=180.0,
    )
    obj = json.loads(line)
    assert obj["contended"] is True and obj["quiet_wait_s"] == 180.0
    assert detail["contended"] is True
    line2, _ = bench.build_outputs(
        timings, spreads, 0.1, 4, (0.1,) * 3, (0.2,) * 3
    )
    assert json.loads(line2)["contended"] is False


def test_calibration_rides_the_line_and_detail():
    # r10: the r9 bisect proved host-level drift invisible to loadavg and
    # steal counters — calib_s (fixed CPU-bound md5 probe) must ride BOTH
    # outputs so cross-round comparisons can self-normalize on its ratio.
    timings, spreads = _fake_run(3, 2)
    line, detail = bench.build_outputs(
        timings, spreads, 0.1, 4, (0,) * 3, (0,) * 3, calib_s=0.41237,
    )
    obj = json.loads(line)
    assert obj["calib_s"] == 0.4124
    assert detail["calib_s"] == 0.4124
    # r12: the calib-normalized headline rides the line (median ÷ calib),
    # and degrades to None rather than dividing by zero
    assert obj["value_per_calib"] == round(obj["value"] / 0.41237, 2)
    line0, _ = bench.build_outputs(
        timings, spreads, 0.1, 4, (0,) * 3, (0,) * 3, calib_s=0.0,
    )
    assert json.loads(line0)["value_per_calib"] is None


def test_multicore_calibration_rides_the_line_and_detail():
    # r14 (VERDICT r13 #2): the single-core probe missed a multi-core
    # steal mode (calib_s improved 17% while 10/24 untouched controls
    # read >10% worse); the N-way burst wall must ride BOTH outputs
    timings, spreads = _fake_run(3, 2)
    line, detail = bench.build_outputs(
        timings, spreads, 0.1, 4, (0,) * 3, (0,) * 3,
        calib_s=0.41237, calib_mc_s=0.81234, calib_nproc=32,
    )
    obj = json.loads(line)
    assert obj["calib_mc_s"] == 0.8123 and obj["calib_nproc"] == 32
    assert detail["calib_mc_s"] == 0.8123 and detail["calib_nproc"] == 32


def test_multicore_calibrate_runs_and_bounds():
    # tiny burst (2 procs, 1 rep) — just proves the fork/join plumbing;
    # wall must be positive and not wildly below the single-core unit
    # (each process does the same fixed work unit)
    mc = bench._calibrate_multicore(2, reps=1)
    assert mc > 0
    # two processes of one unit each cannot finish much faster than one
    # unit on one core; half of it leaves room for timer and cache noise
    assert mc >= 0.5 * bench._calibrate(reps=1)


def test_calibrate_is_positive_and_repeatable():
    a, b = bench._calibrate(reps=1), bench._calibrate(reps=1)
    assert a > 0 and b > 0
    # same fixed workload twice on the same box: within 5x of each other
    # (a loose sanity band — the probe measures the HOST, not the code)
    assert max(a, b) / min(a, b) < 5.0


def test_stable_series_value_excludes_new_ops():
    timings, spreads = _fake_run(3, 2)
    line, _ = bench.build_outputs(timings, spreads, 0.01, 1, (0,) * 3, (0,) * 3)
    obj = json.loads(line)
    assert obj["value"] == round(12.3456 * 3, 4)
    assert obj["value_new_ops"] == round(12.3456 * 2, 4)
