"""Regression tests for bench.py's recorded-floor scan.

Round-11 postmortem (VERDICT.md "What's wrong" #1/#2): the driver
records bench stdout with a ~2000-char tail capture; r11's output line
outgrew it, so BENCH_r11.json landed with ``"parsed": null`` — key
PRESENT, value null — and ``rec.get("parsed", rec)`` returned ``None``,
crashing every subsequent ``python bench.py`` run with an
AttributeError outside the except clause. These tests pin the two
fixes: the scan must tolerate parsed-null records, and the floor it
builds from the REAL recorded history must be non-empty and sane.
"""

from __future__ import annotations

import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


def test_recorded_floor_survives_parsed_null(tmp_path):
    """A driver record with parsed: null must be skipped, not crash."""
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"q1": 1.5}, "calibration_sec": 0.4}})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": None, "tail": "…truncated…", "rc": 0})
    )
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"parsed": {"queries": {"q1": 1.2}, "calibration_sec": 0.3}})
    )
    scan = bench.recorded_floor(str(tmp_path), max_load=1.0)
    assert scan["fq"] == {"q1": 1.2}
    assert scan["calib_floor"] == 0.3
    assert scan["used"] == ["BENCH_r01.json", "BENCH_r03.json"]


def test_recorded_floor_skips_contended_and_garbage(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q1": 9.0}, "contended": True})
    )
    (tmp_path / "BENCH_r02.json").write_text("not json at all")
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"queries": {"q1": 2.0}, "load_avg_start": 0.2})
    )
    scan = bench.recorded_floor(str(tmp_path), max_load=1.0)
    assert scan["fq"] == {"q1": 2.0}
    # contended round's queries still count as latest_q fallback source
    assert scan["used"] == ["BENCH_r03.json"]


def test_recorded_floor_on_real_history():
    """The scan over the ACTUAL repo history (incl. the poisoned
    BENCH_r11.json with parsed: null) must not raise and must yield a
    floor covering the headline suite."""
    scan = bench.recorded_floor(str(REPO), max_load=1.0)
    assert scan["fq"], "real history produced an empty floor"
    assert "q1_pricing_summary" in scan["fq"]
    # r11 is tail-truncated: it must never appear in `used`
    assert "BENCH_r11.json" not in scan["used"]


def test_cold_calibration_skips_warm_anchors():
    """Only a COLD anchor feeds the drift ratio, for the scan and for a
    pinned floor file alike: r01-r14 ``calibration_sec`` was cold, r15's
    was warm, r16+ name the cold one explicitly."""
    warm_only = {"calibration_sec": 0.2}
    assert bench.cold_calibration(warm_only, "BENCH_r07.json") == 0.2
    assert bench.cold_calibration(warm_only, "/x/BENCH_r15.json") is None
    assert bench.cold_calibration(warm_only, "/x/BENCH_r15_c8.json") is None
    assert bench.cold_calibration(warm_only, "pinned.json") is None
    both = {"calibration_sec": 0.2, "calibration_cold_sec": 0.5}
    assert bench.cold_calibration(both, "/x/BENCH_r16.json") == 0.5
