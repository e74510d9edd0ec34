"""Golden test for bench.report: the committed round-18 detail files
hold the raw measurements of the driver's bench runs, and replaying them
through report() must reproduce the contract line the driver recorded
(BENCH_r18*.json) byte for byte, plus every derived detail field.  No
Spark: report() is pure."""

from __future__ import annotations

import json
import pathlib

import pytest

import bench

ROOT = pathlib.Path(__file__).resolve().parents[1]
RAW = (
    "queries",
    "warm_medians",
    "warm_reps",
    "warm_arb",
    "tier_warm_arb",
    "twin_latency",
    "disk_cache",
    "sf",
)
# Stored detail fields that report() derives from RAW.
DERIVED = (
    "metric",
    "value",
    "unit",
    "warm_headline_sec",
    "warm_bucket_ratios",
    *(f"{b}_seconds" for b in bench.TIERS),
    *(f"{b}_vs_baseline" for b in bench.PINS),
    *(b for b in bench.TIERS),
)


def _load(name: str) -> dict:
    return json.loads((ROOT / name).read_text())


def _driver_line(name: str) -> str:
    """The last stdout line the driver captured (progress bars end in
    carriage returns, so the JSON follows the last one)."""
    tail = _load(name)["tail"]
    return tail.rstrip("\n").rsplit("\n", 1)[-1].rsplit("\r", 1)[-1]


def _report(detail_name: str) -> tuple[dict, dict, str]:
    stored = _load(detail_name)
    detail, line = bench.report({k: stored[k] for k in RAW})
    return stored, detail, line


@pytest.mark.parametrize(
    "detail_name,driver_artifact",
    [
        ("BENCH_DETAIL_readback_c32.json", "BENCH_r18.json"),
        ("BENCH_DETAIL_readback_c8.json", "BENCH_r18_c8.json"),
    ],
)
def test_report_reproduces_driver_line_and_detail(
    detail_name, driver_artifact
):
    stored, detail, line = _report(detail_name)
    assert line == _driver_line(driver_artifact)
    assert detail["cache_regime"] == "readback"
    for key in DERIVED:
        assert detail[key] == stored[key], key


def test_report_fresh_detail_uses_fresh_pins():
    """BENCH_DETAIL_FRESH.json is a build-inclusive pass (0 hits / 13
    builds) whose regime-specific ratios were stored against the
    READBACK pins, because the regime used to come from a flag the run
    did not set.  Derived from the cold-pass stamp, the regime is fresh
    and only those four ratios change."""
    stored, detail, _ = _report("BENCH_DETAIL_FRESH.json")
    assert detail["cache_regime"] == "fresh"
    corrected = {
        "beyond_vs_baseline": (1.651, 1.345),
        "growth_vs_baseline": (4.592, 1.659),
        "frontier_vs_baseline": (1.726, 1.075),
        "horizon_vs_baseline": (1.72, 1.503),
    }
    for key, (was, now) in corrected.items():
        assert (stored[key], detail[key]) == (was, now), key
    for key in DERIVED:
        if key not in corrected:
            assert detail[key] == stored[key], key


def test_warm_bucket_seconds_are_the_ratio_numerators():
    _, detail, line = _report("BENCH_DETAIL_readback_c32.json")
    assert "warm_bucket_seconds" not in json.loads(line)
    for key, sec in detail["warm_bucket_seconds"].items():
        pin = bench.PINS[key.removesuffix("_warm")]["readback"]
        assert round(sec / pin, 3) == detail["warm_bucket_ratios"][key]


@pytest.mark.parametrize(
    "hits,misses,regime",
    [(13, 0, "readback"), (0, 13, "fresh"), (5, 8, "mixed")],
)
def test_cache_regime_from_cold_pass_stamp(hits, misses, regime):
    stored = _load("BENCH_DETAIL_readback_c32.json")
    raw = {k: stored[k] for k in RAW}
    raw["disk_cache"] = {
        **raw["disk_cache"],
        "cold_pass": {"hits": hits, "misses": misses, "session_hits": 0},
    }
    detail, _ = bench.report(raw)
    assert detail["cache_regime"] == regime
    for b, pins in bench.PINS.items():
        got = detail[f"{b}_vs_baseline"]
        if regime == "mixed" and pins["fresh"] != pins["readback"]:
            assert got is None, b
        else:
            want = pins["readback" if regime == "mixed" else regime]
            assert got == round(detail[f"{b}_seconds"] / want, 3), b
