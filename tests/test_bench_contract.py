"""The bench stdout contract line must stay inside the driver's 2000-char
tail window REGARDLESS of data widths (round-12 verdict #1: the old
72-query map made line length data-dependent and BENCH_r12.json recorded
rc=1/parsed:null when more floats tipped over 1.0 s).

These tests exercise bench.report directly — no Spark — with
worst-case numeric widths and maximal-length query names, so a structural
addition that could re-overflow the window fails in pytest, not in the
driver's once-per-round bench run.
"""

from __future__ import annotations

import json
from unittest import mock

import bench


def _line(
    sf_val=0.1,
    *,
    cold_pass=(99_999, 0),
    name_len=64,
    seconds=8_640_000.999,
):
    # Every query name at an implausible 64 chars and every timing at a
    # 100-days-in-seconds width — far beyond anything a real pass can
    # produce (the slowest real query is ~3 s at sf0.1).  report() reads
    # the bucket of each name from bench.QUERIES, so the synthetic names
    # get a synthetic table with the real bucket names.
    sizes = {"headline": 72, "extras": 130, "archive": 22}
    table = {
        f"{b}{i:03d}".ljust(name_len, "x"): (b, 1.0)
        for b in ("headline", *bench.TIERS)
        for i in range(sizes.get(b, 50))
    }
    times = dict.fromkeys(table, seconds)
    headline = {n: seconds for n, (b, _) in table.items() if b == "headline"}
    tiered = {n: seconds for n in times if n not in headline}
    # All ELEVEN measured twins (not just the pinned five), at worst-case
    # width, so the new per-twin p50 map is bounded under the real twin
    # count.
    from scala_reactivex_spark.streaming.latency import DEFAULT_TWINS

    twin_latency = {
        k: {"p50_trigger_ms": 8_640_000_000.9} for k in DEFAULT_TWINS
    }
    raw = {
        "queries": times,
        "warm_medians": {
            f"w{i:03d}".ljust(name_len, "x"): seconds for i in range(20)
        },
        "warm_reps": 3,
        "warm_arb": headline if sf_val == 0.1 else {},
        "tier_warm_arb": tiered if sf_val == 0.1 else {},
        "twin_latency": twin_latency,
        "disk_cache": {
            "root": "/",
            "prepopulated_indexes": 99_999,
            "cold_pass": {
                "hits": cold_pass[0],
                "misses": cold_pass[1],
                "session_hits": 0,
            },
        },
        "sf": sf_val,
    }
    with mock.patch.object(bench, "QUERIES", table):
        return bench.report(raw)[1]


def test_contract_line_bounded_under_worst_case_widths():
    # readback, fresh and mixed cold-pass stamps
    for cold_pass in ((99_999, 0), (0, 99_999), (99_999, 99_999)):
        line = _line(cold_pass=cold_pass)
        assert len(line) < 1800, len(line)
        assert "\n" not in line


def test_contract_line_parses_and_carries_every_pin_ratio():
    parsed = json.loads(_line())
    for key in (
        "value",
        "extras_vs_baseline",
        "archive_seconds",
        "archive_vs_baseline",
        "beyond_seconds",
        "beyond_vs_baseline",
        "growth_seconds",
        "growth_vs_baseline",
        "frontier_seconds",
        "frontier_vs_baseline",
        "horizon_seconds",
        "horizon_vs_baseline",
        "summit_seconds",
        "warm_headline_sec",
        "twin_vs_baseline",
        "warm20_sec",
        "dcache",
        # r18 additions (r17 verdict #4/#8)
        "extras_warm",
        "archive_warm",
        "beyond_warm",
        "growth_warm",
        "frontier_warm",
        "horizon_warm",
        "twin_p50",
    ):
        assert key in parsed, key
        assert parsed[key] is not None, key
    # The per-twin p50 map carries every measured twin, prefix-stripped.
    from scala_reactivex_spark.streaming.latency import DEFAULT_TWINS

    assert set(parsed["twin_p50"]) == {
        t.removeprefix("twin_") for t in DEFAULT_TWINS
    }
    # The per-query map is capped at the slowest 5 — never the full set.
    assert len(parsed["queries"]) == 5


def test_contract_line_shorter_than_r16_shape():
    """r16 verdict #4 retired the new/newer/newest fields for good; the
    r17 verdict #4/#8 then ADDED seven observability fields (six
    per-bucket warm companions + the per-twin p50 map), so the cap is
    the r17 shape's 24 plus exactly those seven."""
    parsed = json.loads(_line())
    assert len(parsed) <= 31, sorted(parsed)
    for retired in ("new_vs_baseline", "newer_seconds", "newest_seconds"):
        assert retired not in parsed


def test_contract_line_non_sf01_omits_scale_specific_ratios():
    parsed = json.loads(_line(sf_val=0.01))
    assert parsed["extras_vs_baseline"] is None
    assert parsed["archive_vs_baseline"] is None
    assert parsed["beyond_vs_baseline"] is None
    assert parsed["growth_vs_baseline"] is None
    assert parsed["frontier_vs_baseline"] is None
    assert parsed["horizon_vs_baseline"] is None
    assert parsed["twin_vs_baseline"] is None
    for k in (
        "extras_warm",
        "archive_warm",
        "beyond_warm",
        "growth_warm",
        "frontier_warm",
        "horizon_warm",
    ):
        assert parsed[k] is None, k


def test_frozen_suites_are_closed_sets():
    sizes = {b: len(refs) for b, refs in bench.SUITES.items()}
    assert sizes == {
        "headline": 72,
        "extras": 130,
        "archive": 22,
        "beyond": 10,
        "growth": 7,
        "frontier": 8,
        "horizon": 7,
        "summit": 0,
        "exclude": 8,
    }
    # No query sits in two buckets (the flat view would hide it) ...
    assert len(bench.QUERIES) == sum(sizes.values())
    # ... and the table covers exactly the registry (bench.main refuses
    # to time a drifted table).
    from scala_reactivex_spark.plans.registry import registry

    assert set(bench.QUERIES) == set(registry())
    # Regime-specific pins — both regimes must be present.
    for bucket, pins in bench.PINS.items():
        assert set(pins) == {"fresh", "readback"}, bucket
    assert set(bench.PINS) == set(bench.TIERS) - {"summit"}
    # The archive pin is the exact sum of its three retired components.
    assert bench.PINS["archive"]["readback"] == 14.9 + 4.77 + 2.33
    assert bench.PINS["archive"]["fresh"] == 14.9 + 4.77 + 2.33


def test_warm_headline_reference_covers_exactly_the_frozen_72():
    """The arbitration anchor must cover the headline suite exactly:
    a missing entry would silently skip arbitration for that query, an
    extra entry would arbitrate a tiered query into the wrong total."""
    refs = {n: r for n, (b, r) in bench.QUERIES.items() if b == "headline"}
    assert len(refs) == 72
    assert all(v > 0 for v in refs.values())


def test_tiered_warm_reference_covers_exactly_the_tiered_suites():
    """The bucket arbitration anchor must cover the timed tiered suites
    exactly (every bucket member, nothing from the untimed EXCLUDE
    family)."""
    for name, (bucket, ref) in bench.QUERIES.items():
        if bucket == "exclude":
            assert ref is None, name
        else:
            assert ref > 0, name


def test_prepopulated_indexes_count_only_this_fixture(tmp_path, monkeypatch):
    """The stamp's ``prepopulated_indexes`` counts finished indexes of
    the benchmarked fixture only: another fixture's indexes (including
    one whose basename extends this one with a dash) and unfinished
    ones do not make a build pass look like a read-back."""
    from scala_reactivex_spark.plans import memo

    root = tmp_path / "index_cache"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(root))
    for d, done in (
        ("ivf@sf0.1-0123abcd-89abcdef", True),
        ("minhash@sf0.1-0123abcd-nosrc000", True),
        ("pq@sf0.1-0123abcd", True),  # legacy name, no builder tag
        ("kmeans@sf0.1-0123abcd-89abcdef", False),  # no _COMPLETE yet
        ("ivf@sf0.01-0123abcd-89abcdef", True),
        ("minhash@sf0.01-0123abcd-89abcdef", True),
        ("ivf@sf0.1-a-0123abcd-89abcdef", True),  # fixture 'sf0.1-a'
    ):
        (root / d).mkdir(parents=True)
        if done:
            (root / d / "_COMPLETE").write_text("tuple:1")
    assert memo.finished_indexes(str(tmp_path / "x" / "sf0.1")) == 3
    assert memo.finished_indexes(str(tmp_path / "sf0.01") + "/") == 2
    assert memo.finished_indexes(str(tmp_path / "sf0.1-a")) == 1
    assert memo.finished_indexes(str(tmp_path / "sf1")) == 0
