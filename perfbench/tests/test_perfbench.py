"""The benchmark's own checks, at the sf0.001 input scale.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import types

import pytest

import stats
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


@pytest.mark.parametrize("n", range(1, 120))
def test_tail_has_ten_samples_beyond_it(n):
    vals = [float(i) for i in range(n)]
    pct, value = stats.tail(vals)
    rank = max(math.ceil(pct / 100 * n), 1)
    if pct > 50:
        assert n - rank >= stats.TAIL_BEYOND
        assert value == vals[rank - 1]
        nxt = max(math.ceil((pct + 1) / 100 * n), 1)
        assert pct == 99 or n - nxt < stats.TAIL_BEYOND
    else:
        assert value == pytest.approx(sorted(vals)[n // 2] if n % 2 else
                                      (vals[n // 2 - 1] + vals[n // 2]) / 2)


def test_every_metric_name_is_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
        assert len(name) <= 64


def test_seed_only_permutes_the_stream_tranches(tmp_path):
    import pyarrow.parquet as pq

    def stage(name, seed):
        d = tmp_path / name
        workloads.stage_inputs(str(d / "data"), seed,
                               (str(d / "warm"), str(d / "src"), 4))
        return [pq.read_table(p) for p in sorted((d / "src").iterdir())]

    a, b, c = stage("a", 5), stage("b", 5), stage("c", 6)
    assert len(a) == 4
    assert sum(t.num_rows for t in a) == workloads.STREAM_EVENTS
    for ta, tb, tc in zip(a, b, c):
        assert ta.equals(tb)
        assert not ta.equals(tc)
        key = [("event_id", "ascending")]
        assert ta.sort_by(key).equals(tc.sort_by(key))
    firsts = [t["ts"].to_pylist() for t in a]
    assert max(firsts[0]) <= min(firsts[1])


def _engine():
    import importlib

    return {
        k: importlib.import_module(f"scala_reactivex_spark.{m}")
        for k, m in (
            ("memo", "plans.memo"),
            ("registry", "plans.registry"),
            ("catalog", "sources.catalog"),
        )
    }


def _run(spark, data_dir, work, engine=None):
    return workloads.Run(
        spark=spark, engine=engine or _engine(), data_dir=data_dir,
        work=str(work), seed=3, seconds=0, trace=False,
    )


def test_fail_share_counts_an_injected_failure(spark, data_dir, tmp_path):
    engine = _engine()
    reg = dict(engine["registry"].registry())

    def broken(spark, sf_dir):
        raise RuntimeError("injected")

    reg["injected_failure"] = types.SimpleNamespace(
        fn=broken, oracle=None, name="injected_failure"
    )
    engine["registry"] = types.SimpleNamespace(registry=lambda: reg)
    run = _run(spark, data_dir, tmp_path, engine)
    workloads.steady_passes(
        run, ("op_map", "injected_failure"), n_pass=2, uses_memo=False
    )
    assert run.attempted == 4
    assert run.failed == 2
    assert all(f.startswith("injected_failure:") for f in run.failures)
    assert not run.correct
    assert len(run.latencies_ms) == 2
    assert (run.attempted - run.failed) / run.attempted == 0.5


def test_first_pass_checks_outputs(spark, data_dir, tmp_path):
    run = _run(spark, data_dir, tmp_path)
    workloads.first_pass(run, ("op_map", "op_reduce"), uses_memo=False)
    assert (run.attempted, run.failed) == (2, 0)


def test_regime_check_trips_on_a_prepopulated_cache(
    spark, data_dir, tmp_path, monkeypatch
):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_CACHE", str(tmp_path / "cache"))
    engine = _engine()
    keys = ("llm_ann_ivf",)
    workloads.first_pass(_run(spark, data_dir, tmp_path, engine), keys, True)
    engine["memo"].clear_session_memo()
    with pytest.raises(workloads.RegimeError):
        workloads.first_pass(_run(spark, data_dir, tmp_path, engine), keys, True)
    engine["memo"].clear_session_memo()


def test_regime_check_rules():
    ok_first = {"hits": 0, "misses": 2, "session_hits": 1}
    ok_steady = {"hits": 2, "misses": 0, "session_hits": 1}
    workloads.check_regime(True, "first", ok_first)
    workloads.check_regime(True, "steady", ok_steady)
    workloads.check_regime(False, "steady", dict.fromkeys(ok_first, 0))
    for uses_memo, phase, delta in (
        (True, "first", ok_steady),
        (True, "steady", ok_first),
        (False, "first", ok_steady),
    ):
        with pytest.raises(workloads.RegimeError):
            workloads.check_regime(uses_memo, phase, delta)
