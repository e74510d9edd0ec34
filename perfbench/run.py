#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It copies the engine package into a
fresh work directory under ``perfbench/.work/`` (so every cache, checkpoint,
warehouse and spill file of the run lands there), stages the fixture
tables of ``perfbench/data/`` there (``--seed`` orders the queries and the
rows of every stream tranche), runs the workload on ``local[<cores>]``
and removes the work directory again.  The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  The line before it holds the run's detail
(tail percentile and sample count, host stamps, per-pass times, failures).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "scala_reactivex_spark"

#: rx_stream: timed micro-batch tranches per second of run length.
TRANCHES_PER_SECOND = 0.8
#: Driver heap (the engine's default is 8g), committed at start with -Xms so
#: that peak PSS does not follow when the JVM grows its heap.  Heap use
#: past it shows as GC time or a failed run; the live heap itself is the
#: traced ``jvm.live_heap_mb``.
DRIVER_MEM = "1g"


def pin_env(work: str) -> None:
    """Per-run environment, set before the JVM starts so it and the Python
    workers inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_INDEX_CACHE": os.path.join(work, "index_cache"),
            "SPARK_GRAFT_LAYOUT_CACHE": os.path.join(work, "layout_cache"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join([os.path.join(work, "engine"), HERE]),
            "TMPDIR": tmp,
            "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    os.environ.pop("SPARK_GRAFT_FRESH_CACHE", None)
    os.chdir(work)


def import_engine(work: str) -> dict:
    """Import the engine from a copy inside the work directory, so the
    paths it derives from its own location stay inside the run."""
    dst = os.path.join(work, "engine", ENGINE)
    shutil.copytree(
        os.path.join(ROOT, ENGINE), dst,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    sys.path.insert(0, os.path.dirname(dst))
    import importlib

    names = {
        "session": "session",
        "registry": "plans.registry",
        "memo": "plans.memo",
        "twins": "streaming.twins",
        "catalog": "sources.catalog",
    }
    return {k: importlib.import_module(f"{ENGINE}.{m}") for k, m in names.items()}


def setup(args, work: str):
    """Stage the inputs and start the session, cold: ``setup_s`` runs from
    process start (imports, the engine copy, staging) until ``get_spark``
    has launched the JVM and returned.  Returns the engine, the session,
    the data dir, the stream dirs, ``setup_s`` and the launch alone."""
    import workloads

    engine = import_engine(work)
    data = os.path.join(work, "data")
    stream = None
    if args.workload == "rx_stream":
        n = max(1, round(TRANCHES_PER_SECOND * args.seconds))
        stream = (os.path.join(work, "warm"), os.path.join(work, "src"), n)
    workloads.stage_inputs(data, args.seed, stream)
    t0 = time.perf_counter()
    spark = engine["session"].get_spark("perfbench")
    t1 = time.perf_counter()
    return engine, spark, data, stream, t1 - T_PROCESS, t1 - t0


def shutdown() -> None:
    """Stop the session and the JVM, and wait for every process the run
    started to end."""
    import probes
    from pyspark import SparkContext

    pids = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - JVM ignored its closed stdin
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec


def bench(args, work: str):
    import probes
    import stats
    import workloads

    host0, load_start = probes.host_cpu(), probes.load1()
    timeline: dict[str, float] = {}
    with probes.PssSampler(os.getpid()) as pss:
        try:
            engine, spark, data, stream, setup_s, session_start = setup(
                args, work
            )
            run = workloads.Run(
                spark=spark, engine=engine, data_dir=data, work=work,
                seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            )
            timeline["ready"] = time.perf_counter() - T_PROCESS
            if args.workload == "rx_stream":
                workloads.run_stream(run, *stream)
            else:
                workloads.run_batch(run)
            timeline["measured"] = time.perf_counter() - T_PROCESS
        finally:
            shutdown()
            timeline["stopped"] = time.perf_counter() - T_PROCESS
    host1, load_end = probes.host_cpu(), probes.load1()

    lat = run.latencies_ms
    tail_pct, tail_ms = stats.tail(lat)
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": run.first_pass_s,
        "latency_p50_ms": statistics.median(lat),
        "latency_tail_ms": tail_ms,
        "throughput_per_s": run.throughput_units / run.steady_s,
        "peak_pss_mb": pss.peak_mb,
        "ok_share": (run.attempted - run.failed) / run.attempted,
    }
    layers = dict(run.layers)
    layers.update(
        {
            "session.start_s": session_start,
            "host.cpu_s": host1["cpu_s"] - host0["cpu_s"],
            "host.steal_s": host1["steal_s"] - host0["steal_s"],
            "host.load1_start": load_start,
            "host.load1_end": load_end,
        }
    )
    spec = metric_specs()
    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in group
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "samples": len(lat),
        "latency_tail_pct": tail_pct,
        "session_start_s": round(session_start, 4),
        "steady_s": round(run.steady_s, 4),
        "passes": run.passes,
        "host": {k: layers[k] for k in layers if k.startswith("host.")},
        "memo": run.memo_phases,
        "failures": run.failures,
        "per_key_ms": run.per_key,
        "timeline_s": {k: round(v, 2) for k, v in timeline.items()},
        "e2e": e2e if not args.trace else None,
    }
    result = {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("batch", "rx_stream"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"no engine package {ENGINE!r} beside perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(
        HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        pin_env(work)
        detail, result = bench(args, work)
    except Exception as exc:  # noqa: BLE001 - report, then fail the run
        import traceback

        traceback.print_exc()
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 3
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
