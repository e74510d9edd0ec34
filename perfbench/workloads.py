"""The two workloads: frozen key lists, output checks and run loops.

Every workload is closed loop with one client: the next operation starts
only after the previous one returned.  The engine is called only through
``plans.registry.registry()``, ``session.get_spark``,
``streaming.twins.*`` and ``plans.memo.clear_session_memo``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))
from verify_local import collect_capped, table_hash  # noqa: E402

#: batch, JVM part: Rx operator keys of the frozen headline set that scan,
#: sort per key, window and join events, plus the relational Q1 over
#: lineitem.  JVM plans only.
RX_BATCH_KEYS = (
    "src_scan_events",
    "op_scan_running_sum",
    "op_window_tumbling",
    "op_combine_latest",
    "rel_q1_pricing",
)

#: batch, LLM part: two keys that build and read back disk-memoized
#: indexes (IVF, MinHash) and the mapInPandas key.
LLM_INDEX_KEYS = (
    "llm_ann_ivf",
    "llm_dedup_minhash",
    "llm_multimodal_features",
)

#: rx_stream: twins drained one after another over the same tranches,
#: after a warm-up drain of ``WARM_TRANCHES`` tranches of other events.
TWINS = ("twin_tumbling", "twin_interval_join", "twin_running_scan")
WARM_TRANCHES = 1

#: Keys known to disagree with their oracle on the benchmark's inputs.
#: They stay in the workload and count as failed operations, but do not
#: make a run incorrect.  Every key agrees on the fixture at this commit.
KNOWN_FAILURES: tuple[str, ...] = ()

#: The engine's fixture tables, copied unchanged (FIXTURES.md).  ``batch``
#: reads sf0.01; the stream tranches are cut from its events.
DATA_DIR = os.path.join(HERE, "data")
#: rx_stream: the first ``STREAM_EVENTS`` events by time are the timed
#: tranches, the last ``WARM_EVENTS`` the warm-up tranche.
STREAM_EVENTS = 5000
WARM_EVENTS = 1000

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
SCAN_TABLES = ("events", "orders", "lineitem", "documents", "embeddings")
#: Layer metrics of the first pass; every other batch layer metric is a
#: mean per traced steady pass.
FIRST_PASS_LAYERS = ("plans.memo.build_s", "plans.memo.misses")
#: Nominal seconds of one steady ``batch`` pass on a 4-core host; a run
#: makes ``--seconds`` worth of them (two at least).
PASS_SECONDS = 2.5
#: Batch layer metrics reported as a mean per traced operation.
PER_OP_LAYERS = ("plans.build_ms", "plans.exec_ms")


# --- output checks (the order-insensitive hash of scripts/verify_local) ---


def duck(data_dir: str, events: str | None = None):
    """A DuckDB connection with one view per table of ``data_dir``; with
    ``events`` the events view reads that parquet glob instead."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        src = events if t == "events" and events else f"{data_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def check_against_oracle(con, oracle_sql: str, cols, rows) -> str | None:
    """``None`` when Spark's rows match the oracle, else what differs."""
    rel = con.sql(oracle_sql)
    orows = rel.fetchall()
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} vs oracle {len(orows)}"
    if sorted(cols) != sorted(rel.columns):
        return f"columns {sorted(cols)} vs oracle {sorted(rel.columns)}"
    if table_hash(list(cols), rows) != table_hash(rel.columns, orows):
        return "value hash mismatch"
    return None


# --- per-run state ---


@dataclass
class Run:
    """What one invocation measures."""

    spark: object
    engine: dict  # name -> imported engine module
    data_dir: str
    work: str
    seed: int
    seconds: int
    trace: bool
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    first_pass_s: float = 0.0
    steady_s: float = 0.0
    steady_ops: int = 0
    throughput_units: float = 0.0
    passes: list[dict] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    memo_phases: dict = field(default_factory=dict)
    per_key: dict = field(default_factory=dict)  # key -> [first, steady...] ms

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    @property
    def correct(self) -> bool:
        """No failure other than a known one."""
        return all(
            f.split(":", 1)[0] in KNOWN_FAILURES for f in self.failures
        )

    def add(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + value


def memo_stats(run: Run) -> dict[str, int]:
    return dict(run.engine["memo"].DISK_MEMO_STATS)


def memo_delta(before: dict, after: dict) -> dict[str, int]:
    return {k: after[k] - before[k] for k in after}


class RegimeError(RuntimeError):
    """The disk-memo cache was not in the state the workload requires."""


def check_regime(uses_memo: bool, phase: str, delta: dict[str, int]) -> None:
    """Fail the run when the memo regime is wrong: a workload that uses the
    disk memo builds every index in its first pass and only reads back in
    steady passes; any other workload never touches the disk memo."""
    if uses_memo and phase == "first":
        ok = delta["misses"] > 0 and delta["hits"] == 0
    elif uses_memo:
        ok = delta["hits"] > 0 and delta["misses"] == 0
    else:
        ok = not any(delta.values())
    if not ok:
        raise RegimeError(f"{phase} pass memo delta {delta}")


# --- batch ---


def _module_layer(spec) -> str:
    return "operators." + spec.fn.__module__.rsplit(".", 1)[1] + ".busy_s"


def first_pass(run: Run, keys, uses_memo: bool) -> None:
    """Cold pass: every key once, collected and checked against its
    DuckDB oracle."""
    reg = run.engine["registry"].registry()
    con = duck(run.data_dir)
    order = list(keys)
    random.Random(run.seed).shuffle(order)
    before = memo_stats(run)
    for k in order:
        spec = reg[k]
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            sdf = spec.fn(run.spark, run.data_dir)
            cols = sdf.columns
            rows = collect_capped(sdf)
        except Exception as exc:  # noqa: BLE001 - any engine error is a failure
            run.fail(f"{k}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        finally:
            dt = time.perf_counter() - t0
            run.first_pass_s += dt
            run.per_key.setdefault(k, []).append(round(dt * 1e3, 1))
        problem = check_against_oracle(con, spec.oracle, cols, rows)
        if problem:
            run.fail(f"{k}: {problem}")
    con.close()
    delta = memo_delta(before, memo_stats(run))
    run.memo_phases["first"] = delta
    check_regime(uses_memo, "first", delta)
    run.add("plans.memo.misses", delta["misses"])


def _scan_tables(run: Run) -> None:
    table = run.engine["catalog"].table
    for t in SCAN_TABLES:
        t0 = time.perf_counter()
        table(run.spark, run.data_dir, t).write.format("noop").mode(
            "overwrite"
        ).save()
        run.add(f"sources.scan_ms.{t}", (time.perf_counter() - t0) * 1e3)


def steady_passes(run: Run, keys, n_pass: int, uses_memo: bool) -> None:
    """``n_pass`` whole passes over ``keys`` through the noop sink, right
    after the cold pass.  The count is fixed, not timed: the JIT is still
    compiling through the first passes, and a timed loop would give a fast
    run more passes, hence faster ones.  With
    ``uses_memo`` each pass starts by clearing the session memo, so it
    reads its indexes back from disk.

    A traced run traces every other measured pass, starting with the
    second; the untraced passes give the tracing overhead."""
    reg = run.engine["registry"].registry()
    memo = run.engine["memo"]
    rng = random.Random(run.seed + 1)
    jobs = probes.JobGroups(run.spark)
    timer = probes.MemoTimer(memo)
    jvm_pid = run.spark.sparkContext._gateway.proc.pid if run.trace else 0
    totals = {True: [0.0, 0], False: [0.0, 0]}  # traced -> [seconds, ops]

    def one_pass(traced: bool) -> float:
        order = list(keys)
        rng.shuffle(order)
        if uses_memo:
            memo.clear_session_memo()
        before = memo_stats(run)
        host0, tree0 = probes.host_cpu(), probes.tree_cpu_s(os.getpid())
        if traced:
            timer.install()
            gc0 = probes.jvm_gc_s(run.spark)
            py0 = probes.python_worker_cpu_s(jvm_pid)
        # untraced passes run as one job group, traced ones a group per call
        pass_gid = None if traced else jobs.start()
        executor_cpu_s = 0.0
        t_pass = time.perf_counter()
        for k in order:
            spec = reg[k]
            run.attempted += 1
            gid = jobs.start() if traced else None
            t0 = time.perf_counter()
            try:
                sdf = spec.fn(run.spark, run.data_dir)
                t1 = time.perf_counter()
                sdf.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                run.fail(f"{k}: {type(exc).__name__}: {str(exc)[:200]}")
                if gid:
                    jobs.read(gid)
                continue
            t2 = time.perf_counter()
            run.per_key.setdefault(k, []).append(round((t2 - t0) * 1e3, 1))
            if not traced:
                run.latencies_ms.append((t2 - t0) * 1e3)
                continue
            counters = jobs.read(gid)
            executor_cpu_s += counters["executor_cpu_s"]
            for f, v in counters.items():
                run.add(f"spark.{f}", v)
            run.add("plans.build_ms", (t1 - t0) * 1e3)
            run.add("plans.exec_ms", (t2 - t1) * 1e3)
            run.add(_module_layer(spec), t2 - t0)
        wall = time.perf_counter() - t_pass
        host1, tree1 = probes.host_cpu(), probes.tree_cpu_s(os.getpid())
        if pass_gid:
            executor_cpu_s = jobs.read(pass_gid)["executor_cpu_s"]
        delta = memo_delta(before, memo_stats(run))
        check_regime(uses_memo, "steady", delta)
        if traced:
            timer.uninstall()
            run.add("jvm.gc_s", probes.jvm_gc_s(run.spark) - gc0)
            run.add(
                "python.worker_cpu_s",
                probes.python_worker_cpu_s(jvm_pid) - py0,
            )
            run.add("plans.memo.hits", delta["hits"])
            run.add("plans.memo.session_hits", delta["session_hits"])
            _scan_tables(run)
        totals[traced][0] += wall
        totals[traced][1] += len(order)
        run.passes.append(
            {
                "wall_s": round(wall, 4),
                "host_cpu_s": round(host1["cpu_s"] - host0["cpu_s"], 3),
                "host_steal_s": round(host1["steal_s"] - host0["steal_s"], 3),
                "tree_cpu_s": round(tree1 - tree0, 3),
                "executor_cpu_s": round(executor_cpu_s, 3),
                "traced": traced,
            }
        )
        return wall

    for i in range(n_pass):
        one_pass(traced=run.trace and i % 2 == 1)
    run.steady_s, run.steady_ops = totals[False]
    run.throughput_units = run.steady_ops
    if run.trace:
        run.add("plans.memo.read_s", timer.read_s)
        traced_s, traced_ops = totals[True]
        for k in list(run.layers):
            if k in PER_OP_LAYERS:
                run.layers[k] /= max(traced_ops, 1)
            elif k not in FIRST_PASS_LAYERS:
                run.layers[k] /= max(n_pass // 2, 1)
        thr_t = traced_ops / traced_s if traced_s else 0.0
        thr_u = run.steady_ops / run.steady_s if run.steady_s else 0.0
        run.layers["trace.overhead_share"] = (
            1 - thr_t / thr_u if thr_u else 0.0
        )


def run_batch(run: Run) -> None:
    keys = RX_BATCH_KEYS + LLM_INDEX_KEYS
    memo = run.engine["memo"]
    timer = probes.MemoTimer(memo)
    if run.trace:
        timer.install()
    try:
        first_pass(run, keys, uses_memo=True)
    finally:
        timer.uninstall()
    run.add("plans.memo.build_s", timer.build_s)
    live_mb = probes.jvm_live_heap_mb(run.spark) if run.trace else 0.0
    n_pass = max(2, round(run.seconds / PASS_SECONDS))
    steady_passes(run, keys, n_pass, uses_memo=True)
    if run.trace:
        run.layers["jvm.live_heap_mb"] = max(
            live_mb, probes.jvm_live_heap_mb(run.spark)
        )


# --- rx_stream ---


def stage_tranches(events, out_dir: str, n: int, seed: int) -> None:
    """Split time-ordered events into ``n`` parquet tranches with rising
    mtimes (the file source orders by mtime); rows inside a tranche are
    shuffled by the seed."""
    import numpy as np
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    bounds = np.linspace(0, events.num_rows, n + 1).astype(int)
    t0 = time.time() - 10 * n
    for i in range(n):
        part = events.slice(bounds[i], bounds[i + 1] - bounds[i])
        part = part.take(rng.permutation(part.num_rows))
        path = os.path.join(out_dir, f"tranche-{i:04d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))


class ProgressLog:
    """A streaming listener that keeps every progress event, by query name.

    Events arrive asynchronously, after ``awaitTermination`` returns; the
    termination event comes after a query's last progress event."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: dict[str, list[dict]] = {}
        self.names: dict[str, str] = {}  # query id -> name
        self.ended: set[str] = set()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                log.names[str(event.id)] = event.name

            def onQueryProgress(self, event):
                p = event.progress
                log.events.setdefault(p.name, []).append(
                    {
                        "durationMs": dict(p.durationMs),
                        "numInputRows": p.numInputRows,
                        "state": [
                            (s.numRowsTotal, s.memoryUsedBytes)
                            for s in p.stateOperators
                        ],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.ended.add(log.names.get(str(event.id), ""))

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def wait_for(self, name: str, timeout_s: float = 30) -> list:
        """Every progress event of the query ``name``, once it has ended."""
        deadline = time.monotonic() + timeout_s
        while name not in self.ended and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.events.get(name, [])


def drain(run: Run, log: ProgressLog, src: str, ckpt: str, tag: str) -> dict:
    """Drain ``src`` through each twin; returns per-twin results."""
    twins = run.engine["twins"]
    out = {}
    for twin in TWINS:
        name = f"{tag}_{twin}"
        mode = "complete" if twin == "twin_tumbling" else "append"
        t0 = time.perf_counter()
        sdf = twins.events_stream(run.spark, src)
        table = twins.run_stream_to_table(
            getattr(twins, twin)(sdf), name, ckpt, output_mode=mode
        )
        wall = time.perf_counter() - t0
        out[twin] = {
            "table": table,
            "wall_s": wall,
            "progress": log.wait_for(name),
        }
    return out


def check_twins(run: Run, result: dict, src: str) -> None:
    """The equalities the streaming tests assert, against the DuckDB
    oracles of the batch twins: tumbling equals ``op_window_tumbling``,
    the running scan's final sums equal ``op_reduce``, and the interval
    join emits exactly the pairs of the batch interval join, all over the
    events of the timed tranches."""
    reg = run.engine["registry"].registry()
    con = duck(run.data_dir, events=os.path.join(src, "*.parquet"))

    def same(spark_df, oracle_sql):
        rel = con.sql(oracle_sql)
        return table_hash(
            spark_df.columns, [tuple(r) for r in spark_df.collect()]
        ) == table_hash(rel.columns, rel.fetchall())

    from pyspark.sql import functions as F

    checks = {
        "twin_tumbling = op_window_tumbling": lambda: same(
            result["twin_tumbling"]["table"],
            "SELECT bucket_ms, event_type, n, total_value FROM ("
            + reg["op_window_tumbling"].oracle + ")",
        ),
        "twin_running_scan finals = op_reduce": lambda: same(
            result["twin_running_scan"]["table"].groupBy("user_id").agg(
                F.max("running_sum").alias("total_value")
            ),
            "SELECT user_id, total_value FROM ("
            + reg["op_reduce"].oracle + ")",
        ),
        "twin_interval_join = interval join pairs": lambda: same(
            result["twin_interval_join"]["table"],
            "SELECT p.user_id AS p_user, p.event_id AS p_event_id, "
            "c.event_id AS c_event_id FROM events p JOIN events c "
            "ON p.user_id = c.user_id "
            "AND c.ts BETWEEN p.ts - INTERVAL 1 DAY AND p.ts "
            "WHERE p.event_type = 'purchase' AND c.event_type = 'click'",
        ),
    }
    for what, ok in checks.items():
        run.attempted += 1
        if not ok():
            run.fail(what)
    con.close()


def run_stream(run: Run, warm_src: str, src: str, n_batches: int) -> None:
    """A discarded warm-up drain, then the timed drain, then the checks."""
    log = ProgressLog(run.spark)
    before = memo_stats(run)
    jvm_pid = run.spark.sparkContext._gateway.proc.pid
    t0 = time.perf_counter()
    drain(run, log, warm_src, os.path.join(run.work, "ckpt-warm"), "warm")
    run.first_pass_s = time.perf_counter() - t0
    check_regime(False, "first", memo_delta(before, memo_stats(run)))

    gc0 = probes.jvm_gc_s(run.spark)
    py0 = probes.python_worker_cpu_s(jvm_pid)
    host0, tree0 = probes.host_cpu(), probes.tree_cpu_s(os.getpid())
    result = drain(run, log, src, os.path.join(run.work, "ckpt"), "timed")
    host1, tree1 = probes.host_cpu(), probes.tree_cpu_s(os.getpid())
    check_regime(False, "steady", memo_delta(before, memo_stats(run)))
    rows = 0
    phases = ("addBatch", "queryPlanning", "getBatch", "latestOffset",
              "walCommit", "commitOffsets")
    per_phase: dict[str, list[float]] = {p: [] for p in phases}
    state_rows = state_mb = 0.0
    for twin, r in result.items():
        prog = r["progress"]
        run.steady_s += r["wall_s"]
        batch_ms = [p["durationMs"]["triggerExecution"] for p in prog]
        run.latencies_ms.extend(batch_ms)
        run.attempted += max(len(prog), n_batches)
        data_batches = sum(1 for p in prog if p["numInputRows"])
        for _ in range(n_batches - data_batches):
            run.fail(f"{twin}: a tranche was not drained")
        rows += sum(p["numInputRows"] for p in prog)
        for p in prog:
            for ph in phases:
                per_phase[ph].append(p["durationMs"].get(ph, 0))
        if prog and prog[-1]["state"]:
            state_rows += sum(s[0] for s in prog[-1]["state"])
            state_mb += sum(s[1] for s in prog[-1]["state"]) / 2**20
        if run.trace and batch_ms:
            run.layers[f"streaming.{twin}.batch_p50_ms"] = statistics.median(
                batch_ms
            )
        run.passes.append(
            {"twin": twin, "wall_s": round(r["wall_s"], 4), "batches": len(prog)}
        )
    run.steady_ops = len(run.latencies_ms)
    run.throughput_units = rows
    run.passes.append(
        {
            "wall_s": round(run.steady_s, 4),
            "host_cpu_s": round(host1["cpu_s"] - host0["cpu_s"], 3),
            "host_steal_s": round(host1["steal_s"] - host0["steal_s"], 3),
            "tree_cpu_s": round(tree1 - tree0, 3),
        }
    )
    if run.trace:
        for ph, vals in per_phase.items():
            run.layers[f"streaming.{ph}_ms"] = (
                statistics.median(vals) if vals else 0.0
            )
        run.layers["streaming.state_rows"] = state_rows
        run.layers["streaming.state_mb"] = state_mb
        run.layers["jvm.gc_s"] = probes.jvm_gc_s(run.spark) - gc0
        run.layers["jvm.live_heap_mb"] = probes.jvm_live_heap_mb(run.spark)
        run.layers["python.worker_cpu_s"] = (
            probes.python_worker_cpu_s(jvm_pid) - py0
        )
    check_twins(run, result, src)
    run.spark.streams.removeListener(log.listener)


def stage_inputs(data_dir: str, seed: int,
                 stream_dirs: tuple[str, str, int] | None) -> None:
    """Copy the sf0.01 tables into ``data_dir``; for rx_stream also cut
    the timed tranches (the first events by time) and the warm-up tranche
    (the last events) from its events table."""
    shutil.copytree(os.path.join(DATA_DIR, "sf0.01"), data_dir)
    if stream_dirs:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        warm_src, src, n = stream_dirs
        events = pq.read_table(os.path.join(data_dir, "events.parquet"))
        events = events.take(pc.sort_indices(events, [("ts", "ascending"),
                                                      ("event_id", "ascending")]))
        stage_tranches(events.slice(0, STREAM_EVENTS), src, n, seed)
        stage_tranches(events.slice(events.num_rows - WARM_EVENTS),
                       warm_src, WARM_TRANCHES, seed + 7)
