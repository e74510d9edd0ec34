"""Readers the benchmark uses to look at the engine from outside.

Nothing here changes engine code.  The readers are:

- ``/proc`` readers for the process tree (PSS, Python worker CPU) and the
  host (busy and steal CPU, load average);
- Spark's own counters, read after a timer stops: the stages of one job
  group from ``statusStore().lastStageAttempt``, the JVM's GC beans and
  its heap after a forced collection;
- a wrapper around ``plans.memo.disk_memo`` that splits memo time into
  index builds and read-backs.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
KB_PER_MB = 1024  # smaps_rollup reports kB


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    return sum(_pss_kb(p) for p in [root, *descendants(root)]) / KB_PER_MB


class PssSampler:
    """Samples the PSS of the process tree under ``root`` on a thread and
    keeps the peak.  Start and stop it around the whole run."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period_s = root, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> PssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _proc_cpu_s(pid: int, with_children: bool) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / CLK_TCK


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and the processes below it (live
    ones directly, exited ones through their parent's reaped time)."""
    return sum(
        _proc_cpu_s(p, with_children=True) for p in [root, *descendants(root)]
    )


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds of PySpark's Python daemon and workers under ``root``.

    Forked workers that already exited are counted through the daemon's
    reaped-children time; live ones are read directly."""
    total = 0.0
    for pid in descendants(root):
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd:
            total += _proc_cpu_s(pid, with_children=True)
        elif "pyspark.worker" in cmd:
            total += _proc_cpu_s(pid, with_children=False)
    return total


def host_cpu() -> dict[str, float]:
    """Host-wide busy and steal CPU seconds since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return {
        "cpu_s": (user + nice + system + irq + softirq) / CLK_TCK,
        "steal_s": steal / CLK_TCK,
    }


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        max(b.getCollectionTime(), 0)
        for b in beans.getGarbageCollectorMXBeans()
    ) / 1000.0


def jvm_live_heap_mb(spark) -> float:
    """Heap in use right after a full collection: the JVM's live data.

    This forces a GC, so call it only outside timed work."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return usage.getHeapMemoryUsage().getUsed() / 2**20


class JobGroups:
    """Per-call Spark counters: each traced call runs under a fresh job
    group, and after its timer stops the group's stages are read from the
    status store."""

    FIELDS = ("shuffle_write_mb", "spill_mb", "executor_cpu_s", "tasks")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def start(self) -> str:
        self._n += 1
        gid = f"perfbench-{os.getpid()}-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def read(self, gid: str) -> dict[str, float]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker, store = self.sc.statusTracker(), self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(self.FIELDS, 0.0)
        stages: set[int] = set()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never ran (skipped)
                continue
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / 2**20
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["tasks"] += st.numTasks()
        return out


class MemoTimer:
    """Wraps ``plans.memo.disk_memo`` to time each outermost call and file
    it as a build (the call missed the disk tier), a read-back (it hit)
    or neither (an in-session hit)."""

    def __init__(self, memo_module):
        self.memo = memo_module
        self.orig = memo_module.disk_memo
        self.build_s = self.read_s = 0.0
        self._depth = 0

    def _wrapped(self, *args, **kwargs):
        if self._depth:
            return self.orig(*args, **kwargs)
        stats = self.memo.DISK_MEMO_STATS
        before = dict(stats)
        self._depth += 1
        t0 = time.perf_counter()
        try:
            return self.orig(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            self._depth -= 1
            if stats["misses"] > before["misses"]:
                self.build_s += dt
            elif stats["hits"] > before["hits"]:
                self.read_s += dt

    def install(self) -> None:
        self.memo.disk_memo = self._wrapped

    def uninstall(self) -> None:
        self.memo.disk_memo = self.orig
