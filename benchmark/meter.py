"""Measurements taken from outside the program: the process tree through
/proc, the host through /proc/stat and loadavg, the JVM through its MXBeans
and Spark's CodegenMetrics, and Spark jobs through the public status
tracker and status store."""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_stats():
    """(pid, the /proc/<pid>/stat fields after the command name) of every
    process."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        yield int(entry), fields


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, fields in _proc_stats():
        kids.setdefault(int(fields[1]), []).append(pid)
    return kids


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    return [pid for pid, fields in _proc_stats() if fields[0] != "Z" and int(fields[3]) == sid]


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU of the live tree, including reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class PssSampler:
    """Samples summed PSS of the tree, split into driver, JVM and the rest
    (Python workers, agent subprocesses), once per ``period_s`` on a thread.
    ``peak`` holds the run's peaks; ``window_peak`` the total's peak since
    the last ``new_window()``."""

    def __init__(self, jvm_pid: int, period_s: float = 0.5):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self.window_peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def new_window(self) -> None:
        with self._lock:
            self.window_peak = 0.0

    def sample(self) -> None:
        me = os.getpid()
        parts = {"driver": pss_mb(me), "jvm": pss_mb(self.jvm_pid), "workers": 0.0}
        for pid in process_tree(me):
            if pid not in (me, self.jvm_pid):
                parts["workers"] += pss_mb(pid)
        parts["total"] = sum(parts.values())
        with self._lock:
            for k, v in parts.items():
                self.peak[k] = max(self.peak[k], v)
            self.window_peak = max(self.window_peak, parts["total"])

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def load1() -> float:
    return os.getloadavg()[0]


def calibration_unit() -> float:
    """A fixed pure-Python + numpy unit of work, timed; its drift across a
    run measures the host, not the program."""
    import numpy as np

    t0 = time.perf_counter()
    s = 0
    for i in range(60_000):
        s += (i * i) % 7
    a = np.arange(200_000, dtype=np.float64)
    for _ in range(5):
        s += float(np.sort(a[::-1])[7])
    return time.perf_counter() - t0


class JvmMeter:
    """Cumulative JVM counters read through py4j."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._threads = self._mf.getThreadMXBean()
        self._arrays = jvm.java.util.Arrays
        self._alloc_seen: dict[int, int] = {}
        self._alloc_total = 0

    def _allocated_bytes(self) -> int:
        """Heap bytes allocated by JVM threads since the previous call: the
        per-thread counters of the threads alive now, each against its own
        previous reading (a thread that ended in between loses its last
        interval)."""
        ids = self._threads.getAllThreadIds()
        tids = [int(x) for x in self._arrays.toString(ids)[1:-1].split(", ")]
        vals = self._threads.getThreadAllocatedBytes(ids)
        now = {t: int(v) for t, v in zip(tids, self._arrays.toString(vals)[1:-1].split(", "))
               if int(v) >= 0}
        total = sum(v - self._alloc_seen.get(t, 0) for t, v in now.items())
        self._alloc_seen = now
        return total

    def read(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        self._alloc_total += self._allocated_bytes()
        return {
            "jvm.codegen_compiles": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "jvm.jit_s": self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "jvm.gc_s": gc_ms / 1e3,
            "jvm.alloc_mb": self._alloc_total / 2**20,
        }


class SparkMeter:
    """Per-item job, stage and task figures from the status store, with the
    item's jobs found through one job group per item."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism
        self._n = 0

    def start(self, item: str) -> str:
        self._n += 1
        group = f"bench-{self._n}-{item}"
        self.sc.setJobGroup(group, item, False)
        return group

    def finish(self, group: str, wall_s: float) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb"), 0.0,
        )
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        out["driver_s"] = wall_s - out["run_s"] / self.cores
        out["python_s"] = max(0.0, out["run_s"] - out["cpu_s"])
        return out
