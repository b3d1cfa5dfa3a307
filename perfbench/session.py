"""Host-sized Spark sessions, the benchmark's work directories, and the
process-tree bookkeeping (peak memory, waiting for children to exit).

Everything the benchmark writes lives under ``<root>/.perfbench_work``:
``cache/`` keeps seeded inputs and reference answers across runs, ``tmp/``
holds Spark's local dir, checkpoints, event logs and the JVM/Python temp
dirs and is removed at the end of every run.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import SparkSession


@dataclass(frozen=True)
class WorkDirs:
    root: str  # repository root (holds combblas_spark/)
    cache: str
    tmp: str

    @classmethod
    def under(cls, root: str) -> "WorkDirs":
        base = os.path.join(root, ".perfbench_work")
        return cls(root, os.path.join(base, "cache"), os.path.join(base, "tmp"))

    def sub(self, *parts: str) -> str:
        path = os.path.join(self.tmp, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def clear_tmp(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """An eighth of MemTotal, clamped to [1 GiB, 2 GiB]: the host is
    shared, and the benchmark's graphs need far less than that."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(2048, total_mb // 8))
    return 1024


def start_session(work: WorkDirs, event_log: bool = False) -> SparkSession:
    """local[<cores>] session sized from the host. The first call launches
    the JVM; later calls (after ``stop``) start a new context in it."""
    tmp = work.sub("jvm")
    # Python workers inherit the environment of the JVM, which inherits
    # ours: without the repo root on PYTHONPATH, mapInPandas UDFs cannot
    # import combblas_spark in the executors.
    path = os.environ.get("PYTHONPATH", "")
    if work.root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (work.root, path) if p)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp dir, from either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = host_cores()
    heap = driver_heap_mb()
    # the heap starts small and grows with what the engine allocates, so
    # peak memory follows the engine rather than a fixed reservation
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.local.dir", work.sub("local"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.default.parallelism", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", work.sub("warehouse"))
        .config("spark.eventLog.enabled", str(event_log).lower())
    )
    if event_log:
        b = (
            b.config("spark.eventLog.dir", "file://" + work.sub("eventlog"))
            .config("spark.eventLog.compress", "false")
            # per-stage peak JVM memory, for the traced run's heap metric;
            # it is sampled at heartbeats, 10 s apart by default
            .config("spark.eventLog.logStageExecutorMetrics", "true")
            .config("spark.executor.heartbeatInterval", "1s")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the active context, then the JVM itself, and wait for it."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)


# -- process tree -------------------------------------------------------------


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
        # state and ppid follow the parenthesised command name
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":  # a zombie has exited; only its entry is left
            kids.setdefault(int(ppid), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared with forked Python workers
    count once across the tree, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def wait_for_descendants(timeout: float = 60.0) -> bool:
    """True once no process started by this one is left."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


class PeakRss:
    """Samples the memory of this process's descendants (the JVM and its
    Python workers), summed as PSS, every ``interval`` seconds. This
    process is left out: it also holds the numpy/DuckDB reference answers."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_kb(p) for p in descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
