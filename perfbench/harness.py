"""Spark session with the benchmark's pinned settings, process lifetime,
the memory sampler (JMX pool peaks plus /proc worker RSS) and the
summary statistics.

Everything a run writes lives under ``<checkout>/.perfbench_work``: the
spans of traced runs in ``spans/``, and Spark's scratch space, stage
tables and index artifacts in ``run/``, which each run starts empty.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SCRATCH = os.path.join(WORK, "run")

#: Task slots: at most 4, never more than the CPUs this process may use.
SLOTS = min(4, len(os.sched_getaffinity(0)))

#: Settings pinned on top of the program's own engine configuration
#: (``session.get_spark``), so a parent commit and a change run the same
#: way.  Scratch space stays inside the checkout.
PINNED = {
    "master": f"local[{SLOTS}]",
    "spark.sql.shuffle.partitions": str(2 * SLOTS),
    "spark.driver.memory": "3g",
    "spark.ui.enabled": "false",
    "spark.local.dir": os.path.join(SCRATCH, "spark-local"),
    "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
    "spark.driver.extraJavaOptions": (
        "-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(SCRATCH, 'tmp')}"
    ),
}


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "orchid_fst_spark", "__init__.py"))


def prepare_env() -> None:
    """Empty scratch directory; make python workers import the checkout's
    package and keep every temp file inside the checkout."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(SCRATCH, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(SCRATCH, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = PINNED["spark.local.dir"]


def start_spark(event_log: bool = False):
    from orchid_fst_spark.session import get_spark

    extra = {k: v for k, v in PINNED.items()
             if k not in ("master", "spark.driver.memory",
                          "spark.sql.shuffle.partitions")}
    if event_log:
        log_dir = os.path.join(SCRATCH, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = log_dir
        extra["spark.eventLog.compress"] = "false"
        extra["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(
        app_name="perfbench",
        cores=SLOTS,
        shuffle_partitions=int(PINNED["spark.sql.shuffle.partitions"]),
        driver_memory=PINNED["spark.driver.memory"],
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- processes ---------------------------------------------------------------


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
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop Spark, then end the JVM and every python worker it started
    and wait until all of them are gone.  The workers are listed before
    the JVM exits: after that they are no longer this process's
    descendants."""
    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
    while any(_alive(p) for p in started):
        time.sleep(0.1)


# -- memory ------------------------------------------------------------------


class MemSampler:
    """Peak memory of the program during timed regions only.

    Per region: the sum of the peak use of the JVM's memory pools (read
    through JMX) plus the peak RSS of the JVM's python-worker tree,
    sampled from /proc.  The eden pool is left out: its peak is the young
    generation size G1 picks (it varied 340-870 MB between seeds for the
    same resolve), not memory the program holds; what survives a young
    collection, and every humongous allocation, lands in the survivor
    and old pools, which count.  A region opens with a full collection
    and then resets the pool peaks, so the old pool starts at the live
    data, not at garbage earlier regions promoted.  ``peak_bytes`` is the
    largest region total, and ``parts`` its split into JVM heap (without
    eden), JVM non-heap and workers."""

    def __init__(self, spark, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.parts = {"jvm_heap": 0, "jvm_nonheap": 0, "workers": 0}
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if "Eden" not in p.getName()]
        self._gc = spark.sparkContext._jvm.java.lang.System.gc
        self._heap = [str(p.getType()) == "Heap memory" for p in self._pools]
        self._jvm_pid = spark.sparkContext._gateway.proc.pid
        self._workers = 0
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> int:
        total = 0
        for pid in descendants(self._jvm_pid):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _record(self) -> None:
        sample = self._sample()
        with self._lock:
            self._workers = max(self._workers, sample)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self._record()
                time.sleep(self.interval)

    @contextmanager
    def active(self):
        self._gc()
        for pool in self._pools:
            pool.resetPeakUsage()
        with self._lock:
            self._workers = 0
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._record()
            heap = nonheap = 0
            for pool, is_heap in zip(self._pools, self._heap):
                used = pool.getPeakUsage().getUsed()
                if is_heap:
                    heap += used
                else:
                    nonheap += used
            total = heap + nonheap + self._workers
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.parts = {"jvm_heap": heap, "jvm_nonheap": nonheap,
                              "workers": self._workers}

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)
        self._on.clear()


# -- statistics --------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it; (max, 100, n) when there are fewer than 11."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n
