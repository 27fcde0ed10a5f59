"""Shared plumbing of the perfbench workloads: run environment, Spark
session lifecycle, timing statistics, tracing and peak-memory sampling.

Nothing here starts a thread, a process or a JVM at import time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
CPUS_DEFAULT = "4"
HEAP_DEFAULT = "2g"
JVM_FILE_OPTS = "-XX:-UsePerfData"  # no hsperfdata files under /tmp


# --------------------------------------------------------------------------
# statistics


def median(values):
    return statistics.median(values) if values else float("nan")


def tail_percentile(samples, groups=None, cap: float = 95.0, beyond: int = 10) -> tuple[float, float, int]:
    """(percentile, value, units): ``cap`` when the samples above it come
    from at least ``beyond`` independent units, else the highest percentile
    whose samples above it still do. ``groups[i]`` names the unit sample
    ``i`` belongs to (samples that share a unit, such as the snapshots one
    micro-batch commits together, are one measurement); without ``groups``
    every sample is its own unit. Raises ValueError with ``beyond`` units or
    fewer.

    The value is an order statistic (no interpolation): with the samples
    sorted ascending, the p-th percentile is the element below which p % of
    the samples fall."""
    n = len(samples)
    groups = list(range(n)) if groups is None else list(groups)
    units = len(set(groups))
    if units <= beyond:
        raise ValueError(f"{units} independent samples cannot support a tail percentile with {beyond} beyond it")
    order = sorted(range(n), key=lambda k: samples[k])
    # the highest index whose samples beyond it span `beyond` units
    seen: set = set()
    limit = 0
    for i in range(n - 1, -1, -1):
        if len(seen) >= beyond:
            limit = i
            break
        seen.add(groups[order[i]])
    # the cap allows i >= ceil(cap% of n) - 1
    cap_idx = max(0, -(-int(round(cap * n)) // 100) - 1)
    idx = min(cap_idx, limit)
    return 100.0 * (idx + 1) / n, samples[order[idx]], units


class TooShort(Exception):
    """The run measured too few independent samples to report."""


@dataclass
class Op:
    """One open-loop operation: when it was due, when a client thread took it
    up, when it finished, and how late the dispatcher released it."""

    due: float
    late: float = 0.0
    start: float = 0.0
    end: float = 0.0
    result: object = None
    error: str | None = None

    @property
    def latency(self) -> float:
        """Timed from when the operation was DUE, not from when it started:
        a stall delays every later operation and the wait counts against
        each of them."""
        return self.end - self.due


def run_open_loop(offsets, fn, threads: int, lead: float = 0.5) -> list[Op]:
    """Release ``fn(i)`` at ``t0 + offsets[i]`` to a pool of ``threads``
    client threads, never waiting for earlier operations to finish (an open
    loop: a slow system faces a growing queue, not fewer arrivals). An
    exception in ``fn`` fails that operation only."""
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time() + lead
    ops = [Op(due=t0 + off) for off in offsets]

    def call(i: int) -> None:
        op = ops[i]
        op.start = time.time()
        try:
            op.result = fn(i)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            op.error = repr(e)
        op.end = time.time()

    with ThreadPoolExecutor(threads, thread_name_prefix="client") as pool:
        futures = []
        for i, op in enumerate(ops):
            wait = op.due - time.time()
            if wait > 0:
                time.sleep(wait)
            op.late = max(0.0, time.time() - op.due)
            futures.append(pool.submit(call, i))
        for f in futures:
            f.result()
    return ops


# --------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    name: str
    trace: str
    parent: str | None
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans and counters around each call the benchmark makes into
    a layer of the program. Spans of one request or micro-batch share a
    ``trace`` id; ``parent`` names the causing span. Written out once, at the
    end of the run."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self.values: dict[str, list[float]] = {}
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, trace: str = "", parent: str | None = None, **attrs):
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            with self._lock:
                self.spans.append(Span(name, trace, parent, start, end, attrs))
            self.self_s += time.time() - end

    def add(self, name: str, value: float) -> None:
        t0 = time.time()
        with self._lock:
            self.values.setdefault(name, []).append(float(value))
        self.self_s += time.time() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class NullTracer(Tracer):
    """Tracing off: spans and counters cost a context-manager entry only."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, trace="", parent=None, **attrs):
        yield attrs

    def add(self, name, value):
        pass


class JobCounter:
    """Spark jobs and tasks run under one job group, read from the public
    ``statusTracker`` (traced runs only)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def count(self, group: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        return len(jobs), tasks


# --------------------------------------------------------------------------
# memory


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (the
    ``steal`` column of /proc/stat): on a shared host this is what makes
    the same run read slower at one hour than at another."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Peak memory of the benchmark's process tree: the sum of ``VmHWM`` over
    this process, the driver JVM and every Python process below them
    (Python workers, the feed generator), sampled every ``interval``
    seconds; processes that exit keep their last reading.

    Other descendants are skipped: a child the JVM has just spawned reports
    the JVM's own memory until it execs, which would count the JVM twice."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.jvm_pid: int | None = None
        self.peak_kb: dict[int, int] = {}
        self.names: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        me = os.getpid()
        for pid in _descendants(me):
            name = _comm(pid)
            if pid not in (me, self.jvm_pid) and not name.startswith("python"):
                continue
            kb = _vm_hwm_kb(pid)
            if kb is not None:
                self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))
                self.names[pid] = "java" if pid == self.jvm_pid else name

    def by_name(self) -> dict[str, list[float]]:
        """Peak MB of each sampled process, grouped by executable name."""
        out: dict[str, list[float]] = {}
        for pid, kb in self.peak_kb.items():
            out.setdefault(self.names.get(pid, "?"), []).append(round(kb / 1024.0, 1))
        return out

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return sum(self.peak_kb.values()) / 1024.0


# --------------------------------------------------------------------------
# environment and Spark session


def prepare_env() -> dict:
    """Pin the run environment before the JVM starts and return it for the
    result record. The checkout root goes on PYTHONPATH so the JVM's Python
    workers can import the program (the stateful operator's workers fail
    with ModuleNotFoundError otherwise); every scratch directory Spark or
    Python may use is redirected inside the checkout."""
    os.makedirs(WORK_DIR, exist_ok=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *parts])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS_DEFAULT)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", HEAP_DEFAULT)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first would write its
    # performance counters under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_FILE_OPTS
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def start_session(app: str):
    """Build the program's own session (``covid19_spark.session.get_spark``)
    with output quieted and all files kept inside the checkout."""
    from covid19_spark.session import get_spark

    tmp = os.path.join(WORK_DIR, "tmp")
    # initial heap = maximum heap, so peak memory does not depend on when
    # the collector decided to grow the heap
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(
        app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{heap} {JVM_FILE_OPTS} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    """Process id of the driver JVM PySpark launched."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, shut the JVM down and wait for it and every process it
    started (Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + timeout
    while time.time() < deadline and len(_descendants(os.getpid())) > 1:
        time.sleep(0.1)


# --------------------------------------------------------------------------
# result


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict, info: dict) -> None:
    """Print the info record, then the result object as the LAST stdout line."""
    print(json.dumps({"info": info}, sort_keys=True), flush=True)
    print(
        json.dumps(
            {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
        ),
        flush=True,
    )
