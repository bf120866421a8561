"""Shared plumbing: paths, the Spark session, the RSS sampler, latency
statistics and the run stamp."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
HEAP = "2g"


def prepare_dirs() -> None:
    """Fresh work dir; point every temp file of Python, the JVM and Spark
    into it so a run writes only inside its checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.makedirs(CACHE, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # for every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    import tempfile
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def new_session():
    """One driver on local[nproc]; heap sized for a 15 GB host.  The heap
    is fixed and pre-touched (-Xms = -Xmx): a heap that grows on demand
    makes the collector's sizing choices part of every timing (twice the
    run-to-run spread in throughput).  The process tree's peak RSS then
    moves only with memory outside the Java heap; the engine's use of
    the heap is measured by :func:`peak_task_memory_mb`."""
    from pyspark.sql import SparkSession

    n = cpus()
    spark = (SparkSession.builder
             .master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.driver.memory", HEAP)
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{HEAP} -XX:+AlwaysPreTouch")
             .config("spark.local.dir", os.path.join(WORK, "spark-local"))
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.warehouse.dir",
                     os.path.join(WORK, "warehouse"))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def restart_session(spark):
    """Stop the SparkContext and start a fresh one on the same driver
    JVM: a new scheduler, block manager and executor backend, without a
    second JVM launch."""
    spark.stop()
    return new_session()


def _stages(spark):
    """The status store's stage list, newest first."""
    sc = spark.sparkContext
    return sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)


def last_stage(spark) -> int:
    sl = _stages(spark)
    return sl.apply(0).stageId() if sl.size() else -1


def peak_task_memory_mb(spark, after_stage: int) -> float:
    """Largest peak execution memory of one task (Spark's own accounting
    of its sort, aggregation and join buffers on the heap) among the
    stages after ``after_stage``, from the driver's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sl = _stages(spark)
    peak = 0
    for i in range(sl.size()):
        st = sl.apply(i)
        if st.stageId() <= after_stage:
            break
        tasks = store.taskList(st.stageId(), st.attemptId(), 1 << 20)
        for j in range(tasks.size()):
            m = tasks.apply(j).taskMetrics()
            if m.isDefined():
                peak = max(peak, m.get().peakExecutionMemory())
    return peak / 2 ** 20


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages split between the processes
    mapping them, so a short-lived child forked from the JVM does not
    count the JVM's memory a second time (plain RSS would)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_kb(root_pid: int) -> dict[int, int]:
    """Memory per process of ``root_pid`` and all its descendants (driver
    Python, the JVM it launched, Python workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = {}, [root_pid]
    while todo:
        p = todo.pop()
        out[p] = _pss_kb(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Background sampler of the process tree's peak resident memory
    (summed proportional set size)."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_procs: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            procs = _tree_kb(pid)
            if sum(procs.values()) > self.peak_kb:
                self.peak_kb = sum(procs.values())
                self.peak_procs = procs
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted average of the order statistics.  A run mixes a few query
    shapes whose latencies form separate clusters; the sample median of
    such a mix sits in the gap between two clusters and jumps with the
    noise of their edge samples, while this estimate moves smoothly."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n < 3:
        return float(x.mean())
    a = (n + 1) / 2.0
    grid = np.linspace(0.0, 1.0, 20_001)
    pdf = (grid * (1.0 - grid)) ** (a - 1.0)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    w = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(w @ x)


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """Highest percentile with at least ``beyond`` samples above it:
    returns ``(value, percentile, n)``.  With fewer than ``beyond + 1``
    samples no such percentile exists and the minimum is returned at
    percentile 0."""
    s = sorted(xs)
    n = len(s)
    i = max(0, n - 1 - beyond)
    return s[i], round(100.0 * i / max(1, n - 1), 1), n


def latency_stats(prefix: str, xs: list[float]) -> dict:
    t, pct, n = tail(xs)
    return {f"{prefix}_p50_s": hd_median(xs), f"{prefix}_tail_s": t,
            f"{prefix}_tail_pct": pct, f"{prefix}_samples": n}


def stamp(spark) -> dict:
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {"nproc": cpus(),
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "pyspark": pyspark.__version__,
            "git_sha": sha}


def now() -> float:
    return time.perf_counter()
