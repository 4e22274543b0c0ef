"""Run plumbing shared by the workloads: the work directory inside the
checkout, the SparkSession, the peak-memory sampler and the noise canary."""

from __future__ import annotations

import os
import shutil
import threading
import time

import numpy as np

CORES = 4
MEM_PERIOD_S = 0.25


def work_dir(root: str, workload: str, seed: int) -> str:
    """A fresh directory under the checkout for this run's stores, Spark
    scratch space and temp files; removed when the run ends."""
    d = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def make_spark(wd: str, event_log_dir: str | None = None):
    """``local[4]`` with the program's own session settings
    (``jackfruit_spark.session.get_spark``), a 1 GB heap, and every scratch
    path inside ``wd`` (call ``pin_temp`` first). ``event_log_dir`` turns
    on Spark's uncompressed event log for a traced run."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{CORES}]")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(wd, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(wd, "warehouse"))
        # a fixed 1 GB heap: peak memory must not depend on when G1 grows it
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC -Xms1g")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM launcher's stdin (the JVM exits
    on EOF) and wait for the JVM process, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


def pin_temp(wd: str) -> None:
    """Point Python's tempfile, child processes and every JVM (including
    spark-submit's launcher) at the run's tmp dir, before anything calls
    ``tempfile.gettempdir``."""
    import tempfile

    tmp = os.path.join(wd, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


# -------------------------------------------------------------- memory


def _tree_pids(root_pid: int, exclude: set[int]) -> list[int]:
    """root_pid plus all its descendants (the JVM and the Python workers
    are children of the driver process), minus the subtrees of
    ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the Python
    workers are forks of one daemon) are split among them, so the sum over
    processes is the tree's real footprint."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Samples the summed PSS of this process tree every MEM_PERIOD_S; the
    peak is the largest sum seen. Pids in ``exclude`` (the load generator)
    are not counted."""

    def __init__(self):
        self.peak_kb = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(MEM_PERIOD_S)

    def sample(self) -> None:
        total = sum(_pss_kb(p) for p in _tree_pids(os.getpid(), self.exclude))
        self.peak_kb = max(self.peak_kb, total)

    def start(self) -> "MemSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self.sample()
        return self.peak_kb / 1024.0


# -------------------------------------------------------------- canary


def canary_ms() -> float:
    """A fixed driver-side computation (seeded matmul + sort), median of 5
    after one untimed pass. It does not touch the program; a shift between
    runs flags a noisy machine, not a code change."""
    rng = np.random.default_rng(12345)
    a = rng.random((160, 160))
    v = rng.random(200_000)
    times = []
    for _ in range(6):
        t0 = time.perf_counter()
        for _ in range(4):
            a = a @ a
            a /= np.abs(a).max()
        np.sort(v)
        times.append((time.perf_counter() - t0) * 1000.0)
    return float(np.median(times[1:]))

