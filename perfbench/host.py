"""Host fitting and host facts for the benchmark.

The session is fitted to the host from outside the program, through the
environment variables ``get_spark`` reads and its ``extra_conf``:
``local[nproc]``, a driver heap derived from physical memory, scratch and
temp files inside the checkout, and ``PYTHONPATH`` for the Python workers.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time

# Share of physical memory given to the driver heap (local mode: the driver
# is the only JVM), up to HEAP_CAP_GIB. The rest covers the Python workers,
# the page cache and the other tenants of the machine. The cap keeps the
# heap, and with it the resident memory, the same from run to run on a
# virtual machine whose MemTotal moves as memory is plugged or ballooned:
# a quarter of 15.7 GiB is 3.9 GiB and rounds to 3g, a quarter of 16 GiB
# would give 4g. The workloads' working sets fit in 3g.
HEAP_SHARE = 0.25
HEAP_CAP_GIB = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kib(key: str = "MemTotal") -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def heap_gib() -> int:
    return max(1, min(HEAP_CAP_GIB, int(meminfo_kib() * HEAP_SHARE / 2**20)))


def fit_environment(root: str, work: str) -> dict:
    """Set the environment the session is built from; return the extra conf."""
    scratch = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (scratch, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gib()}g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = scratch
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (the launcher as well as the driver) keeps
    # its temp and perf-data files out of the shared /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return {
        # initial heap = maximum heap, all of it resident from the start:
        # the heap is not resized mid-run, and how much of it is resident
        # does not depend on how far the collector's adaptive young-gen
        # sizing walked into it in a short window (a long job cycles
        # through all of it)
        "spark.driver.extraJavaOptions": f"-Xms{heap_gib()}g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def spin_mops(n: int = 3_000_000) -> float:
    """Single-thread CPU calibration spin (pure Python), run outside the
    timed window: a low reading marks a window measured under CPU steal."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return n / (time.perf_counter() - t0) / 1e6


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_facts(root: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    return {
        "nproc": nproc(),
        "mem_total_kib": meminfo_kib(),
        "loadavg": load,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": _git_commit(root),
    }


def spark_facts(spark) -> dict:
    sc = spark.sparkContext
    return {
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "spark_conf": dict(sorted(sc.getConf().getAll())),
    }


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each page shared between
    processes (a forked worker and its daemon) split among them."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def worker_python() -> str:
    """The interpreter binary the Python workers run."""
    name = os.environ.get("PYSPARK_PYTHON", sys.executable)
    return os.path.realpath(shutil.which(name) or name)


def _tree_rss_bytes(root_pid: int, worker_exe: str) -> tuple[int, int]:
    """Resident memory of ``root_pid``, and the summed resident memory of
    its descendants that run ``worker_exe`` (the Python daemons and
    workers), each taken as its proportional set size, so a page shared by
    forked processes counts once in the sum. Other descendants are left
    out: the JVM's short-lived helpers (``chmod``, ``rm``, jspawnhelper)
    hold little, and between its clone and its exec such a helper shares
    the JVM's address space, so its reading would count the whole JVM a
    second time."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields restart after ")"
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)

    # a process that ended between the listing and the read counts 0
    below, todo = 0, list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            # the binary first: a worker never execs, so one that runs the
            # interpreter now still does when its memory is read
            if os.readlink(f"/proc/{pid}/exe") == worker_exe:
                below += _pss_bytes(pid)
        except OSError:
            pass
    try:
        return _pss_bytes(root_pid), below
    except OSError:
        return 0, below


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the Python
    workers it forks), polled from a background thread. ``peak`` is the
    peak of the sum; ``peaks`` also holds each part's own peak."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid, self.interval = pid, interval
        self.worker_exe = worker_python()
        self.peaks = {"total": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return self.peaks["total"]

    def _sample(self) -> None:
        jvm, workers = _tree_rss_bytes(self.pid, self.worker_exe)
        for k, v in (("total", jvm + workers), ("jvm", jvm), ("workers", workers)):
            self.peaks[k] = max(self.peaks[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
