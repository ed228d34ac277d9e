"""Machine pinning, the Spark launcher, statistics and memory sampling.

Everything a run creates (Spark local dirs, tables, event logs, JVM temp
files) lives under one temp dir inside the checkout, removed when the run
ends. Every process started here (the JVM and the Python workers it forks)
is stopped and waited for before the run returns.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# machine
# ---------------------------------------------------------------------------


def machine_cpus() -> int:
    """CPUs this process may run on — what ``env -u OMP_NUM_THREADS nproc``
    prints (nproc honours OMP_NUM_THREADS; the affinity mask does not)."""
    return len(os.sched_getaffinity(0))


def machine_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    """A quarter of physical RAM, capped at 4 GiB: local[N] runs the Spark
    driver and executors in one JVM, and the machine is shared."""
    return max(512, min(4096, mem_mb // 4))


def git_commit(root: str = ROOT) -> str:
    """HEAD of the checkout, read from ``.git`` directly (no git process,
    and no search above the checkout); ``unknown`` outside a git tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_ok(n: int, q: float) -> bool:
    """A tail percentile is reported only with at least 10 samples beyond it."""
    return n * (1.0 - q / 100.0) >= 10


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def cpu_s() -> float:
    """CPU seconds (user + system) so far of this process (exactly) and of
    its descendants, the JVM and the Python workers (in clock ticks; reaped
    children included)."""
    ticks = 0
    for p in process_tree(os.getpid())[1:]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak resident set, sampled every ``period`` seconds, of the Python
    processes (this one and the Spark Python workers) and, apart, of the
    JVM. The JVM's resident set follows its garbage collector's heap
    sizing more than the work, so it is kept out of the headline number.
    Other descendants (shell helpers the JVM spawns) are skipped: between
    vfork and exec they share, and report, the JVM's resident set."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_kb = 0
        self.jvm_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        py = jvm = 0
        for p in process_tree(os.getpid()):
            comm = _comm(p)
            if comm == "java":
                jvm += _rss_kb(p)
            elif comm.startswith("python"):
                py += _rss_kb(p)
        self.peak_kb = max(self.peak_kb, py)
        self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def jvm_peak_mb(self) -> float:
        return self.jvm_peak_kb / 1024.0


# ---------------------------------------------------------------------------
# run directory and Spark
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def run_dir(root: str = ROOT):
    """A fresh temp dir under the checkout, removed on exit."""
    base = os.path.join(root, ".perfbench_tmp")
    path = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)


def pin_environment(tmp: str) -> dict:
    """Pin resources from the machine before any JVM starts. Returns the
    settings for the run record."""
    cpus = machine_cpus()
    heap_mb = driver_heap_mb(machine_mem_mb())
    local = os.path.join(tmp, "spark-local")
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(jtmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = jtmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers import the package (and pickled kernels) themselves
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {"cpus": cpus, "heap": f"{heap_mb}m"}


def start_spark(tmp: str, event_log: str | None = None):
    """A fresh JVM and session through the package's own factory. With
    ``event_log`` the JVM writes an uncompressed event log there."""
    from iceberg_evolve_spark.sources.session import get_session

    confs = {
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(tmp, "jvm-tmp"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs["spark.eventLog.dir"] = "file://" + event_log
        # stdlib cannot read the zstd Spark writes by default
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"
    spark = get_session(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait for it and every
    process it forked (Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid)[1:] if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in tree:
        while _is_alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                break
            time.sleep(0.05)


def _is_alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ", 1)[1][0] != "Z"
    except (OSError, IndexError):
        return False
