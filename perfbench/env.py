"""The pinned run environment: threads, cores, heap, work directories,
the Spark session's lifecycle and peak-memory sampling.

``pin`` must run before numpy or the JVM is loaded, so ``run.py`` calls
it before importing anything else from this directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap: 1 GiB, or a quarter of physical memory if smaller."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return min(1024, total_kb // 4096)


def pin(work: str) -> None:
    """One BLAS/OMP thread everywhere, the package importable by the
    driver and by the Python workers the JVM forks, the same interpreter
    for both, and every temporary file under ``work``."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb()}m"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    """A SparkSession from the engine's own factory at local[cores], with
    the directories ``pin`` chose; starts the JVM if none is running."""
    from georasters_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        cores=cores(),
        extra_conf={
            # the whole heap committed and touched at start, so the JVM's
            # RSS less its committed heap is exactly its non-heap memory
            # (PeakMemory adds the heap in use); no hsperfdata file,
            # which would go to /tmp whatever tmpdir is
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{heap_mb()}m -XX:+AlwaysPreTouch "
                "-XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid() -> int:
    """The driver JVM's process id."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """End the JVM and every Python worker it forked, waiting until each
    process has exited.  Stop the SparkSession first."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    kids = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap(kids, grace=30)


def reap(pids: list[int], grace: float) -> None:
    """Wait up to ``grace`` seconds for ``pids`` to exit, SIGKILL the
    rest, and wait until every one has ended."""
    deadline = time.monotonic() + grace
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in pids:
        while _alive(pid):
            time.sleep(0.05)


# ---------------------------------------------------------------------------
# process tree and RSS from /proc
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from `state` on


def _alive(pid: int) -> bool:
    st = _stat(pid)
    if st is None or st[0] == "Z":
        if st is not None:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own zombie children
            except ChildProcessError:
                pass
        return False
    return True


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out.setdefault(int(st[1]), []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    children = _children()
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def read_bytes(pid: int) -> int:
    """Bytes the process has passed to read()/pread() so far, over all
    its threads (``rchar``), whether from page cache, disk or sockets."""
    with open(f"/proc/{pid}/io") as f:
        return int(next(ln for ln in f if ln.startswith("rchar")).split()[1])


class PeakMemory:
    """Samples, every ``interval`` seconds on a background thread, the
    memory the driver holds: the JVM's RSS less its committed heap (all
    resident, see ``start_spark``), plus the heap in use (MemoryMXBean),
    plus the RSS of the ``cores()`` largest Python workers.  The
    benchmark's own interpreter is not counted.  Left out: short-lived
    forks of the JVM that have not yet exec'd (they briefly show the
    JVM's whole RSS), and spare idle workers, which Spark forks when a
    task starts before the last task's worker is handed back, and which
    come and go from run to run."""

    def __init__(self, spark, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me, jvm, n = os.getpid(), jvm_pid(), cores()
        while not self._stop.is_set():
            heap = self._bean.getHeapMemoryUsage()
            workers = sorted((_rss_bytes(p) for p in descendants(me)
                              if _is_python_worker(p)), reverse=True)
            held = _rss_bytes(jvm) - heap.getCommitted() + heap.getUsed()
            self.peak = max(self.peak, held + sum(workers[:n]))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
