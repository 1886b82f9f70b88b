"""Run environment shared by every workload: paths, Spark session, memory.

Each run owns a fresh work directory under ``<repo>/.perfbench_work/``
holding the catalog warehouse, ``spark.local.dir`` and the temp dir of the
JVM and the Python workers; it is removed when the run ends. Nothing is
read or written outside the repository checkout.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import sys
import threading
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(REPO_ROOT, ".perfbench_out")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """JVM heap well below physical RAM: 40% of MemTotal, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:
            total_mb = 4096
    return f"{max(512, min(2048, total_mb * 2 // 5))}m"


class WorkDir:
    """Fresh per-run directory tree; ``close`` removes it."""

    def __init__(self) -> None:
        self.root = os.path.join(WORK_ROOT, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.local = os.path.join(self.root, "spark-local")
        self.tmp = os.path.join(self.root, "tmp")
        for d in (self.local, self.tmp):
            os.makedirs(d)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def program_importable() -> bool:
    """True when the checkout holds the program the benchmark drives."""
    return os.path.isdir(os.path.join(REPO_ROOT, "job_crawler_spark")) and os.path.isfile(
        os.path.join(REPO_ROOT, "__spark_entry__.py")
    )


def configure_env(work: WorkDir, cores: int) -> None:
    """Environment read by ``get_spark`` and inherited by the JVM and the
    Python workers it forks. Must run before the first session starts."""
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    # Spark's Python workers unpickle UDFs that reference job_crawler_spark;
    # without the repo root on their path every mapInPandas fails with
    # ModuleNotFoundError when the command runs from outside the repo root.
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + prior if prior else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = work.local
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin it as well
    os.environ["SPARK_LOCAL_DIRS"] = work.local
    os.environ["TMPDIR"] = work.tmp


def start_session(work: WorkDir, cores: int, app: str = "perfbench"):
    """Start (or restart at another core count) the Spark session through
    the program's own factory. Returns (spark, seconds)."""
    from job_crawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app,
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": work.path("spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    Python worker whose parent (the JVM) exits first is re-parented here
    rather than to init, and ``stop_session`` can wait for it and reap it."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def stop_session(timeout_s: float = 15.0) -> None:
    """Stop the Spark session and the JVM behind it, wait until the JVM and
    every process it forked (the Python workers) have ended, and reap them.
    Safe to call when no session was started, and more than once."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as exc:  # the JVM is stopped below either way
            log(f"SparkContext.stop failed: {exc!r}")
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        # the JVM exits by itself once its stdin pipe reaches EOF
        try:
            proc.stdin.close()
        except OSError:
            pass
    # a grace period, then SIGTERM to what is left, then SIGKILL; orphans
    # are re-parented here (adopt_orphans), so the tree walk still finds them
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in _alive(_descendants(_children_map())) if sig else []:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while _alive(_descendants(_children_map())) and time.monotonic() < deadline:
            time.sleep(0.1)
    if proc is not None:
        proc.wait(timeout=timeout_s)
    _reap()
    left = _alive(_descendants(_children_map()))
    if left:
        raise RuntimeError(f"processes still running after shutdown: {left}")


def _reap() -> None:
    """Collect the exit status of every ended child, so none is left a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:  # children left, none of them ended
            return


def _alive(pids: list[int]) -> list[int]:
    """The pids that still name a running (not zombie) process."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(pid)
    return out


def dir_bytes(path: str) -> tuple[int, int]:
    """(file count, bytes) of every regular file under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.stat(os.path.join(dirpath, n)).st_size
                files += 1
            except FileNotFoundError:
                pass
    return files, size


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
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(kids: dict[int, list[int]]) -> list[int]:
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


# Last CPU time seen of each JIT compiler thread, by (pid, tid). The JVM
# starts and stops its second C2 thread with the compile queue, and an ended
# thread's time stays in its process's total, so the last sighting is kept.
_jit_ticks: dict[tuple[int, int], int] = {}
_jit_lock = threading.Lock()  # RssSampler's thread polls too
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15


def _poll_jit(pids: list[int]) -> None:
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
            if name.startswith(_JIT_THREADS):
                fields = rest.split()
                with _jit_lock:
                    _jit_ticks[(pid, int(tid))] = int(fields[11]) + int(fields[12])


def cpu_seconds() -> float:
    """CPU time (user + system, including reaped children) of every
    descendant process, the JVM and the Python workers it forks, less that
    of the JVM's JIT compiler threads: after warm-up they still compile for
    up to half of a query's CPU, an amount that varies 2x between JVMs, so
    it would hide the program's own cost. Wall times still include it."""
    total = 0
    pids = _descendants(_children_map())
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat
        total += sum(int(x) for x in fields[11:15])
    _poll_jit(pids)
    with _jit_lock:
        jit = sum(_jit_ticks.values())
    return (total - jit) / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the JVM and its Python workers: every
    descendant process of this one, polled from /proc. Each process's own
    high-water mark (VmHWM) is kept at its largest value seen, and the
    peaks are summed — an upper bound on their simultaneous peak."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        pids = _descendants(_children_map())
        # bounds what a JIT thread that ends between two cpu_seconds calls
        # leaves uncounted to one interval
        _poll_jit(pids)
        for pid in pids:
            hwm = _hwm_kb(pid)
            if hwm > self._peaks.get(pid, 0):
                self._peaks[pid] = hwm

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def stop(self) -> float:
        """Stop polling; return the peak in MB."""
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=10)
        self.sample()
        return sum(self._peaks.values()) / 1024.0


def median(values: list[float]) -> float:
    return float(statistics.median(values))
