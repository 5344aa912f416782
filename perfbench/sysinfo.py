"""Environment pinning, the raw-CPU capacity probe, the process-tree
memory sampler and the clean-up of every process a run starts.

None of these is a metric of the program: the environment and the
probe readings are recorded next to each result so that a reading
taken on a throttled or differently sized machine can be told apart
from a code regression.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import threading
import time


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: str) -> dict:
    """Pin the variables the session factory reads, before Spark starts.

    ``get_spark`` defaults the driver heap to 48g; on a small machine
    that over-commits memory shared with other processes, so the heap is
    sized to an eighth of this machine's memory, 1-2 GiB (the inputs
    are small; a capped heap also keeps the peak RSS from following GC
    timing).  Every temporary file goes under ``work``; JVM perf-data
    files, which HotSpot always writes under /tmp, are turned off for
    every JVM started from here (the Spark launcher and the driver)."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(2048, mem_total_mb() // 8))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        TZ="UTC",
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    time.tzset()
    return {"cpus": cpus, "driver_mem_mb": heap_mb, "tmp": tmp}


def versions(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_total_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "platform": platform.platform(),
    }


def _burn(n_iter: int) -> int:
    x = 0
    for _ in range(n_iter):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


_BURNER = """
import sys
sys.path.insert(0, sys.argv[1])
from sysinfo import _burn
_burn(1000)
print("ready", flush=True)
sys.stdin.readline()
_burn(int(sys.argv[2]))
print("done", flush=True)
"""


def capacity_probe(procs: int, n_iter: int = 500_000) -> float:
    """Raw-CPU capacity in M ops/s: the same LCG burn ``bench.py`` uses,
    one process per core, all released at once once each has started.
    Readings well below this machine's usual ones mean the machine, not
    the code, was slow.  Plain child processes, each waited for, so the
    probe leaves nothing running (a multiprocessing pool would leave its
    resource tracker alive until this process exits)."""
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [sys.executable, "-c", _BURNER, here, str(n_iter)]
    kids = [subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True) for _ in range(procs)]
    try:
        for k in kids:
            k.stdout.readline()
        t0 = time.perf_counter()
        for k in kids:
            k.stdin.write("go\n")
            k.stdin.flush()
        for k in kids:
            k.stdout.readline()
        dt = time.perf_counter() - t0
    finally:
        for k in kids:
            k.kill()
            k.wait()
    return round(procs * n_iter / dt / 1e6, 2)


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children of every process and each process's RSS in kB."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    return children, rss


def descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root: int) -> int:
    children, rss = _proc_table()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts:
    a process whose parent exits first (a Python worker of the Spark
    daemon, say) is re-parented here instead of to init, so
    :func:`end_descendants` can still find it and wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after ``grace`` s."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    termed: set[int] = set()
    while True:
        _reap()
        pids = descendants(me)
        if not pids:
            if termed:
                log(f"stopped {len(termed)} leftover process(es)")
            return
        late = time.monotonic() > deadline
        for pid in pids:
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)
