"""Run environment: pinned settings, box fingerprint, and the peak-RSS
sampler of the benchmark's process tree.

``pin`` must run before pyspark starts the JVM: the JVM and the Python
workers it forks inherit this process's environment.
"""

from __future__ import annotations

import os
import platform
import threading
import time

# Driver heap, fixed (-Xms = -Xmx) so heap growth does not move the
# timings. Sized to leave most of a 15 GB box to the OS page cache and
# the Python workers.
HEAP = "2g"


def cpus() -> int:
    """Cores this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def pin(root: str, work: str) -> None:
    """Pin the settings every run shares. ``root`` is the checkout (put
    on PYTHONPATH so Python workers can import the engine); ``work`` is
    the run's private scratch directory inside it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")


def spin_ms() -> float:
    """Best of three runs of a fixed pure-Python loop: moves with the
    speed of the box (and of the interpreter, hence python_version)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def fingerprint() -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {"cpu_model": model, "nproc": cpus(),
            "python": platform.python_version()}


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set of ``root_pid`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class PeakRss:
    """Background sampler of the process tree's RSS; ``peak_mb`` is the
    largest sample seen since ``start``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
