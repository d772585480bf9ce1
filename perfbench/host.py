"""Host facts and noise gauges recorded next to every run.

* ``cpus`` / ``mem_total_mb``: what the run was sized for.
* CPU-steal fraction and load: the ``/proc/stat`` method ``bench.py``
  uses. Hypervisor neighbours show up only as steal, so a set of runs
  taken under steal is visible as such in the output.
* Peak RSS of the Spark JVM plus its Python workers: every descendant
  process of this interpreter, summed, sampled from ``/proc`` on a
  background thread.
* Process hygiene: this interpreter adopts orphaned descendants, and
  ``stop_descendants`` ends the Spark JVM and every Python worker it
  forked, waiting until each has gone, before the run exits.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import threading
import time


def cpu_count() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit() and int(env) > 0:
        return int(env)
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(total_mb: int) -> str:
    """An eighth of the host, between 1 GiB and the engine's 24 GiB
    default, so a small host is not over-committed by the JVM heap."""
    return f"{max(1024, min(24 * 1024, total_mb // 8))}m"


def cpu_sample() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(a: list[int], b: list[int]) -> float:
    """Steal share of busy CPU time between two /proc/stat samples."""
    d = [y - x for x, y in zip(a, b)]
    total = max(sum(d[:8]), 1)
    busy = max(total - d[3] - d[4], 1)
    return d[7] / busy


def load1() -> float:
    return os.getloadavg()[0]


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process."""
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parents


def descendants(pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every descendant of ``pid``."""
    kids: dict[int, list[int]] = {}
    for p, ppid in _parents().items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], [(k, pid) for k in kids.get(pid, [])]
    while todo:
        p, ppid = todo.pop()
        out.append((p, ppid))
        todo.extend((k, p) for k in kids.get(p, []))
    return out


def statm(pid: int) -> tuple[int, int]:
    """(virtual size, RSS) in bytes; (0, 0) for a process that is gone."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            size, rss = f.read().split()[:2]
    except OSError:
        return 0, 0
    page = os.sysconf("SC_PAGE_SIZE")
    return int(size) * page, int(rss) * page


def _same_memory(child: tuple[int, int], parent: tuple[int, int] | None) -> bool:
    """A child forked but not yet exec'd (the JVM spawning a Python
    worker) maps its parent's memory: same virtual size, RSS within 2 %
    (the two are read at slightly different moments)."""
    return (parent is not None and child[0] == parent[0]
            and abs(child[1] - parent[1]) <= 0.02 * parent[1])


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    the Python workers it forks), sampled every ``interval`` seconds.
    ``peak_parts`` is the per-process breakdown at the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_parts: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        procs = descendants(os.getpid())
        mem = {p: statm(p) for p, _ in procs}
        parts = [mem[p][1] for p, ppid in procs
                 if not _same_memory(mem[p], mem.get(ppid))]
        if sum(parts) > self.peak:
            self.peak, self.peak_parts = sum(parts), sorted(parts, reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.sample()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (a Python
    worker whose JVM exits first is re-parented here, not to init), so
    ``stop_descendants`` can see and wait for every one of them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _ended(pid: int) -> bool:
    """Gone from /proc, or a zombie another process will collect. A
    zombie child of this process has not ended here until it is reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
    except OSError:
        return True
    return state in ("Z", "X") and int(ppid) != os.getpid()


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _wait_gone(pids: set[int], seconds: float) -> set[int]:
    """Poll until each of ``pids`` and of this process's descendants has
    ended and been reaped, at most ``seconds``; return the ones left."""
    deadline = time.monotonic() + seconds
    while True:
        _reap()
        pids = {p for p in pids | {d for d, _ in descendants(os.getpid())}
                if not _ended(p)}
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.05)


def stop_descendants(grace: float = 30.0) -> None:
    """End every process this one started and wait until each has gone.

    The Spark JVM is asked first, the way PySpark's own exit asks it: the
    py4j gateway is shut and the JVM's stdin pipe closed, after which it
    stops its Python workers and exits. Whatever still runs after
    ``grace`` seconds is terminated, then killed."""
    pids = {p for p, _ in descendants(os.getpid())}
    context = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    gateway = context and context._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        context._gateway = context._jvm = None
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    left = _wait_gone(pids, grace)
    for sig, seconds in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        left = _wait_gone(left, seconds)
    if left:
        raise RuntimeError(f"processes {sorted(left)} did not end")
