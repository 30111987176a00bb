"""Process-tree CPU and memory, and host noise, read from ``/proc``.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the PySpark daemon and workers the JVM forks.  CPU is the
``utime + stime + cutime + cstime`` of every live member (a reaped
worker's time is already in its parent's ``cutime``), split by kind so
JVM time and Python-worker time can be told apart.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces and parens; what follows the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0].decode(errors="replace")
    except OSError:
        return "jvm"
    return "py" if os.path.basename(exe).startswith("python") else "jvm"


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, each page shared by k
    processes counted 1/k — PySpark workers are forks sharing most of
    their pages, so summing plain RSS would count those pages per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


@dataclass
class TreeSample:
    cpu_s: float  # whole tree
    jvm_cpu_s: float
    py_cpu_s: float  # PySpark daemon + workers


class ProcTree:
    """The process tree rooted at this process."""

    def __init__(self):
        self.root = os.getpid()
        self._kinds: dict[int, str] = {}

    def members(self) -> dict[int, float]:
        """→ {pid: cpu seconds} for the root and its descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (f := _stat_fields(int(name))) is not None:
                stats[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]) / _TICK)
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid][1]
                todo.extend(children.get(pid, ()))
        return out

    def kind(self, pid: int) -> str:
        """``driver``, ``jvm`` or ``py`` (PySpark daemon and workers)."""
        if pid not in self._kinds:
            self._kinds[pid] = _kind(pid, self.root)
        return self._kinds[pid]

    def sample(self) -> TreeSample:
        cpu = {"driver": 0.0, "jvm": 0.0, "py": 0.0}
        for pid, c in self.members().items():
            cpu[self.kind(pid)] += c
        return TreeSample(sum(cpu.values()), cpu["jvm"], cpu["py"])

    def descendants(self) -> list[int]:
        return [p for p in self.members() if p != self.root]


class MemoryPeak:
    """Background sampler of the tree's summed PSS; ``peak()`` is the
    high-water mark since the last ``reset()``.  A sample reads every
    process's ``smaps_rollup``, so it runs once a second, and its own CPU
    is kept in ``own_cpu_s`` to be taken off the program's."""

    PERIOD_S = 1.0

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.own_cpu_s = 0.0
        self._peak = 0
        self.peak_split: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> MemoryPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self._observe()
            self.own_cpu_s = time.thread_time()

    def _observe(self) -> None:
        split = {"driver": 0, "jvm": 0, "py": 0}
        for pid in self.tree.members():
            split[self.tree.kind(pid)] += pss_bytes(pid)
        with self._lock:
            if sum(split.values()) > self._peak:
                self._peak, self.peak_split = sum(split.values()), split

    def reset(self) -> None:
        with self._lock:
            self._peak, self.peak_split = 0, {}
        self._observe()

    def peak(self) -> int:
        self._observe()
        with self._lock:
            return self._peak


def _host_counters() -> tuple[float, float]:
    """Host-wide (user, steal) CPU seconds from ``/proc/stat``."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    return (int(cpu[0]) + int(cpu[1])) / _TICK, int(cpu[7]) / _TICK


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _spin(n: int) -> int:
    acc = 0
    for i in range(n):
        acc += i * i
    return acc


class SpeedProbe:
    """The host's CPU speed while the program runs.  A background thread
    runs a fixed loop every ``PERIOD_S``, pinned to each CPU in turn, and
    records the thread CPU-time it took; a shared core that is slowed by
    other tenants shows up here as it does in the program's ``cpu_s``."""

    PERIOD_S = 0.05
    LOOP_N = 20_000  # about 1.5 ms of one CPU

    def __init__(self):
        self.samples: list[float] = []
        self.own_cpu_s = 0.0  # the probe thread's own CPU time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> SpeedProbe:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        cpus = sorted(os.sched_getaffinity(0))
        i = 0
        while not self._stop.wait(self.PERIOD_S):
            os.sched_setaffinity(0, {cpus[i % len(cpus)]})  # this thread only
            i += 1
            t0 = time.thread_time()
            _spin(self.LOOP_N)
            t1 = time.thread_time()
            self.samples.append(t1 - t0)
            self.own_cpu_s = t1

    def mark(self) -> int:
        return len(self.samples)

    def median_since(self, mark: int) -> float:
        xs = self.samples[mark:]
        return statistics.median(xs) if xs else 0.0


class HostNoise:
    """Steal seconds and 1-minute load average over a run — diagnostics that tell a slow run on a busy host from a
    regression."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.user0, self.steal0 = _host_counters()
        self.loads = [_loadavg_1m()]

    def tick(self) -> None:
        self.loads.append(_loadavg_1m())

    def report(self) -> dict[str, float]:
        user, steal = _host_counters()
        self.tick()
        user, steal = user - self.user0, steal - self.steal0
        return {
            "run_s": round(time.monotonic() - self.t0, 3),
            "steal_s": round(steal, 3),
            "steal_per_user": round(steal / user, 4) if user > 0 else 0.0,
            "loadavg_1m_mean": round(sum(self.loads) / len(self.loads), 3),
            "loadavg_1m_max": max(self.loads),
        }


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid in ``pids`` has ended: SIGTERM after half the
    timeout, SIGKILL at the end; → pids still alive after that."""
    deadline = time.monotonic() + timeout_s
    sent = None
    while True:
        try:  # reap our own exited children so they do not stay zombies
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = [p for p in pids if _alive(p)]
        if not left or sent == signal.SIGKILL:
            return left
        remaining = deadline - time.monotonic()
        sig = (
            signal.SIGKILL if remaining <= 0
            else signal.SIGTERM if remaining < timeout_s / 2 and sent is None
            else None
        )
        if sig is None:
            time.sleep(0.1)
            continue
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        sent = sig
        time.sleep(0.5)
