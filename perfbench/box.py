"""Box-health provenance and process-tree memory sampling.

Everything here reads ``/proc`` only; on a machine without it the
provenance fields read -1 and the memory metric reads 0, which the
result line reports as measured.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def loadavg() -> list[float]:
    """[1-min, 5-min] load average."""
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        return [float(parts[0]), float(parts[1])]
    except (OSError, IndexError, ValueError):
        return [-1.0, -1.0]


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def spin_probe_ms() -> float:
    """Wall time of a fixed pure-Python loop on one core: a slow value
    marks a window where a neighbour held this core."""
    t0 = time.perf_counter()
    x = 0x9E3779B9
    for _ in range(1_000_000):
        x = (x * 0x2545F491 + 0x3C6EF372) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000


class Health:
    """Steal fraction over a window, with load average and spin probe
    at its ends."""

    def __init__(self):
        self.ticks0 = cpu_ticks()
        self.load0 = loadavg()

    def report(self) -> dict:
        t1 = cpu_ticks()
        dt = max(1, t1[0] - self.ticks0[0])
        return {
            "steal_frac": round((t1[1] - self.ticks0[1]) / dt, 4),
            "loadavg_start": self.load0,
            "loadavg_end": loadavg(),
            "spin_probe_ms": round(spin_probe_ms(), 1),
        }


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(ppid → child pids, pid → resident bytes) of every process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        # the command name may hold spaces: ppid is 2 fields after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * _PAGE
    return children, rss


def descendants(root: int, table=None) -> list[int]:
    """Pids of every process below ``root``."""
    children = (table or _proc_table())[0]
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited, SIGKILLing what outlives the
    timeout. Processes whose parent has exited are no longer ours to
    ``wait`` for, so this polls."""
    import signal

    deadline = time.time() + timeout_s
    killed = False
    while True:
        pids = [p for p in pids if _running(p)]
        if not pids:
            return
        if time.time() > deadline:
            if killed:
                return  # SIGKILL cannot be ignored: they are on their way
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.time() + timeout_s
        time.sleep(0.1)


def _tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    table = _proc_table()
    return sum(table[1].get(p, 0) for p in [root, *descendants(root, table)])


class RssSampler:
    """Background thread tracking the peak RSS of this process tree
    (the driver JVM and the Python workers are its descendants)."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            try:
                self.peak = max(self.peak, _tree_rss_bytes(pid))
            except OSError:
                pass
            if self._stop.wait(self.period_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
