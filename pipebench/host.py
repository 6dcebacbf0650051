"""Host record and process-tree accounting, read from /proc.

The benchmark's process tree is this Python process, the Spark JVM it
launches, the PySpark daemon the JVM forks and the daemon's workers.
CPU time of the tree counts exited descendants too: a parent that has
reaped a child carries the child's time in its cutime/cstime fields.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """Live pids of ``root`` (default: this process) and its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, reaped descendants included."""
    total = 0
    for pid in pids or tree():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids or tree():
        st = _stat(pid)
        if st is not None:
            total += int(st[21])  # rss in pages, field 24
    return total * _PAGE / 2**20


class RssPeak:
    """Samples the tree's summed RSS in a background thread."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids, refreshed = tree(), time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - refreshed > 1.0:
                pids, refreshed = tree(), time.monotonic()
            self.peak = max(self.peak, tree_rss_mb(pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssPeak":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_totals() -> tuple[int, int, int]:
    """(busy ticks, steal ticks, all ticks) over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, sum(vals[:8])


def calibrate(iters: int = 3_000_000) -> float:
    """Single-core probe: million loop iterations per second of a fixed
    pure-Python loop. Lower than usual means a contended core."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i * i
    return iters / (time.perf_counter() - t0) / 1e6


class HostRecord:
    """Load before and after a run, plus the share of all CPU time the
    run's own tree did not use (other tenants) and the steal share."""

    def __init__(self) -> None:
        self.rec = {"cpus": os.cpu_count(),
                    "loadavg_pre": os.getloadavg()[0],
                    "calib_pre_mops": round(calibrate(), 2)}
        self._cpu0 = _cpu_totals()
        self._own0 = tree_cpu_s()

    def finish(self, own_cpu_s: float) -> dict:
        busy1, steal1, all1 = _cpu_totals()
        busy0, steal0, all0 = self._cpu0
        span = max(all1 - all0, 1) / _TICK
        foreign = (busy1 - busy0) / _TICK - (own_cpu_s - self._own0)
        self.rec.update({
            "loadavg_post": os.getloadavg()[0],
            "calib_post_mops": round(calibrate(), 2),
            "foreign_cpu_share": round(max(foreign, 0.0) / span, 4),
            "steal_share": round((steal1 - steal0) / _TICK / span, 4),
        })
        return self.rec


def reap(pids: list[int], timeout: float = 20.0) -> list[int]:
    """Wait until every pid has exited; SIGKILL what is left after
    ``timeout``. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if p != os.getpid()]
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat(p) is not None
                 and _stat(p)[0] != "Z"]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive
