"""Process-tree CPU and memory from /proc (stdlib only), plus host context.

The tree is this process and every descendant: the Spark JVM that
spark-submit execs, and the Python workers its daemon forks.
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages, start tick)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        # fields after comm: state ppid ... utime(11) stime cutime cstime
        # ... starttime(19) vsize rss(21)
        ticks = sum(int(x) for x in rest[11:15])
        out[int(d)] = (int(rest[1]), ticks, int(rest[21]), int(rest[19]))
    return out


def _tree(stats: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, ()))
    return [p for p in seen if p in stats]


def _uptime_ticks() -> float:
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) * _TICK


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds, RSS MB) summed over the tree rooted at ``root``.
    CPU includes children that already exited and were reaped.  RSS leaves
    out processes younger than half a second: the JVM forks short helpers
    (``chmod`` for local files) that share all of its pages until they exec,
    and summing those would count the JVM twice."""
    stats = _stats()
    pids = _tree(stats, root or os.getpid())
    settled = _uptime_ticks() - _TICK / 2
    cpu = sum(stats[p][1] for p in pids) / _TICK
    rss = sum(stats[p][2] for p in pids if stats[p][3] <= settled) * _PAGE / 1e6
    return cpu, rss


def tree_pids(root: int) -> list[int]:
    return _tree(_stats(), root)


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is running (zombies count as ended);
    returns those still running at the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(p)
            except OSError:
                pass
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


class TreeSampler:
    """Samples the tree's summed RSS every ``period`` seconds between
    ``start`` and ``stop``; ``stop`` returns (CPU seconds used, peak RSS MB)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None
        self._peak = 0.0
        self._cpu0 = 0.0

    def _loop(self) -> None:
        while not self._halt.wait(self.period):
            self._peak = max(self._peak, tree_usage()[1])

    def start(self) -> None:
        self._cpu0, self._peak = tree_usage()
        self._halt.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        self._halt.set()
        self._thread.join()
        cpu1, rss = tree_usage()
        return cpu1 - self._cpu0, max(self._peak, rss)


def _md5_burn(n: int) -> float:
    t0 = time.perf_counter()
    h = b"x" * 64
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def host_control(workers: int, iters: int = 200_000) -> float:
    """Pure-CPU control: md5 chunks per second the host gives ``workers``
    concurrent processes right now (the same burn as bench.py's host
    control, with shorter chunks).  Context only, never a gated metric."""
    pool = mp.get_context("spawn").Pool(workers)
    try:
        pool.map(_md5_burn, [1000] * workers)
        chunk_s = pool.map(_md5_burn, [iters] * workers, chunksize=1)
        return workers / statistics.median(chunk_s)
    finally:
        pool.close()
        pool.join()


def stop_resource_tracker() -> None:
    """Spawn pools start multiprocessing's resource-tracker process, which
    would outlive this one; stop it and reap it."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def host_context(workers: int) -> dict:
    return {"load_1m": os.getloadavg()[0], "md5_chunks_per_s": host_control(workers)}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    return (_uptime_ticks() - _stats()[os.getpid()][3]) / _TICK
