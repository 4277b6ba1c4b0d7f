"""Process-tree CPU and peak RSS, read from ``/proc``.

The benchmark's process tree is the driver (this Python process), the
JVM it launches and the Python workers the JVM forks. CPU time of a
process that has exited and been reaped moves into its parent's
``cutime``/``cstime``, so summing all four fields over the live tree is
continuous across worker exits.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.25


def _stat_fields(pid: str, proc: str) -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:          # the process exited while we listed /proc
        return None
    # the command name (field 2) may hold spaces; fields restart after ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_stats(root: int | None = None, proc: str = "/proc") -> dict:
    """``{"pids", "cpu_s", "rss_bytes"}`` summed over ``root`` and all
    its descendants (default root: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(name, proc)
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        # after ')': state, ppid, ... (field 4 of stat is index 1 here)
        children.setdefault(int(fields[1]), []).append(pid)
    todo, tree = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree.append(pid)
        todo.extend(children.get(pid, ()))
    ticks = rss_pages = 0
    for pid in tree:
        f = stats[pid]
        # utime, stime, cutime, cstime are stat fields 14-17; rss is 24
        ticks += sum(int(x) for x in f[11:15])
        rss_pages += int(f[21])
    return {"pids": len(tree), "cpu_s": ticks / _TICK,
            "rss_bytes": rss_pages * _PAGE}


class RssSampler:
    """Background sampler of the process tree's peak RSS.

    Use as a context manager; ``peak_bytes`` holds the highest sum seen,
    sampled every ``SAMPLE_INTERVAL_S``.
    """

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_stats()["rss_bytes"])

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
