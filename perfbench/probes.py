"""Host telltale and process-tree sampling, read from /proc.

The benchmark process samples the resident memory and CPU time of its own
process tree (the JVM that local-mode Spark launches, and the Python
daemon and workers the JVM forks) without any help from the program.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name (field 2) may hold spaces: split after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_stats(root: int | None = None, include_root: bool = True
               ) -> tuple[float, int, int]:
    """(cpu seconds, resident bytes, process count) over ``root`` and all
    of its descendants. CPU counts user + system time of each process and
    of its reaped children."""
    root = os.getpid() if root is None else root
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(name)
        if st is None:
            continue
        pid = int(name)
        stats[pid] = st
        children.setdefault(int(st[1]), []).append(pid)
    cpu = 0.0
    rss = 0
    n = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        st = stats.get(pid)
        if st is None or (pid == root and not include_root):
            continue
        # fields 14-17 (utime stime cutime cstime) and 24 (rss), 1-based
        cpu += sum(int(v) for v in st[11:15]) / _TICK
        rss += int(st[21]) * _PAGE
        n += 1
    return cpu, rss, n


class RssSampler:
    """Background thread recording the peak resident memory of this
    process's descendants (the benchmark process itself excluded)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            _, rss, _ = tree_stats(include_root=False)
            self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    return idle, sum(vals)


def host_snapshot(window: float = 0.1) -> dict:
    """loadavg plus the share of host CPU time that was idle over a short
    window: the contamination telltale stamped on every result."""
    i0, t0 = _cpu_times()
    time.sleep(window)
    i1, t1 = _cpu_times()
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "idle_share": round((i1 - i0) / max(t1 - t0, 1), 3),
    }


def host_busy(snap: dict) -> bool:
    """Busy: less than three quarters of host CPU time was idle while the
    benchmark itself ran nothing. (The 1-minute loadavg still carries the
    previous run's load, so it is reported but not judged.)"""
    return snap["idle_share"] < 0.75


def git_head(root: str) -> str:
    """The commit a checkout was taken from, read without running git;
    'unknown' for a checkout that is not a git work tree."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(root, ".git", ref)) as f:
                return f.read().strip()
        except FileNotFoundError:
            with open(os.path.join(root, ".git", "packed-refs")) as f:
                for line in f:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
        return "unknown"
    except OSError:
        return "unknown"
