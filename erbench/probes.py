"""Host and process-tree probes: CPU, resident memory, load and steal.

Everything here reads ``/proc`` directly, so it sees the whole process tree
of a local-mode Spark run: this driver, the JVM it launches, and the Python
worker daemons the JVM forks.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, name, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw.split("(", 1)[1].rsplit(")", 1)[0]
        rest = raw.rsplit(")", 1)[1].split()
        # fields after the name: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21, pages)
        cpu = sum(int(rest[i]) for i in (11, 12, 13, 14)) / _CLK
        out[int(entry)] = (int(rest[1]), name, cpu, int(rest[21]) * _PAGE)
    return out


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in table:
            seen.append(pid)
            todo.extend(children.get(pid, []))
    return seen


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    return [p for p in _tree(_proc_table(), root) if p != root]


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree, split into the JVM and Python.

    Includes the CPU of children already reaped (cutime/cstime), so Python
    workers that exit inside a measured window still count."""
    table = _proc_table()
    out = {"jvm": 0.0, "py": 0.0}
    for pid in _tree(table, root or os.getpid()):
        _ppid, name, cpu, _rss = table[pid]
        out["jvm" if "java" in name else "py"] += cpu
    out["total"] = out["jvm"] + out["py"]
    return out


def _pss(pid: int, rss: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes mapping it.  Python workers are forked from one
    daemon and share most pages, so summing their plain RSS counts those
    pages once per worker.  Falls back to ``rss`` if unreadable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


def tree_rss(root: int | None = None) -> dict[str, int]:
    """Resident bytes (PSS) of the process tree, split into the JVM and
    Python."""
    table = _proc_table()
    out = {"jvm": 0, "py": 0}
    for pid in _tree(table, root or os.getpid()):
        _ppid, name, _cpu, rss = table[pid]
        out["jvm" if "java" in name else "py"] += _pss(pid, rss)
    return out


def _cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class HostSampler:
    """Background sampler of process-tree RSS and host load.

    ``peak_rss`` is the highest sampled sum of resident memory (PSS) over
    the tree, ``peak_by_kind`` the same for the JVM and for the Python
    processes on their own.  ``steal_pct`` is the hypervisor steal over the sampler's life,
    as a share of all CPU ticks."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_rss = 0
        self.peak_by_kind = {"jvm": 0, "py": 0}
        self.loads: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="erbench-sampler")

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss()
            self.peak_rss = max(self.peak_rss, rss["jvm"] + rss["py"])
            for kind, b in rss.items():
                self.peak_by_kind[kind] = max(self.peak_by_kind[kind], b)
            self.loads.append(os.getloadavg()[0])
            self._stop.wait(self.interval)

    def __enter__(self) -> HostSampler:
        self._steal0 = _cpu_ticks()
        self.load_start = os.getloadavg()[0]
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        steal1 = _cpu_ticks()
        d_steal = steal1[0] - self._steal0[0]
        d_all = steal1[1] - self._steal0[1]
        self.steal_pct = 100.0 * d_steal / d_all if d_all else 0.0
        self.load_end = os.getloadavg()[0]

    def stamp(self) -> dict:
        return {
            "load1_start": self.load_start,
            "load1_end": self.load_end,
            "load1_max": max(self.loads, default=self.load_start),
            "steal_pct": self.steal_pct,
            "peak_rss_mb": self.peak_rss / 2**20,
            "peak_rss_jvm_mb": self.peak_by_kind["jvm"] / 2**20,
            "peak_rss_py_mb": self.peak_by_kind["py"] / 2**20,
        }


def wait_gone(pids: list[int], timeout: float = 60.0) -> list[int]:
    """Wait until every pid has exited (zombies count as exited); return
    the ones still running at the deadline."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.2)
    return alive


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
