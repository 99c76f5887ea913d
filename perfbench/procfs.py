"""Process-tree CPU, RSS and PSS from /proc (Linux).

The benchmark's process tree is this Python process, the JVM it launches
(``java``) and the JVM's Python workers (``pyspark.daemon`` and its forks).
CPU per process is utime + stime plus the reaped children's cutime +
cstime, so a worker that exited and was waited for still counts once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> dict:
    """One /proc/<pid>/stat line -> pid, comm, ppid, cpu_s, rss_bytes.
    comm may contain spaces and parentheses, so split at the LAST ')'."""
    head, _, rest = text.rpartition(")")
    pid, _, comm = head.partition(" (")
    f = rest.split()
    # fields after comm, 0-based: state=0 ppid=1 ... utime=11 stime=12
    # cutime=13 cstime=14 ... rss=21 (pages)
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return {
        "pid": int(pid),
        "comm": comm,
        "ppid": int(f[1]),
        "cpu_s": ticks / _TICK,
        "rss_bytes": int(f[21]) * _PAGE,
    }


def snapshot(proc_dir: str = "/proc") -> dict[int, dict]:
    out = {}
    for name in os.listdir(proc_dir):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_dir, name, "stat")) as f:
                st = parse_stat(f.read())
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        out[st["pid"]] = st
    return out


def descendants(procs: dict[int, dict], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p["ppid"], []).append(p["pid"])
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_usage(root: int | None = None, proc_dir: str = "/proc") -> dict:
    """CPU seconds of the JVMs (``java`` processes) in the tree under
    ``root`` and of their Python workers (everything below a JVM)."""
    root = os.getpid() if root is None else root
    procs = snapshot(proc_dir)
    tree = descendants(procs, root)
    jvms = [p for p in tree if procs[p]["comm"] == "java"]
    workers = {w for j in jvms for w in descendants(procs, j) if w != j}
    usage = {"jvm_cpu_s": 0.0, "python_cpu_s": 0.0}
    for pid in tree:
        p = procs[pid]
        if pid in workers:
            usage["python_cpu_s"] += p["cpu_s"]
        elif pid in jvms:
            usage["jvm_cpu_s"] += p["cpu_s"]
    return usage


def pss_bytes(pid: int, proc_dir: str = "/proc") -> int:
    """Proportional set size of one process: its resident pages, each
    shared page split among the processes mapping it. 0 once it exited."""
    try:
        with open(os.path.join(proc_dir, str(pid), "smaps_rollup")) as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory(root: int | None = None, proc_dir: str = "/proc") -> dict:
    """Summed PSS of the tree under ``root`` and its parts: the JVMs, their
    Python workers, and the rest (this process). Summed RSS would count
    the pages a forked worker shares with its daemon once per worker, so
    it jumps with the number of live workers; summed PSS counts them
    once."""
    root = os.getpid() if root is None else root
    procs = snapshot(proc_dir)
    tree = descendants(procs, root)
    jvms = [p for p in tree if procs[p]["comm"] == "java"]
    workers = {w for j in jvms for w in descendants(procs, j) if w != j}
    out = {"jvm": 0, "python_workers": 0, "driver": 0}
    for pid in tree:
        part = "jvm" if pid in jvms else "python_workers" if pid in workers else "driver"
        out[part] += pss_bytes(pid, proc_dir)
    out["total"] = sum(out.values())
    return out


class PeakMemory:
    """Samples the tree's summed PSS on a side thread while active; keeps
    the peak of the total and of each part."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for k, v in tree_memory().items():
            self.peak[k] = max(self.peak.get(k, 0), v)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._loop, name="peak-memory", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
