"""Process-tree accounting from /proc: CPU, proportional memory, host facts.

Everything is read from outside the measured program.  A tree is the
calling process plus every descendant (the Spark driver JVM, the PySpark
daemon and its forked Python workers).  CPU per process is
utime+stime+cutime+cstime, so a worker that exits and is reaped by its
parent stays counted in the parent's children fields; a delta of the tree
sum between two snapshots is the CPU the tree spent in between.
"""

from __future__ import annotations

import os
import platform
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.find("(") + 1 : s.rfind(")")]
    fields = s[s.rfind(")") + 2 :].split()
    return int(fields[1]), comm, fields


def tree(root: int | None = None) -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields after comm) for ``root`` and descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    info: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        ppid, comm, fields = st
        kids.setdefault(ppid, []).append(int(name))
        info[int(name)] = (comm, fields)
    out = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in info:
            out[pid] = info[pid]
        stack.extend(kids.get(pid, ()))
    return out


def cpu_by_class(root: int | None = None) -> dict[str, float]:
    """CPU seconds (self + reaped children) of the tree, split into
    ``jvm`` (java), ``driver`` (the root process) and ``pyworker`` (every
    other process: the PySpark daemon and its workers)."""
    root = os.getpid() if root is None else root
    out = {"jvm": 0.0, "driver": 0.0, "pyworker": 0.0}
    for pid, (comm, f) in tree(root).items():
        sec = sum(int(x) for x in f[11:15]) / CLK_TCK
        cls = "driver" if pid == root else "jvm" if comm == "java" else "pyworker"
        out[cls] += sec
    out["tree"] = sum(out.values())
    return out


def pss_mb(pids) -> float:
    """Summed proportional set size: pages shared by forked workers are
    split between them, so the sum does not double-count them."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


class Sampler:
    """Background sampler of the tree's PSS and of the 1-minute load
    average.  ``start``/``stop`` bracket the region whose peak is wanted;
    the thread only reads /proc."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_pss_mb = 0.0
        self.loads: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_pss_mb = max(self.peak_pss_mb, pss_mb(tree()))
            with open("/proc/loadavg") as f:
                self.loads.append(float(f.read().split()[0]))
            self._stop.wait(self.interval)

    def start(self) -> "Sampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def process_start_epoch(pid: int) -> float:
    """Wall-clock start time of ``pid``, from its start tick and the
    uptime clock (both 10 ms resolution)."""
    st = _stat(pid)
    if st is None:
        raise ProcessLookupError(pid)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - int(st[2][19]) / CLK_TCK)


def host_facts() -> dict:
    """Static facts of the machine the run measured on."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    model = platform.processor()
    try:
        with open("/proc/cpuinfo") as f:
            model = next(
                l.split(":", 1)[1].strip() for l in f if l.startswith("model name")
            )
    except (OSError, StopIteration):
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "cpu_model": model,
        "kernel": platform.release(),
        "python": platform.python_version(),
    }


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0
