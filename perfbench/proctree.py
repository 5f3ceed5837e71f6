"""CPU and RSS of a process tree, read from ``/proc``.

A PySpark run is a tree of processes: the Python driver starts the JVM,
and the JVM starts the Python worker daemon, which forks the workers.
Spark's own executor CPU time counts only JVM threads, so the Python
workers' CPU is read here, from the kernel.

CPU of a process is ``utime + stime + cutime + cstime``: the last two hold
the CPU of children it has already reaped, so summing the live tree also
counts workers that exited between two readings.

Peak memory is the kernel's per-process high-water mark (``VmHWM``),
reset at the start of a region through ``clear_refs``.  Python workers'
memory rises and falls within each Arrow batch, so sampling RSS on a
timer would catch a different share of those peaks on every run.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int   # utime + stime + cutime + cstime


def parse_stat(text: str) -> Proc:
    """Parse one ``/proc/<pid>/stat`` line.

    ``comm`` sits in parentheses and may itself hold spaces or
    parentheses, so the fields are split after its last ``)``."""
    lpar, rpar = text.index("("), text.rindex(")")
    rest = text[rpar + 2:].split()
    # rest[0] is field 3 (state); fields 14..17 (1-based in proc(5)) are
    # the CPU ticks
    return Proc(
        pid=int(text[:lpar]),
        ppid=int(rest[1]),
        comm=text[lpar + 1:rpar],
        cpu_ticks=sum(int(x) for x in rest[11:15]),
    )


def read_procs() -> list[Proc]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out.append(parse_stat(f.read()))
        except (FileNotFoundError, ProcessLookupError):
            pass  # exited between listdir and open
    return out


def tree(procs: list[Proc], root: int) -> list[Proc]:
    """``root`` and all its live descendants."""
    children: dict[int, list[Proc]] = {}
    by_pid = {}
    for p in procs:
        children.setdefault(p.ppid, []).append(p)
        by_pid[p.pid] = p
    out = [by_pid[root]] if root in by_pid else []
    stack = [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c.pid)
    return out


def role(p: Proc, root: int) -> str:
    """``driver`` (the benchmark process), ``jvm`` or ``python`` (the
    worker daemon and its workers)."""
    if p.pid == root:
        return "driver"
    return "jvm" if p.comm == "java" else "python"


def cpu_by_role(procs: list[Proc], root: int) -> dict[str, float]:
    """CPU seconds of the tree under ``root``, split by :func:`role`."""
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for p in tree(procs, root):
        out[role(p, root)] += p.cpu_ticks / CLK_TCK
    return out


def parse_hwm_kb(status: str) -> int:
    """``VmHWM`` in kB from a ``/proc/<pid>/status`` text (0 if absent,
    as for kernel threads and zombies)."""
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def _tree_pids(root: int) -> list[int]:
    return [p.pid for p in tree(read_procs(), root)]


def reset_peaks(root: int) -> None:
    """Restart the high-water mark of every process in the tree."""
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            pass


def peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak RSS since its last
    :func:`reset_peaks` (or its start), in MB.  An upper bound on the
    peak of the summed RSS, which would need every peak to coincide."""
    kb = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += parse_hwm_kb(f.read())
        except (FileNotFoundError, ProcessLookupError):
            pass
    return kb / 1e3


class TreeMeter:
    """CPU and summed peak RSS of this process's tree over a region."""

    def __init__(self):
        self.root = os.getpid()
        self._cpu0: dict[str, float] = {}
        self.cpu_s: dict[str, float] = {}
        self.peak_rss_mb = 0.0

    def start(self) -> None:
        reset_peaks(self.root)
        self._cpu0 = cpu_by_role(read_procs(), self.root)

    def stop(self) -> None:
        cpu1 = cpu_by_role(read_procs(), self.root)
        self.cpu_s = {k: cpu1[k] - self._cpu0[k] for k in cpu1}
        self.peak_rss_mb = peak_rss_mb(self.root)

    def __enter__(self) -> "TreeMeter":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()


def wait_children_gone(timeout: float) -> list[int]:
    """Wait until this process has no live descendants; return the pids
    still alive at ``timeout``."""
    root = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        left = [p.pid for p in tree(read_procs(), root) if p.pid != root]
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.2)
