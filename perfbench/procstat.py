"""CPU time and resident memory of this process and all its descendants.

The benchmark's process tree is this Python process, the Spark JVM it
launches, and the Python workers the JVM forks. Everything is read from
/proc so that no program module has to report on itself.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may contain spaces; it ends at the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    """True while `pid` runs (a zombie awaiting its reaper has ended)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids(root: int | None = None) -> list[int]:
    """`root` and every live descendant of it."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system seconds of the live tree, plus what its dead,
    reaped children used (cutime/cstime), so a worker that exits during
    a measured interval is still counted."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from /proc/stat.

    Busy is user + nice + system + irq + softirq. Stolen is the time a
    vCPU wanted to run but the hypervisor ran another guest; this kernel
    accounts it apart from every process's CPU time."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def unshared_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two `host_ticks()` readings
    that the CPUs really ran: 1.0 on unshared CPUs. A span of wall time
    times this share estimates the span on unshared CPUs (stolen time
    stretches the whole span alike when every vCPU loses the same share;
    see README.md)."""
    busy, stolen = end[0] - start[0], end[1] - start[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


def tree_pss_bytes(root: int | None = None) -> int:
    """Summed proportional set size of the tree: resident memory with
    each shared page split between the processes sharing it, so a child
    the JVM forks (which briefly maps all of the JVM's pages) does not
    count the JVM twice, as a sum of RSS would."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


# reading smaps_rollup walks the JVM's page tables (~6 ms), so poll gently
POLL_S = 0.2


class PeakMemory:
    """Polls the tree's summed PSS on a daemon thread; `peak` is the
    largest sum seen between `start()` and `stop()`."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes())
            if self._stop.wait(POLL_S):
                return

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes())
        return self.peak
