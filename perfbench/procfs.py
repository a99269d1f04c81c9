"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is the driver (this Python process), the JVM it launches, and the
JVM's descendants: the ``pyspark.daemon`` with its forked Python workers,
and the subprocesses ``rdd.pipe`` starts.  A process that has exited is
still counted once it is reaped, through its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu(st: list[str], own: bool = True, reaped: bool = True) -> float:
    # utime, stime, cutime, cstime are stat fields 14-17 (index 11-14 here)
    ticks = 0
    if own:
        ticks += int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def system_busy_s() -> float:
    """CPU seconds all processes on the host have used since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return (user + nice + system + irq + softirq + steal) / _TICK


@dataclass(frozen=True)
class Usage:
    """Cumulative CPU seconds per part of the tree at one instant."""

    driver: float
    jvm: float
    pyworker: float
    tree: float
    system: float

    def __sub__(self, other: Usage) -> Usage:
        return Usage(*(a - b for a, b in zip(self._t(), other._t())))

    def _t(self) -> tuple[float, ...]:
        return (self.driver, self.jvm, self.pyworker, self.tree, self.system)


def descendants() -> list[int]:
    """Every live process below this one."""
    return _descendants(os.getpid(), _children_map())


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until none of ``pids`` is alive; returns those still alive at
    the timeout.  (Orphaned grandchildren cannot be waited for.)"""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
    return alive


def _jvm_pid(kids: dict[int, list[int]]) -> int | None:
    for p in _descendants(os.getpid(), kids):
        if _comm(p) == "java":
            return p
    return None


def usage() -> Usage:
    """CPU split: the driver itself, the JVM itself, everything below the
    JVM (Python workers and pipe subprocesses, live or reaped), the whole
    tree, and the whole host."""
    kids = _children_map()
    me = _stat(os.getpid())
    driver = _cpu(me, reaped=False)
    tree = _cpu(me)
    jvm = pyworker = 0.0
    jpid = _jvm_pid(kids)
    if jpid is not None:
        jst = _stat(jpid)
        if jst:
            jvm = _cpu(jst, reaped=False)
            pyworker = _cpu(jst, own=False)
        for p in _descendants(jpid, kids):
            st = _stat(p)
            if st:
                pyworker += _cpu(st)
    tree += jvm + pyworker
    return Usage(driver, jvm, pyworker, tree, system_busy_s())


def peak_rss_mb() -> float:
    """Sum of VmHWM over the driver, the JVM and the live Python workers."""
    kids = _children_map()
    total = _hwm_mb(os.getpid())
    jpid = _jvm_pid(kids)
    if jpid is not None:
        total += _hwm_mb(jpid)
        total += sum(
            _hwm_mb(p) for p in _descendants(jpid, kids) if _comm(p).startswith("python")
        )
    return total
