"""CPU and steal accounting from /proc.

CPU is summed over the live process tree rooted at the benchmark
process, counting utime+stime+cutime+cstime of every member: a child
that exited and was reaped by a tree member (a finished Python worker)
has its time folded into its parent's cutime/cstime, so it still
counts, and a live child is counted once, on its own line."""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    """(ppid, comm, fields after comm) of one process, None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    fields = rest.split()
    return int(fields[1]), head.partition("(")[2], fields


def tree(root: int) -> dict[int, tuple[int, str, list[str]]]:
    """Every live process under (and including) root."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    members, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in members:
            members[pid] = procs[pid]
            frontier += [p for p, st in procs.items() if st[0] == pid]
    return members


def _cpu_s(fields: list[str]) -> float:
    # fields[0] is the state; utime..cstime are /proc stat fields 14-17
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK


@dataclass
class CpuSample:
    driver: float
    jvm: float
    workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.driver - other.driver, self.jvm - other.jvm,
                         self.workers - other.workers)


def cpu(root: int | None = None) -> CpuSample:
    """Process-tree CPU seconds split into the root (driver), the JVM
    (the first `java` descendant) and everything else (the JVM's
    Python workers and any other helper)."""
    root = os.getpid() if root is None else root
    members = tree(root)
    driver = jvm = workers = 0.0
    for pid, (_, comm, fields) in members.items():
        if pid == root:
            driver += _cpu_s(fields)
        elif comm == "java":
            jvm += _cpu_s(fields)
        else:
            workers += _cpu_s(fields)
    return CpuSample(driver, jvm, workers)


def host_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0
