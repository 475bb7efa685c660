"""CPU and memory of a process tree, read from ``/proc``.

The benchmark's process tree is the driver's Python process, the JVM that
PySpark launches under it, and the Python workers the JVM forks. Each
snapshot reads, for every process in the tree:

- its process CPU clock (``clock_getcpuclockid``), the CPU time of all its
  threads, exited ones included, in nanoseconds. The ``utime + stime`` of
  ``/proc/<pid>/stat`` counts the same in 10 ms ticks, which leaves an idle
  Python worker daemon's occasional wake-ups at exactly zero;
- ``cutime + cstime`` of ``/proc/<pid>/stat``, the CPU of children it has
  reaped, so work done by a Python worker that has exited still counts once
  its parent waited for it. The kernel keeps this only in ticks.

Summing both over the live processes of the tree counts every process once:
a child is either alive (its own entry) or reaped (inside its parent's
``cutime``). The split by role puts a process's own CPU in its role, and its
reaped children's CPU in the role those children had (the JVM's reaped
children are Python worker daemons).
"""

from __future__ import annotations

import ctypes
import dataclasses
import os
import threading
import time
from dataclasses import dataclass

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")

ROLES = ("driver_py", "jvm", "pyworker", "other")

_libc = ctypes.CDLL(None, use_errno=True)


def _own_cpu_s(pid: int) -> float | None:
    """CPU-seconds of every thread of ``pid``; None once it has exited."""
    clock = ctypes.c_int()
    if _libc.clock_getcpuclockid(pid, ctypes.byref(clock)) != 0:
        return None
    try:
        return time.clock_gettime(clock.value)
    except OSError:
        return None


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    own_s: float  # CPU clock of all its threads (0 unless tree(cpu=True))
    child_ticks: int  # cutime + cstime (reaped children)
    rss_bytes: int
    vsize_bytes: int


def _read_stat(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:  # the process exited between listing and reading
        return None
    # comm is parenthesised and may contain spaces or ')': split at the last
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    return Proc(
        pid=pid,
        ppid=int(fields[1]),
        comm=raw[lpar + 1 : rpar],
        own_s=0.0,
        child_ticks=int(fields[13]) + int(fields[14]),
        rss_bytes=int(fields[21]) * PAGE_BYTES,
        vsize_bytes=int(fields[20]),
    )


def tree(root: int, cpu: bool = True) -> list[Proc]:
    """Every live process whose ancestry reaches ``root``, root first, with
    its CPU clock read when ``cpu`` is set."""
    procs: dict[int, Proc] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(int(name))
            if p is not None:
                procs[p.pid] = p
    if root not in procs:
        return []
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        p = procs[pid]
        if cpu:
            own_s = _own_cpu_s(pid)
            if own_s is None:  # exited since its stat was read
                continue
            p = dataclasses.replace(p, own_s=own_s)
        out.append(p)
        todo.extend(children.get(pid, ()))
    return out


def default_roles(procs: list[Proc]) -> dict[int, str]:
    """Role of each process: the root is the driver, ``java`` is the JVM,
    and Python processes under the JVM are its workers."""
    by_pid = {p.pid: p for p in procs}
    roles: dict[int, str] = {}
    for i, p in enumerate(procs):
        if i == 0:
            roles[p.pid] = "driver_py"
        elif p.comm == "java":
            roles[p.pid] = "jvm"
        else:
            roles[p.pid] = "other"
            q = by_pid.get(p.ppid)
            while q is not None:
                if q.comm == "java":
                    roles[p.pid] = "pyworker"
                    break
                q = by_pid.get(q.ppid)
    return roles


@dataclass(frozen=True)
class CpuSnapshot:
    """CPU-seconds by role and in total, and resident bytes, at one instant."""

    by_role: dict[str, float]
    total_s: float
    n_procs: int

    def minus(self, earlier: CpuSnapshot) -> dict[str, float]:
        d = {r: self.by_role[r] - earlier.by_role[r] for r in ROLES}
        d["total"] = self.total_s - earlier.total_s
        return d


def snapshot(root: int, roles=default_roles) -> CpuSnapshot:
    procs = tree(root)
    role_of = roles(procs)
    by_role = dict.fromkeys(ROLES, 0.0)
    for p in procs:
        role = role_of[p.pid]
        by_role[role] += p.own_s
        # reaped children: the JVM's are worker daemons, everyone else's
        # share the parent's role
        by_role["pyworker" if role == "jvm" else role] += p.child_ticks * TICK_S
    return CpuSnapshot(
        by_role=by_role,
        total_s=sum(p.own_s + p.child_ticks * TICK_S for p in procs),
        n_procs=len(procs),
    )


def resident_bytes(procs: list[Proc]) -> int:
    """Resident memory of the tree. A child that reads exactly its parent's
    virtual and resident size shares the parent's memory: the JVM starts
    commands with posix_spawn, whose child runs in the JVM's memory until it
    execs, and /proc meanwhile reports the JVM's whole footprint for it. Such
    a child is counted once, as the parent."""
    by_pid = {p.pid: p for p in procs}
    total = 0
    for p in procs:
        parent = by_pid.get(p.ppid)
        if parent is not None and (parent.vsize_bytes, parent.rss_bytes) == (
            p.vsize_bytes,
            p.rss_bytes,
        ):
            continue
        total += p.rss_bytes
    return total


class RssSampler:
    """Background thread that records the peak resident memory of the tree."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = resident_bytes(tree(self.root, cpu=False))
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
