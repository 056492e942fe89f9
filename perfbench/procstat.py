"""Process-tree CPU time and host records, read from ``/proc``.

The engine's work is spread over three kinds of process: this Python
driver, the JVM it launches, and the Python workers the JVM forks. CPU
time of the whole tree (user + system, plus that of reaped children) is
the benchmark's cost measure; it repeats far more tightly than wall time
on a shared host.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        cpu = sum(int(x) for x in f[11:15]) / _TICK
        out[int(name)] = (int(f[1]), cpu)
    return out


def descendants(root: int | None = None, tree: dict | None = None) -> list[int]:
    """Every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    tree = _tree() if tree is None else tree
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in tree.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid``'s JIT compiler threads (JVM thread names
    "C1 CompilerThread<n>" / "C2 CompilerThread<n>", cut to 15 bytes)."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                raw = f.read().decode()
        except FileNotFoundError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = raw[raw.rindex(")") + 2 :].split()
            total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """``(total, jit)`` CPU seconds used so far by ``root`` and all its
    live descendants. ``total`` includes children they have reaped and
    the JVM's JIT compiler threads; ``jit`` is the compiler threads' part
    of it, a diagnostic of how far the JVM has warmed up. Compiler
    threads must not exit while measured (the JVM runs with
    -XX:-UseDynamicNumberOfCompilerThreads), or ``jit`` would lose their
    time."""
    root = os.getpid() if root is None else root
    tree = _tree()
    pids = [root] + descendants(root, tree)
    total = sum(tree[p][1] for p in pids if p in tree)
    return total, sum(_jit_cpu_s(p) for p in pids)


@dataclass
class HostSnapshot:
    steal: int
    total: int

    @classmethod
    def take(cls) -> "HostSnapshot":
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal [guest guest_nice]
        # guest time is already counted in user, so sum the first eight
        return cls(steal=vals[7] if len(vals) > 7 else 0, total=sum(vals[:8]))


def steal_ratio(start: HostSnapshot, end: HostSnapshot) -> float:
    """Share of host CPU time stolen by the hypervisor between two snapshots."""
    d = end.total - start.total
    return (end.steal - start.steal) / d if d > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def ncpus() -> int:
    return len(os.sched_getaffinity(0))
