"""CPU time and peak memory of the benchmark's process tree, from /proc.

The tree is this Python driver, the JVM it launched, and the Python
workers the JVM forks (``pyspark.daemon`` and its children). A process's
``cutime``/``cstime`` hold the CPU of children it has reaped, so summing
all four times over the live tree also counts workers that have exited.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, reaped children's cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    comm = text[text.index("(") + 1 : text.rindex(")")]
    f = text[text.rindex(")") + 2 :].split()
    return comm, int(f[1]), (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


def _tree(root: int) -> dict[int, tuple[str, int, float, float]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    members = {root}
    grew = True
    while grew:
        grew = False
        for pid, st in stats.items():
            if pid not in members and st[1] in members:
                members.add(pid)
                grew = True
    return {pid: stats[pid] for pid in members if pid in stats}


def _jit_seconds(pid: int) -> float:
    """CPU seconds of the live JIT compiler threads of JVM ``pid``."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                text = fh.read()
        except OSError:
            continue
        if text[text.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = text[text.rindex(")") + 2 :].split()
            total += (int(f[11]) + int(f[12])) / _TICK
    return total


def cpu_seconds(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds: ``total`` for the whole tree, ``python``
    for the driver process itself, ``jvm`` for the JVM's own threads,
    ``workers`` for everything else (Python workers, live or reaped), and
    ``jit``, the part of ``jvm`` spent in the JIT compiler threads."""
    root = root or os.getpid()
    out = {"total": 0.0, "python": 0.0, "jvm": 0.0, "workers": 0.0, "jit": 0.0}
    for pid, (comm, _, own, reaped) in _tree(root).items():
        out["total"] += own + reaped
        if pid == root:
            out["python"] += own
            out["workers"] += reaped
        elif comm == "java":
            out["jvm"] += own
            out["workers"] += reaped
            out["jit"] += _jit_seconds(pid)
        else:
            out["workers"] += own + reaped
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root: int | None = None) -> float:
    """High-water RSS (VmHWM) of the driver plus the JVM, in MiB."""
    root = root or os.getpid()
    pids = [pid for pid, st in _tree(root).items() if pid == root or st[0] == "java"]
    return sum(_hwm_kb(pid) for pid in pids) / 1024.0


def children(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = root or os.getpid()
    return [pid for pid in _tree(root) if pid != root]



def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK
