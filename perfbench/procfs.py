"""CPU time and resident memory of the benchmark's process tree, read from
/proc: the driver (this Python process), the JVM it launched, and the
Python workers the JVM forks."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """(ppid, comm, own CPU s, reaped-children CPU s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    fields = rest.split()
    # fields[0] is state; utime, stime, cutime, cstime are stat fields 14-17
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), head.partition("(")[2], own, reaped


def tree(root: int) -> dict[int, tuple[int, str, float, float]]:
    """Every live process under ``root`` (inclusive), keyed by pid."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            todo.extend(p for p, st in procs.items() if st[0] == pid)
    return out


def cpu_split(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds: ``driver`` (the root process itself),
    ``jvm`` (java processes and what they reaped) and ``pyworker``
    (everything below the JVM, including reaped workers)."""
    root = root or os.getpid()
    procs = tree(root)
    jvms = {p for p, st in procs.items() if st[1] == "java"}
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (ppid, _comm, own, reaped) in procs.items():
        if pid == root:
            out["driver"] += own
        elif pid in jvms:
            out["jvm"] += own
        elif _under(pid, jvms, procs):
            out["pyworker"] += own + reaped
        else:  # launcher shells between the driver and the JVM
            out["driver"] += own + reaped
    return out


def _under(pid: int, ancestors: set[int], procs: dict) -> bool:
    while pid in procs:
        pid = procs[pid][0]
        if pid in ancestors:
            return True
    return False


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree — an upper bound on the tree's peak footprint."""
    total_kb = 0
    for pid in tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def seconds_since_start(pid: int | None = None) -> float:
    """Wall seconds since ``pid`` (default: this process) was started."""
    with open(f"/proc/{pid or os.getpid()}/stat") as f:
        start_ticks = int(f.read().rpartition(")")[2].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK
