"""Process-tree CPU time and the load average, from ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(parent pid, command name, CPU seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces or parentheses: split at the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, comm, (utime + stime + cutime + cstime) / _TICK


def tree_cpu() -> dict[int, tuple[int, str, float]]:
    """pid -> (parent pid, command name, CPU seconds) for this process and
    all of its live descendants.  A dead child's time is counted once, in
    the ``cutime`` of the live ancestor that reaped it."""
    root = os.getpid()
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                table[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out[pid] = table[pid]
            stack.extend(children.get(pid, ()))
    return out


def cpu_split(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds of this process's whole tree, of the JVM process itself,
    and of the Python workers below the JVM."""
    tree = tree_cpu()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in tree.items():
        children.setdefault(ppid, []).append(pid)
    workers = 0.0
    stack = list(children.get(jvm_pid, ()))
    while stack:
        pid = stack.pop()
        _, comm, cpu = tree[pid]
        if comm.startswith("python"):
            workers += cpu
        stack.extend(children.get(pid, ()))
    return {
        "tree": sum(cpu for _, _, cpu in tree.values()),
        "jvm": tree[jvm_pid][2] if jvm_pid in tree else 0.0,
        "pyworkers": workers,
    }


def load1() -> float:
    return os.getloadavg()[0]
