"""CPU seconds of the benchmark's process tree, read from ``/proc``.

The tree is this Python driver and every process below it: the Spark JVM,
its Python daemon and the Python workers. A process's user + system time
leaves out the time its CPU was stolen by other tenants of the machine
(but not a CPU they slow down). A process that exits inside a measured
interval is still counted: once its parent reaps it, its time shows in
the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os

_TICK = float(os.sysconf("SC_CLK_TCK"))


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # exited between listdir and open
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return text[text.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process), of
    its live descendants and of every descendant already reaped."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat(name)
        if f is None:
            continue
        # after the name: state, ppid, ... utime, stime, cutime, cstime
        # are fields 14-17 of stat(5), i.e. offsets 11-14 here
        pid = int(name)
        kids.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK
