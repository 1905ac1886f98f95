"""CPU and memory of the benchmark's own process tree, from /proc."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")
# JIT compiler threads: their work is JVM warm-up, not the program's,
# and it dominates and varies in a short-lived JVM
_JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _stat(path: str) -> tuple[bytes, list[bytes]] | None:
    try:
        with open(path, "rb") as fh:
            raw = fh.read()
    except OSError:
        return None  # exited while listing
    return raw[raw.index(b"(") + 1 : raw.rindex(b")")], raw[raw.rindex(b")") + 2 :].split()


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant
    (the JVM and its Python workers), live or reaped, without the JIT
    compiler threads.  Time the host steals from the VM is not charged
    to any process, so this holds still where wall time does not."""
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat(f"/proc/{entry}/stat")) is not None:
            f = st[1]
            stats[int(entry)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
        total -= _jit_ticks(pid)
    return total / _TICKS


def _jit_ticks(pid: int) -> int:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[0] in _JIT_THREADS:
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
