"""The processes of one session, read from /proc.

run.py starts every worker in a session of its own. Everything Spark
starts stays in that session: the gateway JVM, and the Python daemon and
workers, which the daemon moves to a process group of their own.
"""

from __future__ import annotations

import os

TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def session_processes(sid: int) -> list[tuple[int, str, int]]:
    """(pid, state, CPU ticks) of each process in session `sid`. The ticks
    are user plus system time of the process and of its children it has
    already waited for."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        # fields[0] is field 3 of proc(5): state; [3] session; [11:15]
        # utime, stime, cutime, cstime
        if int(fields[3]) == sid:
            out.append((int(entry), fields[0], sum(int(f) for f in fields[11:15])))
    return out


def session_cpu(sid: int) -> tuple[float, dict[tuple[int, int], float]]:
    """CPU seconds the session's processes have used so far, and those of
    each live JIT compiler thread of its JVM, keyed by (pid, tid)."""
    total = 0
    jit = {}
    for pid, _, ticks in session_processes(sid):
        total += ticks
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            # HotSpot's "C1 CompilerThread0", "C2 CompilerThread1", ...,
            # cut to 15 characters by the kernel
            if "CompilerThre" in name:
                fields = rest.split()
                jit[(pid, int(tid))] = (int(fields[11]) + int(fields[12])) / TICKS_PER_S
    return total / TICKS_PER_S, jit


def cpu_split(before, after) -> tuple[float, float]:
    """(CPU seconds of the program, CPU seconds of JIT compilation) between
    two `session_cpu` readings. A compiler thread that ended in between
    leaves its share in the program's figure; HotSpot stops idle compiler
    threads only after long idle spells."""
    jit = sum(secs - before[1].get(key, 0.0) for key, secs in after[1].items())
    return after[0] - before[0] - jit, jit
