"""Process-session accounting from /proc: which processes belong to a
session (the benchmark's child, its driver JVM and Python workers), their
summed resident memory and their summed CPU time."""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the parenthesized command name, from field 3 on
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def members(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(name)
            if fields is not None and int(fields[3]) == sid:  # field 6: session
                out.append(int(name))
    return out


def rss_bytes(sid: int) -> int:
    total = 0
    for pid in members(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def cpu_seconds(sid: int) -> float:
    """User plus system time of the session's live processes, including
    the children they have reaped (fields 14-17 of stat)."""
    ticks = 0
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(name)
            if fields is not None and int(fields[3]) == sid:
                ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def steal_seconds() -> float:
    """CPU time the host gave to others while this machine's CPUs wanted
    it, summed over CPUs (the steal column of /proc/stat): a measure of
    how contended a run was."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK
