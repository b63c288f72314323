"""The processes of one benchmark run, read from /proc.

run.py starts the harness in a new session; the Spark JVM and the
pyspark.daemon Python workers stay in that session (the daemons move to
their own process groups, so a process group is not enough).
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def session_stats(sid: int) -> list[list[str]]:
    """/proc/<pid>/stat fields after the command name (state first) of
    every live process in session `sid`."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue   # exited while listing
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append([name] + fields)
    return out


def session_pids(sid: int) -> list[int]:
    return [int(s[0]) for s in session_stats(sid)]


def cpu_seconds(sid: int) -> float:
    """User + system CPU of the session's processes, including children
    they have reaped. Time the hypervisor steals is not in it."""
    return sum(sum(int(x) for x in s[12:16]) for s in session_stats(sid)) / CLK_TCK


def rss_mb(sid: int) -> float:
    return sum(int(s[22]) for s in session_stats(sid)) * PAGE / 2**20


def steal_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine from /proc/stat: the
    share of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)
