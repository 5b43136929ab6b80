"""Reading the process table under /proc, shared by the harness and the
client: both find a run's processes by its session id."""

from __future__ import annotations

import os


def session_stats(sid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for every live
    process in session ``sid``.  Index 3 is the session id; 11 to 14 are
    utime, stime, cutime and cstime in clock ticks."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is in parentheses and may hold spaces
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            out[int(name)] = fields
    return out
