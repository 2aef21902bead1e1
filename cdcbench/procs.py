"""The processes of one session, read from ``/proc`` (Linux).

``run.py`` starts each worker as a session leader, so the worker's session
holds the interpreter, its Spark JVM and Spark's Python workers. The RSS
sampler, the reaper and the worker's CPU clock all walk it through
``session_procs``.
"""

from __future__ import annotations

import os


def session_procs(sid: int):
    """Yield ``(pid, fields)`` for every process of session ``sid``, zombies
    included. ``fields`` are the ``/proc/<pid>/stat`` fields after the
    command: state, ppid, pgrp, session, ..., utime at index 11."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            yield int(name), fields


def live_pids(sid: int) -> list[int]:
    """Pids of the session's processes that are not zombies."""
    return [pid for pid, fields in session_procs(sid) if fields[0] != "Z"]


def cpu_seconds(sid: int) -> float:
    """CPU seconds used so far by the session's processes: user and system
    time, with that of their reaped children. Time stolen by other tenants
    of the host is not in it."""
    ticks = sum(sum(int(x) for x in fields[11:15]) for _, fields in session_procs(sid))
    return ticks / os.sysconf("SC_CLK_TCK")


def started_under(pid: int, work_root: str) -> bool:
    """True if ``pid`` runs with ``SPARK_LOCAL_DIRS`` inside ``work_root``:
    ``run.py`` sets it for every worker, and the JVM and Python workers
    inherit it. An unrelated process that reuses a stale pid does not."""
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            env = f.read().split(b"\0")
    except OSError:
        return False
    prefix = b"SPARK_LOCAL_DIRS=" + os.path.join(work_root, "").encode()
    return any(v.startswith(prefix) for v in env)
