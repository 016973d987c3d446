"""Stopping what a run started: the Spark session, its JVM and the python
daemon and workers under it."""

from __future__ import annotations

import os
import signal
import time


def descendants() -> set[tuple[int, bytes]]:
    """(pid, start time) of every live descendant of this process."""
    kids: dict[int, list[tuple[int, bytes]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    st = f.read()
            except OSError:
                continue
            rest = st[st.rindex(b")") + 2:].split()
            kids.setdefault(int(rest[1]), []).append((int(d), rest[19]))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c)
            todo.append(c[0])
    return out


def _alive(pid: int, start: bytes) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            st = f.read()
    except OSError:
        return False
    rest = st[st.rindex(b")") + 2:].split()
    return rest[19] == start and rest[0] != b"Z"


def shutdown_spark() -> None:
    """Stop any Spark session and the JVM it runs in, then wait until every
    process started under this one has ended (killing stragglers)."""
    procs = descendants()
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    except ImportError:
        pass
    deadline = time.monotonic() + 20
    while any(_alive(*p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid, start in procs:
        if _alive(pid, start):
            os.kill(pid, signal.SIGKILL)
    while any(_alive(*p) for p in procs):
        time.sleep(0.05)
