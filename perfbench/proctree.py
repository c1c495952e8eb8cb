"""Process-tree accounting from ``/proc``: CPU seconds and peak resident
memory of this process plus every descendant (the Spark JVM and its Python
workers), a way to stop that tree, and the host CPU-grant probe."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields restart after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """utime+stime of this process's live tree plus the reaped children it
    waited for (cutime+cstime), so exited Python workers still count."""
    root = os.getpid()
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def engine_peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (peak resident set) over the descendants of ``root`` --
    the JVM and its Python workers -- in MiB. The benchmark process itself is
    left out: it also holds the reference computations."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to end; SIGKILL whatever outlives ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 5:
        time.sleep(0.1)


def cpu_grant_probe() -> float:
    """Seconds one core needs for a fixed pure-Python integer loop. Timed
    before and after every run: a slow host window makes both readings rise,
    a slow commit does not."""
    t0 = time.perf_counter()
    x = 1
    for _ in range(2_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t0
