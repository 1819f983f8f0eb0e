"""CPU time and memory of this process and everything it started.

The tree is this Python driver, the Spark JVM it launched and the
JVM's Python workers. Read from ``/proc`` (Linux only).
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _snapshot() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int | None = None) -> list[int]:
    """Pids of ``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    snap = _snapshot()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in snap.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds used so far by the tree (user + system)."""
    return sum(st[1] for pid in descendants() if (st := _stat(pid)))


def peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``;
    steal is time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def stop_children(timeout: float = 30.0) -> None:
    """Terminate every descendant still running and wait until each
    has ended (grandchildren are polled, children reaped)."""
    me = os.getpid()
    pids = [p for p in descendants() if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in descendants() if p != me]
            if not pids:
                return
            time.sleep(0.05)
