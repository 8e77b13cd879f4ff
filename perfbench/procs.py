"""The processes below the benchmark: their peak memory, and stopping
every one of them before the benchmark exits.

PySpark starts the driver JVM as a child process, and the JVM starts the
PySpark daemon, which forks the Python workers. ``spark.stop()`` leaves
the JVM running until this process exits, and the daemon lives in a
process group of its own, so neither ends with the benchmark unless it
is stopped and waited for: ``stop_all`` does that.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time
from collections import defaultdict

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Make processes orphaned below this one (the daemon and workers,
    once the JVM has ended) children of this process rather than of
    init, so ``stop_all`` can wait for them. Linux only."""
    try:
        prctl = ctypes.CDLL(None, use_errno=True).prctl
    except (OSError, AttributeError):
        return False
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    return prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                # the command name may hold spaces; ppid follows the ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(root_pid: int) -> list[int]:
    """Every process below ``root_pid``."""
    kids, out = _children_map(), []
    todo = list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of every process below
    ``root_pid``: for the benchmark process that is the driver JVM, the
    PySpark daemon and its Python workers."""
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def cpu_seconds(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    process below it, including the exited children each has reaped:
    the JVM's executor threads, the PySpark daemon and its workers. Time
    the host gives to other tenants (steal) is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in f[11:15])
    return total / tick


def host_jiffies() -> tuple[int, int]:
    """(all, steal) CPU time of the whole host so far, in clock ticks,
    from /proc/stat: steal is time the hypervisor gave to other tenants
    while this machine's CPUs wanted to run."""
    with open("/proc/stat", encoding="utf-8") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_all(grace_s: float = 10.0) -> list[int]:
    """Stop the Spark gateway JVM and every process below this one, and
    wait until each has ended. Processes still running ``grace_s`` after
    the JVM was told to exit get SIGTERM, and SIGKILL after twice that.
    Returns the pids that had to be signalled."""
    me = os.getpid()
    pids = set(descendants(me))
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gw = SparkContext._gateway if SparkContext is not None else None
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()  # logs, does not raise, when the JVM is already gone
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin reaches end of file
            if proc.stdin is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    signalled: list[int] = []
    t0 = time.monotonic()
    while True:
        _reap()
        # a pid leaves the set once it has ended, so a reused pid is never
        # waited for or signalled
        pids = {p for p in pids | set(descendants(me)) if _alive(p)}
        left = sorted(pids)
        if not left:
            return signalled
        waited = time.monotonic() - t0
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for p in left:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
                if p not in signalled:
                    signalled.append(p)
            time.sleep(0.5)
        time.sleep(0.05)
