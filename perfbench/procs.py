"""Process-tree accounting read from /proc: CPU seconds of the benchmark's
process tree (driver, JVM, Python workers), host steal time, and the
wait that proves every process of a run has exited.

CPU of a process tree = for every live process in it, its own
utime+stime plus cutime+cstime (the CPU of children it has already
reaped). A worker that exits between two reads moves from the first
term into its parent's second one, so the sum stays continuous.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parens: split after the LAST ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(pid: int) -> float:
    """utime+stime+cutime+cstime of one process, in seconds; 0 if gone."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK


def tree_cpu_seconds(root: int) -> float:
    return sum(cpu_seconds(p) for p in [root, *descendants(root)])


def python_cpu_seconds(root: int) -> float:
    """CPU of the Python processes below ``root`` (Spark's Python
    daemon and the workers it forked, reaped ones included)."""
    total = 0.0
    for p in descendants(root):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            total += cpu_seconds(p)
    return total


def host_steal_seconds() -> float:
    """Host-wide steal time so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def process_age_s() -> float:
    """Seconds since this process started (both clocks count from boot)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid has exited; SIGKILL what is left after
    ``timeout_s`` and wait again. Returns the pids that had to be
    killed (empty on a clean shutdown)."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    killed = list(alive)
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while any(_alive(p) for p in killed):
        time.sleep(0.05)
    return killed


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    if f is None or f[0] == "Z":
        if f is not None:
            try:  # our own zombie child: reap it
                os.waitpid(pid, os.WNOHANG)
            except OSError:
                pass
        return False
    return True
