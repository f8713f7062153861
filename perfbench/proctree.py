"""CPU time and peak memory of this process and everything it started
(the Spark JVM, the Python worker daemon and its workers), read from
/proc because psutil is not available."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree() -> list[int]:
    """This process and all its live descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds() -> float:
    """utime+stime of every live process in the tree, plus the CPU of
    children they already reaped (cutime+cstime), so a worker that
    exits mid-pass still counts once, in its parent."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def reset_peak_rss() -> None:
    """Restart every process's VmHWM at its current RSS (Linux >= 4.0)."""
    for pid in tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the tree, in MB."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL what is left
    after ``timeout`` seconds and wait again."""
    me = os.getpid()
    pids = [p for p in pids if p != me]
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 10.0
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        # our own zombie child: collect it so it does not linger
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            return False
    return state != "Z"
