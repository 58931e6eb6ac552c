"""Process-tree accounting from ``/proc`` (Linux only).

CPU comes from ``/proc/<pid>/stat`` (utime+stime plus the reaped
children's cutime+cstime, so a Python worker that exits mid-phase is
still counted through its parent), peak memory from ``VmHWM`` in
``/proc/<pid>/status`` and disk writes from ``write_bytes`` in
``/proc/<pid>/io``.  Nothing here samples in the background: callers
take a snapshot before and after the phase they measure.
"""

from __future__ import annotations

import os
import signal

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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def kind(pid: int) -> str:
    """``jvm``, ``pyworker`` (pyspark daemon/worker) or ``driver_py``."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
    except OSError:
        return "gone"
    if b"java" in cmd.split(b" ", 1)[0]:
        return "jvm"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "pyworker"
    return "driver_py"


def cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
    return sum(int(x) for x in fields[11:15]) / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def snapshot(root: int) -> dict:
    """CPU seconds and written bytes per process kind, plus the summed
    VmHWM (MB), over ``root``'s process tree."""
    cpu = {"jvm": 0.0, "pyworker": 0.0, "driver_py": 0.0}
    wb = 0
    hwm_kb = 0
    for pid in tree(root):
        k = kind(pid)
        if k == "gone":
            continue
        cpu[k] += cpu_s(pid)
        wb += write_bytes(pid)
        hwm_kb += _status_kb(pid, "VmHWM")
    return {"cpu": cpu, "write_bytes": wb, "hwm_mb": hwm_kb / 1024.0}


def pids_with_env(token: str) -> list[int]:
    """Live processes whose environment carries ``token`` — catches a
    descendant that re-parented or left its process group."""
    needle = token.encode()
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read():
                    out.append(int(name))
        except OSError:
            continue
    return out


def alive(pid: int) -> bool:
    """True unless ``pid`` is gone or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def kill_all(pgid: int | None, token: str, sig: int = signal.SIGKILL) -> None:
    """Signal a process group and every process carrying ``token``."""
    if pgid is not None:
        try:
            os.killpg(pgid, sig)
        except OSError:
            pass
    for pid in pids_with_env(token):
        try:
            os.kill(pid, sig)
        except OSError:
            pass
