"""Host readings: process-tree CPU seconds and resident memory from
``/proc``, the load average, and file counts and bytes under directories.

The tree is a root pid and every live descendant. CPU time of children
that already exited and were reaped by a process in the tree is counted
through the parent's ``cutime``/``cstime``.
"""
from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def group_alive(pgid: int) -> bool:
    """Whether any process of process group ``pgid`` is still running."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            # state is field 3 of stat(5) and pgrp field 5; zombies have ended
            if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _is_jvm(pid: int) -> bool:
    return os.readlink(f"/proc/{pid}/exe").endswith("/java")


def memory_bytes(root: int) -> int:
    """Resident memory of the tree now. Python processes are read as PSS,
    which splits each shared page among the processes mapping it, so the
    workers forked from the PySpark daemon do not count the pages they
    share with it once each. The JVM is read as RSS: its pages are
    private apart from shared libraries, and walking its mappings for PSS
    costs tens of milliseconds per reading. A child of the JVM that still
    runs the java executable is the JVM spawning a process (vfork): until
    it execs, it shares the JVM's memory, so it is not counted again."""
    total = 0
    for pid in tree(root):
        try:
            fields = _stat_fields(pid)
            if fields is None:
                continue
            if _is_jvm(pid):
                if not _is_jvm(int(fields[1])):
                    with open(f"/proc/{pid}/statm", "rb") as f:
                        total += int(f.read().split()[1]) * _PAGE
            else:
                total += _pss(pid)
        except (OSError, ValueError, IndexError):  # the process ended
            continue
    return total


def loadavg() -> float:
    """One-minute load average."""
    with open("/proc/loadavg", "rb") as f:
        return float(f.read().split()[0])


def usage(roots: list[str]) -> tuple[int, int]:
    """Files and bytes under ``roots``."""
    files = size = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in names:
                try:
                    size += os.lstat(os.path.join(dirpath, n)).st_size
                    files += 1
                except OSError:  # removed while walking
                    continue
    return files, size
