"""CPU seconds of a process tree, read from /proc.

The benchmark's driver Python starts the JVM, and the JVM starts the
`pyspark.daemon` workers; their CPU is split three ways:

- `driver`: the benchmark's own process (plan building, py4j calls);
- `jvm`: every non-Python descendant (the Spark JVM);
- `pyworker`: every Python descendant (daemon and forked UDF workers).

A process's CPU is utime + stime + cutime + cstime, so the time of a
worker that exited and was reaped by its parent stays in the tree through
the parent's c-fields. A process seen at the start but gone at the end
has therefore been counted by its parent; its start value is subtracted
so it is not counted twice. The three parts sum exactly to the total.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
PARTS = ("driver", "jvm", "pyworker")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) of one process, or None if
    it has gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name is in parentheses and may itself contain spaces
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, utime + stime + cutime + cstime


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0].decode(errors="replace")
    except OSError:
        return False
    return os.path.basename(argv0).startswith("python")


def descendants(root: int) -> list[int]:
    """Every live descendant of `root` (not `root` itself)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcTreeCpu:
    """Snapshots of a process tree's CPU ticks, classified by part."""

    def __init__(self, root: int | None = None) -> None:
        self.root = os.getpid() if root is None else root
        self._kind: dict[int, str] = {}

    def snapshot(self) -> dict[int, tuple[str, int]]:
        snap = {}
        for pid in [self.root, *descendants(self.root)]:
            st = _stat(pid)
            if st is None:
                continue
            kind = self._kind.get(pid)
            if kind is None:
                if pid == self.root:
                    kind = "driver"
                else:
                    kind = "pyworker" if _is_python(pid) else "jvm"
                self._kind[pid] = kind
            snap[pid] = (kind, st[1])
        return snap

    @staticmethod
    def delta(start: dict, end: dict) -> dict[str, float]:
        """CPU seconds per part between two snapshots; the parts sum to the
        tree's total."""
        ticks = dict.fromkeys(PARTS, 0)
        for pid, (kind, t) in end.items():
            ticks[kind] += t - start.get(pid, (kind, 0))[1]
        for pid, (kind, t) in start.items():
            if pid not in end:
                ticks[kind] -= t
        return {k: v / _TICK for k, v in ticks.items()}
