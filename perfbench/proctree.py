"""CPU time and memory of this process and all its descendants,
read from /proc (Linux only).

The tree is the benchmark's Python driver, the Spark driver JVM it launches
and the Python workers the JVM forks. CPU includes ``cutime``/``cstime`` so
time used by children that already exited and were reaped still counts.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """user+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def reset_peak_rss(root: int) -> None:
    """Restart every process's peak-RSS counter (VmHWM) at its current RSS."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_kb(root: int) -> dict[int, int]:
    """pid → peak resident set size (VmHWM, kB) since start or the last
    ``reset_peak_rss``. The kernel keeps the counter, so reading it costs
    nothing while the processes run."""
    out = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            pass
    return out
