"""CPU time and resident memory of the benchmark's process tree, from /proc.

The tree is the driver Python process, the JVM it launched, and the
pyspark daemon with its forked workers. CPU of a process that has exited
is kept in its parent's ``cutime``/``cstime`` once the parent reaps it, so
summing utime+stime+cutime+cstime over the live tree counts it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), comm, ticks / _TICK


def tree(root: int | None = None) -> dict[int, tuple[int, str, float]]:
    """Every live descendant of ``root`` (default: this process), itself
    included, mapped to its (ppid, comm, cpu seconds)."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            frontier.extend(p for p, s in procs.items() if s[0] == pid)
    return keep


def jvm_pid() -> int | None:
    """The JVM child of this process (py4j launches it)."""
    for pid, (ppid, comm, _) in tree().items():
        if comm == "java":
            return pid
    return None


def cpu_split() -> dict[str, float]:
    """CPU seconds so far of the driver Python, the JVM, and the Python
    workers (everything below the JVM that is not the JVM)."""
    procs = tree()
    me = os.getpid()
    out = {"py": 0.0, "jvm": 0.0, "worker": 0.0}
    for pid, (ppid, comm, cpu) in procs.items():
        if pid == me:
            out["py"] += cpu
        elif comm == "java":
            out["jvm"] += cpu
        else:
            out["worker"] += cpu
    return out


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def reset_peak(pid: int) -> None:
    """Restart the peak-RSS watermark (VmHWM) of ``pid`` at its current
    RSS, so set-up and input generation do not count toward the peak."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0
