"""Process-tree accounting read from ``/proc``, plus the machine
calibration probe.

The benchmark process, the JVM it launches and the JVM's Python workers
form one tree. CPU is the sum of user+system time of every live process
in the tree plus what each has collected from its reaped children, so
short-lived workers are counted once they exit. Memory is the sum of
each live process's peak resident set.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2 :].split()


def tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and every live descendant, found
    by walking the parent links of every process in ``/proc``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(kids.get(p, []))
    return seen


def tree_cpu_s(pid: int | None = None) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for p in tree(pid):
        f = _stat_fields(p)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``) in MiB."""
    kb = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return kb / 1024


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``.
    Steal is time the hypervisor ran someone else while this machine had
    work: the share of it over an interval tells host contention apart
    from a change in the benchmark."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def calibration_s() -> float:
    """Median of five timings of a fixed pure-Python loop: a diagnostic
    of how fast this machine runs right now, independent of the engine.
    A shift here with no shift in the engine's figures is machine drift,
    not benchmark noise."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return sorted(times)[2]
