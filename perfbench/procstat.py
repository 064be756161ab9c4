"""Process-tree CPU and RSS from /proc.

Same accounting as ``bench._tree_cpu_secs``: a process's CPU is its
utime+stime plus cutime+cstime, so Spark's short-lived Python workers still
count after their daemon reaps them. Processes are classed as the JVM, Spark
Python workers (``pyspark.daemon`` and its forks) or the driver (anything
else in the tree).
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def classify(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return "driver"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "pyworker"
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    return "driver"


def tree(root: int) -> dict[int, int]:
    """``root`` and every live descendant, each with its parent pid."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parents[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out = {}
    for pid in parents:
        p = pid
        for _ in range(64):
            if p == root:
                out[pid] = parents[pid]
                break
            p = parents.get(p, 0)
            if p <= 1:
                break
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    return list(tree(root))


def tree_usage(root: int) -> dict[str, float]:
    """CPU seconds and RSS (MB) per process class over ``root``'s tree.

    Keys ``cpu_<class>`` and ``rss_<class>`` for the classes ``driver``,
    ``jvm`` and ``pyworker``, plus ``cpu_total``. A process's CPU includes
    its reaped children's."""
    out = {f"{k}_{c}": 0.0 for k in ("cpu", "rss") for c in ("driver", "jvm", "pyworker")}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cls = classify(pid)
        out["cpu_" + cls] += (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK
        out["rss_" + cls] += int(f[21]) * _PAGE / 1e6
    out["cpu_total"] = out["cpu_driver"] + out["cpu_jvm"] + out["cpu_pyworker"]
    return out


def peak_rss_mb(pid: int) -> float:
    """The kernel's high-water mark of ``pid``'s resident set (VmHWM), MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def pss_mb(pid: int) -> float:
    """``pid``'s proportional set size (Pss), MB: pages it shares with other
    processes (a forked worker's copy-on-write pages) count in shares."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def busy_cores(sample_s: float = 0.5) -> float:
    """Cores busy machine-wide over ``sample_s`` seconds (as
    ``bench._busy_cores``), recorded as context, never waited on."""
    import time

    def snap():
        with open("/proc/stat") as fh:
            vals = list(map(int, fh.readline().split()[1:]))
        return sum(vals), vals[3] + vals[4]

    t0, i0 = snap()
    time.sleep(sample_s)
    t1, i1 = snap()
    return (os.cpu_count() or 1) * (1.0 - (i1 - i0) / max(t1 - t0, 1))
