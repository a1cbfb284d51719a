"""What the box offers (cores, memory) and what its processes used (/proc).

The Spark session is sized from this module, never from constants: cores
come from the scheduler affinity mask (what ``nproc`` prints), JVM
memory and shuffle partitions from ``MemTotal`` and the core count.
"""

from __future__ import annotations

import os

MIB = 1 << 20


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError(f"no MemTotal in {meminfo}")


def spark_settings(n_cores: int, mem_bytes: int) -> dict[str, str]:
    """Session settings derived from the box.

    The JVM (in local mode also the only executor) gets a quarter of
    physical memory, between 1 GiB and 8 GiB: the Python workers, the
    page cache and co-tenants need the rest. Shuffle partitions are two
    per core so AQE can still coalesce."""
    jvm_mib = max(1024, min(8192, mem_bytes // 4 // MIB))
    return {
        "spark.master": f"local[{n_cores}]",
        "spark.driver.memory": f"{jvm_mib}m",
        "spark.sql.shuffle.partitions": str(2 * n_cores),
        "spark.default.parallelism": str(n_cores),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_and_python_workers(pid: int) -> tuple[list[int], list[int]]:
    """(JVM pids, Python worker pids) started by process ``pid``: the
    JVM is a ``java`` descendant; PySpark's daemon and the workers it
    forks are ``python*`` descendants of the JVM."""
    jvms = [p for p in descendants(pid) if comm(p) == "java"]
    workers = [p for j in jvms for p in descendants(j) if comm(p).startswith("python")]
    return jvms, workers
