"""Host and process counters recorded beside every run.

CPU steal, CPU pressure (PSI) and disk counters attribute a slow run to the
host rather than to the engine; the JVM counters (peak RSS, CPU time, GC
time) price the Spark JVM, which Python's own ``ru_maxrss`` cannot see.
Every reader returns zeros where the kernel lacks the file, so a run on a
host without PSI or block devices still reports.
"""

from __future__ import annotations

import os
import resource
import time

# Devices that are not whole physical disks. Partitions are excluded by
# taking only names under /sys/block; device-mapper and md devices layer
# over those disks, so counting them too would count each I/O twice.
_VIRTUAL_DISKS = ("loop", "ram", "zram", "dm-", "md")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # guest time is already counted inside user/nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def cpu_psi_us() -> int:
    """Cumulative microseconds some task waited for a CPU."""
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return 0


def disks() -> set[str]:
    try:
        names = os.listdir("/sys/block")
    except OSError:
        return set()
    return {d for d in names if not d.startswith(_VIRTUAL_DISKS)}


def disk_counters(devices: set[str]) -> dict[str, int]:
    """Sectors read, sectors written and ms spent doing I/O, summed over
    ``devices``."""
    out = {"sectors_read": 0, "sectors_written": 0, "io_ms": 0}
    try:
        with open("/proc/diskstats") as f:
            for line in f:
                p = line.split()
                if len(p) >= 13 and p[2] in devices:
                    out["sectors_read"] += int(p[5])
                    out["sectors_written"] += int(p[9])
                    out["io_ms"] += int(p[12])
    except (OSError, ValueError):
        pass
    return out


def snapshot(devices: set[str]) -> dict[str, int]:
    steal, total = cpu_jiffies()
    return {"steal": steal, "jiffies": total, "psi_us": cpu_psi_us(),
            **disk_counters(devices)}


def attribution(before: dict[str, int], after: dict[str, int], wall_s: float) -> dict:
    """Host attribution over one interval: CPU steal share, CPU pressure
    share of wall time, and disk counter deltas."""
    d = {k: after[k] - before[k] for k in before}
    return {
        "steal_share": d["steal"] / d["jiffies"] if d["jiffies"] else 0.0,
        "cpu_psi_share": d["psi_us"] / 1e6 / wall_s if wall_s > 0 else 0.0,
        "disk_sectors_read": d["sectors_read"],
        "disk_sectors_written": d["sectors_written"],
        "disk_io_ms": d["io_ms"],
    }


class Jvm:
    """Counters of the session's JVM, read through its own pid."""

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self.pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        """User + system CPU seconds the JVM has used."""
        with open(f"/proc/{self.pid}/stat") as f:
            # fields after the parenthesised command name; utime, stime
            # are fields 14 and 15 of the full line
            rest = f.read().rsplit(")", 1)[1].split()
        return (int(rest[11]) + int(rest[12])) / self._tick

    def hwm_mb(self) -> float:
        """Peak resident set size (VmHWM) in MiB."""
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def heap_peak_mb(self) -> float:
        """Sum of the heap memory pools' peak use since JVM start, in MiB."""
        mf = self._jvm.java.lang.management.ManagementFactory
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        pools = mf.getMemoryPoolMXBeans()
        return sum(pools.get(i).getPeakUsage().getUsed() for i in range(pools.size())
                   if pools.get(i).getType() == heap) / (1 << 20)

    def gc_s(self) -> float:
        """Cumulative GC time of every collector, in seconds."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def python_max_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_probe(n: int = 350_000) -> float:
    """Seconds a fixed single-threaded integer loop takes: the host's
    current per-core speed, independent of the program under test."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t
