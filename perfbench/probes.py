"""Measurements taken from outside the engine: CPU time and resident
memory of the whole process tree (the driver Python, the JVM it
launched and the JVM's Python workers) read from ``/proc``, and the
Spark storage held by persisted or checkpointed blocks."""

from __future__ import annotations

import os
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def read_stat(pid: int, proc: str = "/proc") -> tuple[int, float, int] | None:
    """``(ppid, cpu_s, rss_bytes)`` of one process, or None once it is
    gone.  ``cpu_s`` counts the process's own user+system time plus that
    of its children it has already reaped, so CPU of a worker that
    exits inside a measured window stays in the tree total."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    fields = raw.rsplit(")", 1)[1].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / CLK_TCK, int(fields[21]) * PAGE_BYTES


def tree_stats(root: int, proc: str = "/proc") -> dict[int, tuple[float, int]]:
    """``{pid: (cpu_s, rss_bytes)}`` for ``root`` and all its descendants."""
    stats: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = read_stat(int(name), proc)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[float, int]] = {}
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid][1:]
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    return sum(cpu for cpu, _ in tree_stats(root or os.getpid()).values())


def tree_rss_bytes(root: int | None = None) -> int:
    return sum(rss for _, rss in tree_stats(root or os.getpid()).values())


def process_age_s(pid: int | None = None) -> float:
    """Seconds since ``pid`` (default: this process) started."""
    with open(f"/proc/{pid or os.getpid()}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def cpu_times() -> tuple[int, int]:
    """``(steal, total)`` ticks of all CPUs from ``/proc/stat``: on a
    virtual machine, steal is time the host ran something else while a
    virtual CPU of this one was ready to run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def note(msg: str) -> None:
    """Progress line on standard error, stamped with the process age."""
    print(f"[{process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def wait_for_descendants(root: int | None = None, timeout: float = 60.0) -> bool:
    """Wait until ``root`` has no live descendants; True if they all ended."""
    root = root or os.getpid()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if len(tree_stats(root)) <= 1:
            return True
        time.sleep(0.2)
    return len(tree_stats(root)) <= 1


class RssSampler:
    """Background thread recording the peak resident memory of the tree."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def storage_held(sc) -> tuple[float, int]:
    """``(MB, RDD count)`` of blocks that persisted or checkpointed RDDs
    hold in Spark storage, memory plus any evicted to disk, read from
    the SparkContext's RDD storage info."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = [i for i in infos if i.numCachedPartitions() > 0]
    return sum(i.memSize() + i.diskSize() for i in held) / MB, len(held)


def jvm_gc_s(sc) -> float:
    """Total collection time of all JVM garbage collectors so far."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000


def jvm_live_heap_mb(sc) -> float:
    """Heap in use after a full collection."""
    sc._jvm.System.gc()
    rt = sc._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / MB
