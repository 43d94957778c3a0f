"""Host and JVM probes, read from outside the program.

The host fingerprint is sampled before the benchmark's own JVM exists.
Per iteration, the run reads JIT compile and GC time from the JVM's
management beans, CPU time of the whole process tree (the Python driver,
the JVM and the JVM's Python workers) from /proc, and the host's steal
time and load average. With these a record tells a neighbour or an
unfinished warm-up from a regression.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def calibrate(n: int = 2_000_000) -> float:
    """Single-thread probe: a fixed integer fold, in iterations/second."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return n / (time.perf_counter() - t0)


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    raise KeyError(key)


def _java_pids() -> set[int]:
    pids = set()
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().strip() == "java":
                        pids.add(int(p))
            except OSError:
                continue
    return pids


def fingerprint() -> dict:
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "ram_mb": round(_meminfo_mb("MemTotal")),
        "mem_available_mb": round(_meminfo_mb("MemAvailable")),
        "loadavg_start": os.getloadavg()[0],
        "foreign_jvms": len(_java_pids()),
        "calibration_iters_per_s": round(calibrate()),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor, in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and
    every live descendant, including what each has reaped from children
    that already exited."""
    kids = _children()
    total, todo = 0, [root or os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class JvmProbe:
    """Cumulative since the JVM started: JIT compile and GC time, classes
    loaded, and Spark's generated-code compilations (a miss in its codegen
    cache compiles a class, which the JIT then has to compile again)."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._classes = mf.getClassLoadingMXBean()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> dict:
        return {"jit_s": self._jit.getTotalCompilationTime() / 1e3,
                "gc_s": sum(b.getCollectionTime() for b in self._gcs) / 1e3,
                "classes": self._classes.getTotalLoadedClassCount(),
                "codegen": self._codegen.METRIC_COMPILATION_TIME().getCount()}


class Region:
    """The timed region of an iteration, used as a context manager. The
    counters are read just outside the wall-clock interval, so the
    readings cost the timing nothing; ``probes`` holds what the region
    cost: CPU of the process tree, host steal, JIT and GC time, classes
    loaded, generated-code compilations, and the load average at its
    end."""

    def __init__(self, jvm: JvmProbe) -> None:
        self.jvm = jvm
        self.wall: float | None = None
        self.probes: dict = {}

    def _counters(self) -> dict:
        return {"cpu_s": tree_cpu_s(), "steal_s": steal_s(), **self.jvm.read()}

    def __enter__(self) -> "Region":
        self._before = self._counters()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        after = self._counters()
        self.probes = {k: after[k] - self._before[k] for k in after}
        self.probes["loadavg"] = os.getloadavg()[0]
