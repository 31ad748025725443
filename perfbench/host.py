"""Host facts and the host-noise sentinel recorded with every run."""

from __future__ import annotations

import os
import resource
import time

# Fixed pure-Python work: its wall time tracks how much CPU the host
# gives this process right now, independent of the code under test.
_CALIBRATION_ITERS = 600_000


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Driver heap that fits the host: a quarter of RAM, at most 4 GiB
    (the package default of 16g exceeds a 15 GB host)."""
    return f"{max(1024, min(4096, mem_total_mb() // 4))}m"


def calibrate(repeats: int = 3) -> float:
    """Median seconds of ``repeats`` runs of the fixed calibration loop."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        acc = 0
        for i in range(_CALIBRATION_ITERS):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat.
    Steal is time a virtual CPU was ready but the hypervisor ran someone
    else: the share of it over a run is the contention a run suffered
    from outside its own machine."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    steal = ticks[7] if len(ticks) > 7 else 0
    # guest time is already counted in user time
    return steal, sum(ticks[:8])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of process ``pid`` in MB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
