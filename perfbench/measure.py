"""Host sizing and the process and file measurements the benchmark reads."""

from __future__ import annotations

import os


def host_sizing() -> dict:
    """Cores from the CPU affinity mask; driver heap a quarter of MemTotal,
    clamped to [1, 4] GiB, so the JVM fits beside other tenants."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    driver_mb = max(1024, min(4096, mem_mb // 4)) // 256 * 256
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_mb,
        "driver_mb": driver_mb,
    }


def jvm_cpu_s(pid: int) -> float:
    """User + system CPU seconds of the JVM process so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return kb / 1024


def data_files(path: str) -> list[str]:
    """Data files under a parquet dir (no checksums or commit markers)."""
    out = []
    for d, _, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if not f.startswith((".", "_"))]
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))
