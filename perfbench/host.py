"""Host diagnostics recorded beside every run: CPU steal share and
peak resident memory."""

from __future__ import annotations


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return [int(x) for x in fields[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two
    ``cpu_times`` readings (field 8 of the cpu line; guest time is
    already counted in user time, so it is left out of the total)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
