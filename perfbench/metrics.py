"""Latency summaries and process counters shared by the workloads."""

from __future__ import annotations

import os
import resource

TAIL_BEYOND = 10  # a tail percentile needs this many samples beyond it


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile of ``samples`` with at least
    ``TAIL_BEYOND`` samples beyond it: ``(value, percentile, n)``.

    With ``n`` samples sorted ascending that is the ``n - 10``-th
    smallest, i.e. the ``100 * (n - 10) / n`` percentile."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(
            f"{n} samples: a tail needs more than {TAIL_BEYOND}"
        )
    k = n - TAIL_BEYOND
    return sorted(samples)[k - 1], 100.0 * k / n, n


def _status_kb(pid: int | str, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (``VmHWM``) of this process plus the JVM."""
    kb = _status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0


def driver_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


_TICK = os.sysconf("SC_CLK_TCK")


def jvm_cpu_s(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/stat") as f:
        # fields after the parenthesised command: utime is the 14th
        # field of the line, stime the 15th
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / _TICK
