"""Helpers shared by the workloads: host sizing, statistics, memory."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

# set-ups timed per run; `setup_s` is their median (the first runs cold)
SETUP_REPEATS = 3


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_for_host() -> str:
    """Driver heap for `SPARK_GRAFT_DRIVER_MEM`: an eighth of host RAM,
    1-48 GiB (2g on a 15 GiB host).

    The session's built-in 48g let the JVM grow past a 15 GiB host during
    composite requests before it collected garbage. The benchmark's scales
    run in 2g, and the smaller heap measured steadier than 6g."""
    ram_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    return f"{max(1, min(48, round(ram_gib / 8)))}g"


def median(values) -> float:
    return float(statistics.median(values))


def mean(values) -> float:
    """Mean, or 0.0 for no values (a layer the workload does not use)."""
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def percentile(values, q: float) -> float | None:
    """The q-quantile, or None unless at least ten samples lie beyond it."""
    values = sorted(values)
    if len(values) * (1 - q) < 10 - 1e-9:
        return None
    return float(statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1])


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus its children (the
    driver JVM), from the kernel's high-water marks."""
    me = os.getpid()
    return sum(_vm_hwm_kib(p) for p in [me, *child_pids(me)]) / 1024


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    sf: float
    work: str
    tracer: object  # tracing.Tracer, or tracing.NullTracer when untraced


@dataclass
class Result:
    """What a workload hands back to run.py."""
    end_to_end: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    report: dict[str, object] = field(default_factory=dict)
    ops: list[str] = field(default_factory=list)  # the timed operations' ids
    loop_s: float = 0.0  # wall time of the timed loop


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0
