"""Counters read from outside the program: disk, JVM and memory."""

from __future__ import annotations

import os


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`, counting data files only (Spark's
    `.crc` sidecars and `_SUCCESS` markers are bookkeeping)."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc") or f.startswith("_SUCCESS"):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


def jvm_times_s(spark) -> tuple[float, float]:
    """(GC time, JIT compile time) of the JVM so far, from its
    management beans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    jit_ms = mf.getCompilationMXBean().getTotalCompilationTime()
    return gc_ms / 1000.0, jit_ms / 1000.0


#: StreamingQueryProgress.durationMs keys reported per streaming layer.
PROGRESS_KEYS = ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def progress_totals(query) -> dict[str, float]:
    """Sum the progress of every micro-batch of a finished query."""
    out = {f"{k}_ms": 0.0 for k in PROGRESS_KEYS}
    out["numInputRows"] = 0.0
    for p in query.recentProgress:
        for k in PROGRESS_KEYS:
            out[f"{k}_ms"] += p.get("durationMs", {}).get(k, 0)
        out["numInputRows"] += p.get("numInputRows", 0)
    return out
