"""Shared op model for the workloads.

A workload yields ``Op``s one at a time (closed loop, one client). The
runner times ``Op.run``, reads what Spark did for it, and applies the
reuse guard; the workload checks the returned payload against its
reference once the measured region is over.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from spark_stats import ExecStats


@dataclass
class Op:
    kind: str                  # e.g. "query", "chat", "append", "dq_check"
    key: str                   # reuse-guard key: equal keys scan alike
    run: Callable[[], Any]
    # compare shuffle-write bytes with the warm-up too (only where the
    # op repeats exactly, so its shuffle output must too)
    same_shuffle: bool = False
    # scan bytes must match the warm-up op with the same key
    same_scan: bool = True
    meta: dict[str, Any] = field(default_factory=dict)


@dataclass
class Done:
    op: Op
    ms: float                  # wall time at the client
    py_cpu_ms: float           # CPU of the Python driver
    jvm_cpu_ms: float          # CPU of the Spark JVM, JIT excluded
    jit_cpu_ms: float          # CPU of the JVM's JIT compiler
    worker_cpu_ms: float       # CPU of the PySpark daemon and workers
    stats: ExecStats
    payload: Any = None
    error: str | None = None

    @property
    def cpu_ms(self) -> float:
        """CPU time the op cost the whole process tree, without the
        JIT compiler's background work."""
        return self.py_cpu_ms + self.jvm_cpu_ms + self.worker_cpu_ms


class ReuseGuard:
    """Zero skipped stages, and the same scan / shuffle-write bytes as
    the warm-up run of the same op key in this process."""

    def __init__(self) -> None:
        self.baseline: dict[str, ExecStats] = {}

    def record(self, op: Op, stats: ExecStats) -> None:
        self.baseline[op.key] = stats

    def violation(self, op: Op, stats: ExecStats) -> str | None:
        if stats.stages_skipped:
            return f"reuse: {stats.stages_skipped} skipped stage(s)"
        base = self.baseline.get(op.key)
        if base is None:
            return None
        if op.same_scan and stats.scan_bytes != base.scan_bytes:
            return (f"reuse: scan bytes {stats.scan_bytes} != warm-up "
                    f"{base.scan_bytes}")
        if (op.same_shuffle
                and stats.shuffle_write_bytes != base.shuffle_write_bytes):
            return (f"reuse: shuffle-write bytes {stats.shuffle_write_bytes}"
                    f" != warm-up {base.shuffle_write_bytes}")
        return None
