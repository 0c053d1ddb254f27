"""What every workload shares: the op record and the timed-op runner.

An op is one user-facing call (or a fixed group of calls) whose latency
the benchmark reports. Each op runs under a Spark job group of its own,
set outside its timed region, so its jobs, stages, tasks, shuffle bytes
and task time are counted per op even with tracing off. State files and
bytes written per op come from the warehouse before and after it.
"""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from harness import dir_usage, log
from spans import JobGroup, Tracer, drain, spark_work


@dataclass
class Op:
    kind: str          # repeats of one kind should show equal counters
    unit: int          # its unit of work (day, trigger, pass); -1: set-up
    latency: float = 0.0
    items: int = 0     # rows or docs the op handled
    done: bool = False  # ran without raising: its latency is valid
    ok: bool = False    # done, and its output passed the gate
    error: str | None = None
    counters: dict[str, float] = field(default_factory=dict)
    state: dict[str, tuple[int, int]] = field(default_factory=dict)


class OpRunner:
    """Times ops, attributes Spark work and state writes to them."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[Op] = []
        self.warehouse: Path | None = None

    def run(self, op: Op, fn, check):
        """Time ``fn()``; then, untimed, apply ``check(result)`` (which
        returns an error string or None) and collect the op's counters.
        An op that raises or fails its check is recorded as failed; one
        that raised has no latency."""
        op_id = len(self.ops)
        self.ops.append(op)
        self.tracer.op = op_id
        before = dir_usage(self.warehouse) if self.warehouse else {}
        result = None
        with JobGroup(self.spark, f"perfbench-op-{op_id}", op.kind):
            t0 = time.perf_counter()
            try:
                result = fn()
                op.latency = time.perf_counter() - t0
                op.done = op.ok = True
            except Exception:
                op.error = traceback.format_exc(limit=3)
        self.tracer.op = None
        if op.ok:
            traced, self.tracer.enabled = self.tracer.enabled, False
            try:
                op.error = check(result)
            except Exception:
                op.error = traceback.format_exc(limit=3)
            finally:
                self.tracer.enabled = traced
            op.ok = op.error is None
        if not op.ok:
            log(f"FAILED {op.kind} (unit {op.unit}): {op.error}")
        self._count(op, op_id, before)
        return result

    def _count(self, op: Op, op_id: int, before) -> None:
        drain(self.spark)
        self.tracer.resolve()
        c = spark_work(self.spark, f"perfbench-op-{op_id}")
        for s in self.tracer.spans:
            if s.op == op_id:
                for k in c:
                    c[k] += getattr(s, k)
        after = dir_usage(self.warehouse) if self.warehouse else {}
        op.state = {e: (files - before.get(e, (0, 0))[0],
                        size - before.get(e, (0, 0))[1])
                    for e, (files, size) in after.items()}
        c["state_files"] = sum(f for f, _ in op.state.values())
        c["state_bytes"] = sum(b for _, b in op.state.values())
        op.counters = c
