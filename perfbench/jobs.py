"""batch_jobs: analytics_batch passes and table_maintenance cycles,
alternating in one process.

Both are heavy, job-shaped work in the same latency range (0.2-3 s per
op): registry batch queries on one side; versioned-table commits, reads
and DQ checks on the other. Running them in one process pays the JVM
start and first-run compilation once instead of twice, which keeps the
whole benchmark inside its time budget. Each half keeps its own inputs,
warm-up, reuse-guard keys and references; a run measures whole
(pass, cycle) pairs, so its op mix is fixed.
"""

from __future__ import annotations

from pathlib import Path

from analytics import AnalyticsBatch
from harness import Done, Op
from maintenance import TableMaintenance


class BatchJobs:
    name = "batch_jobs"

    def __init__(self, seed: int, work: Path, tracer) -> None:
        self.parts = (AnalyticsBatch(seed, work, tracer),
                      TableMaintenance(seed, work, tracer))
        self._turn = 0

    def prepare(self) -> str:
        return "+".join(p.prepare() for p in self.parts)

    def bootstrap(self, spark) -> None:
        for p in self.parts:
            p.bootstrap(spark)
        self._turn = 0

    @staticmethod
    def _tag(op: Op, part: int) -> Op:
        op.meta["part"] = part
        return op

    def warmup_ops(self):
        for i, p in enumerate(self.parts):
            for op in p.warmup_ops():
                yield self._tag(op, i)

    def next_op(self) -> Op:
        part = self.parts[self._turn]
        op = self._tag(part.next_op(), self._turn)
        if part.at_boundary():
            self._turn ^= 1
        return op

    def at_boundary(self) -> bool:
        """After a whole (pass, cycle) pair: 24 ops, 11 queries and 13
        table ops."""
        return self._turn == 0 and self.parts[0].at_boundary()

    def digest(self, done: Done):
        return self.parts[done.op.meta["part"]].digest(done)

    def verify(self, done: list[Done], digests: list) -> dict[int, str]:
        bad: dict[int, str] = {}
        for k, p in enumerate(self.parts):
            idx = [i for i, d in enumerate(done) if d.op.meta["part"] == k]
            sub = p.verify([done[i] for i in idx], [digests[i] for i in idx])
            bad.update({idx[j]: why for j, why in sub.items()})
        return bad

    def layer_metrics(self, done: list[Done]) -> dict:
        return self.parts[1].layer_metrics(done)
