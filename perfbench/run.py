"""Benchmark entry point.

    python3 perfbench/run.py --workload copilot_chat --seed 1 \
        --seconds 8 --trace 0

Run from the repository root. One process, one closed-loop client, a
local Spark master on every core of the machine. The run:

1. generates the workload's inputs from ``--seed`` (numpy, no Spark)
   and prints their fingerprint;
2. sets up ``SETUPS`` times in the same process (Spark session start,
   catalog bootstrap, Python worker pool touch) and reports the median
   CPU time as ``setup_s``; the first set-up also launches the JVM and
   the Spark context and spawns the worker pool, the later ones start
   new sessions on that context;
3. warms up, untimed: every op kind runs at least once (first-run
   compilation and JIT; the reuse guard's baselines);
4. runs ops for at least ``--seconds`` and up to the end of the
   workload's current cycle / pair, recording each op's wall time and
   the CPU time of the process tree (``spark_stats.CpuClock``), and
   applying the reuse guard (no stage skipped on an earlier op's
   output; scan / shuffle-write bytes equal to the op's warm-up run);
5. checks every op's output against a reference computed after the
   timed region (DuckDB, or an in-memory table model);
6. prints one summary line per metric, then one JSON object as the
   last line of stdout.

``--trace 1`` installs layer spans and reports the per-layer metrics
instead; spans are written to ``.perfbench_work/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import tracing
from harness import Done, ReuseGuard
from spark_stats import (CpuClock, ExecStats, StatusReader, cores,
                         driver_cpu_ms, peak_rss_mb)

ROOT = Path.cwd()
SETUPS = 5
# BENCHMARK.json runs copilot_chat and batch_jobs; batch_jobs alternates
# analytics_batch and table_maintenance, which also run on their own.
WORKLOADS = ("copilot_chat", "batch_jobs", "analytics_batch",
             "table_maintenance")
# per-layer metrics only table_maintenance produces (0 elsewhere)
TABLE_METRICS = {"commit_p50_ms": "ms", "commit_max_ms": "ms",
                 "write_amp": "ratio", "space_amp": "ratio",
                 "sources.bytes_written": "bytes",
                 "sources.files_written": "count",
                 "sources.read_files": "count"}


def _env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cpus = str(cores())
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": ("-XX:-UsePerfData "
                                f"-Djava.io.tmpdir={work / 'tmp'}"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} "
            f"-XX:-UsePerfData -Dderby.system.home={work}' "
            f"--conf spark.sql.warehouse.dir={work / 'spark-warehouse'} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def _workload(name: str, seed: int, work: Path, tracer):
    if name == "batch_jobs":
        from jobs import BatchJobs
        return BatchJobs(seed, work, tracer)
    if name == "analytics_batch":
        from analytics import AnalyticsBatch
        return AnalyticsBatch(seed, work, tracer)
    if name == "copilot_chat":
        from chat import CopilotChat
        return CopilotChat(seed, work, tracer)
    from maintenance import TableMaintenance
    return TableMaintenance(seed, work, tracer)


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


class Runner:
    def __init__(self, wl, tracer) -> None:
        self.wl, self.tracer, self.guard = wl, tracer, ReuseGuard()
        self.spark = None
        self.reader = None
        self.clock = None

    def start(self) -> tuple[float, float]:
        """One set-up: start a Spark session (the first one launches the
        JVM and the Spark context; later ones are new sessions on that
        context, each with its own catalog), bootstrap the workload's
        catalog and touch the Python worker pool. Returns (wall seconds,
        CPU seconds of the process tree without the JIT compiler); the
        first set-up counts the JVM and the workers from their start."""
        from data_platform_copilot_spark.session import get_spark
        t0 = time.perf_counter()
        c0 = (self.clock.now() if self.clock is not None
              else (driver_cpu_ms(), 0.0, 0.0, 0.0))
        self.spark = (get_spark(f"perfbench-{self.wl.name}")
                      if self.spark is None else self.spark.newSession())
        self.wl.bootstrap(self.spark)
        n = self.spark.sparkContext.defaultParallelism
        (self.spark.range(n * 64, numPartitions=n)
         .mapInPandas(lambda it: it, "id long")
         .write.format("noop").mode("overwrite").save())
        wall = time.perf_counter() - t0
        if self.clock is None:
            self.clock = CpuClock(self.spark)
        else:
            self.clock.rescan()
        c1 = self.clock.now()
        py, jvm, _jit, workers = (b - a for a, b in zip(c0, c1))
        return wall, (py + jvm + workers) / 1e3

    def warm_up(self) -> None:
        """Run the workload's warm-up ops: absorbs first-run compilation
        and records the reuse guard's per-op baseline."""
        self.reader = StatusReader(self.spark, skew=self.tracer.enabled)
        for op in self.wl.warmup_ops():
            d = self.execute(op)
            if d.error:
                raise RuntimeError(f"warm-up {op.key} failed: {d.error}")
            self.wl.digest(d)
            self.guard.record(op, d.stats)

    def execute(self, op) -> Done:
        j0 = self.reader.next_job_id()
        c0 = self.clock.now()
        t0 = time.perf_counter()
        payload, error = None, None
        with self.tracer.span(f"op.{op.kind}"):
            try:
                payload = op.run()
            except Exception as exc:  # counted as a failed op
                error = f"{type(exc).__name__}: {str(exc)[:200]}"
        ms = (time.perf_counter() - t0) * 1e3
        c1 = self.clock.now()
        born = self.clock.rescan()
        stats = self.reader.collect(j0, self.reader.next_job_id())
        return Done(op, ms, c1[0] - c0[0], c1[1] - c0[1], c1[2] - c0[2],
                    c1[3] - c0[3] + born, stats, payload, error)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    if not (ROOT / "data_platform_copilot_spark").is_dir():
        print("perfbench: run from the repository root (the program "
              "package data_platform_copilot_spark is missing here)",
              file=sys.stderr)
        return 2

    work_root = ROOT / ".perfbench_work"
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    _env(work)

    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    wl = _workload(args.workload, args.seed, work, tracer)
    t0 = time.perf_counter()
    fp = wl.prepare()
    phases = {"prepare_s": time.perf_counter() - t0}
    print(f"inputs: workload={wl.name} seed={args.seed} fingerprint={fp}",
          flush=True)

    runner = Runner(wl, tracer)
    layers = (tracing.install_layer_spans(tracer) if args.trace
              else contextlib.nullcontext())
    try:
        with layers:
            setups = [runner.start() for _ in range(SETUPS)]
            t0 = time.perf_counter()
            runner.warm_up()
            phases["warm_up_s"] = time.perf_counter() - t0
            result = measure(runner, wl, tracer, args, setups, phases)
    finally:
        if runner.spark is not None:
            _stop_spark(runner.spark)
        if args.trace:
            tracer.dump(work_root / f"spans-{wl.name}-{args.seed}.jsonl")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(runner: Runner, wl, tracer, args,
            setups: list[tuple[float, float]],
            phases: dict[str, float]) -> dict:
    if tracer.enabled:
        tracer.reset()
    done, digests, guard_fail = [], [], {}
    t_start = time.perf_counter()
    while (time.perf_counter() - t_start < args.seconds
           or not wl.at_boundary()):
        op = wl.next_op()
        tracer.op_id = len(done)
        d = runner.execute(op)
        reason = d.error or runner.guard.violation(op, d.stats)
        if reason:
            guard_fail[len(done)] = reason
        digests.append(None if d.error else wl.digest(d))
        d.payload = None
        done.append(d)
    wall_s = time.perf_counter() - t_start
    rss = peak_rss_mb(runner.spark)
    t0 = time.perf_counter()
    failures = {**wl.verify(done, digests), **guard_fail}
    phases["verify_s"] = time.perf_counter() - t0

    lat = [d.ms for d in done]
    n = len(done)
    ncores = cores()
    for i, why in sorted(failures.items()):
        print(f"FAILED op {i} {done[i].op.kind} {done[i].op.key}: {why}",
              file=sys.stderr)
    e2e = {
        "setup_s": (statistics.median(cpu for _, cpu in setups), "s"),
        "cpu_ms_per_op": (sum(d.cpu_ms for d in done) / n, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    wall = {
        "client.ops_per_s": (n * 1e3 / sum(lat), "1/s"),
        "client.latency_p50_ms": (statistics.median(lat), "ms"),
        "client.latency_p75_ms": (
            statistics.quantiles(lat, n=4, method="inclusive")[2], "ms"),
    }
    print(f"run: workload={wl.name} ops={n} failed={len(failures)} "
          f"error_rate={len(failures) / n:.4f} wall_s={wall_s:.2f} "
          f"cores={ncores} sf=0.01 setups_wall_s="
          + ",".join(f"{w:.2f}" for w, _ in setups) + " setups_cpu_s="
          + ",".join(f"{c:.2f}" for _, c in setups) + " "
          + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    for k, (v, u) in {**e2e, **wall}.items():
        print(f"metric {k} = {v:.4f} {u}")

    if tracer.enabled:
        total = ExecStats()
        for d in done:
            total.add(d.stats)
        metrics = {**wall, **layer_metrics(tracer, done, total, ncores)}
        metrics.update(wl.layer_metrics(done))
        for k, u in TABLE_METRICS.items():
            metrics.setdefault(k, (0.0, u))
        for k, (v, u) in metrics.items():
            print(f"layer {k} = {v:.4f} {u}")
    else:
        metrics = e2e
    return {"correct": not failures, "attempted": n,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def layer_metrics(tracer, done, total, ncores) -> dict:
    """Per-op means (layer ms, executor stats) plus run-wide counts and
    ratios. Spans give the Python-side layers; the status store gives
    the executor; QueryPlanningTracker gives Catalyst."""
    n = len(done)
    tot, self_ms = tracer.totals()
    wall_ms = sum(d.ms for d in done)
    per = lambda v: v / n  # noqa: E731
    return {
        "queries.build_ms": (per(tot["queries.build"]), "ms"),
        **{f"catalyst.{p}_ms": (per(tracer.counters[f"catalyst.{p}_ms"]), "ms")
           for p in ("analysis", "optimization", "planning")},
        "executor.jobs": (per(total.jobs), "count"),
        "executor.stages": (per(total.stages), "count"),
        "executor.stages_skipped": (float(total.stages_skipped), "count"),
        "executor.tasks": (per(total.tasks), "count"),
        "executor.run_ms": (per(total.run_ms), "ms"),
        "executor.cpu_ms": (per(total.cpu_ms), "ms"),
        "executor.gc_ms": (per(total.gc_ms), "ms"),
        "executor.scan_bytes": (per(total.scan_bytes), "bytes"),
        "executor.shuffle_write_bytes": (
            per(total.shuffle_write_bytes), "bytes"),
        "executor.shuffle_read_bytes": (
            per(total.shuffle_read_bytes), "bytes"),
        "executor.spill_bytes": (per(total.spill_bytes), "bytes"),
        "executor.task_skew": (
            statistics.mean(d.stats.task_skew for d in done), "ratio"),
        "executor.slot_busy_ratio": (
            total.run_ms / (wall_ms * ncores), "ratio"),
        "gateway.validate_ms": (per(tot["gateway.validate"]), "ms"),
        "gateway.rewrite_as_of_ms": (
            per(tot["gateway.rewrite_as_of"]), "ms"),
        "gateway.plan_ms": (per(self_ms["gateway.sql_run"]), "ms"),
        "gateway.preview_ms": (
            per(tracer.child_total("spark.action", "gateway.sql_run")), "ms"),
        "gateway.rejected": (tracer.counters["gateway.rejected"], "count"),
        "chain.nl_to_sql_ms": (per(tot["chain.nl_to_sql"]), "ms"),
        "chain.prompt_chars": (
            per(tracer.counters["chain.prompt_chars"]), "chars"),
        "chain.refines": (float(len([s for s in tracer.spans
                                     if s[0] == "chain.refine"])), "count"),
        "catalog.schema_docs_ms": (per(tot["catalog.schema_docs"]), "ms"),
        "catalog.schema_docs_builds": (
            float(len([s for s in tracer.spans
                       if s[0] == "catalog.schema_docs"])), "count"),
        "sources.write_ms": (per(tot["sources.write"]), "ms"),
        "sources.merge_ms": (per(tot["sources.merge"]), "ms"),
        "sources.compact_ms": (per(tot["sources.compact"]), "ms"),
        "sources.register_ms": (per(tot["sources.register"]), "ms"),
        "dq.sample_ms": (per(tot["dq.sample"]), "ms"),
        "dq.profile_ms": (per(tot["dq.profile"]), "ms"),
        "dq.rules_ms": (per(tot["dq.rules"]), "ms"),
        "service.self_ms": (per(self_ms["service.handler"]), "ms"),
        "driver.py_cpu_ms": (per(sum(d.py_cpu_ms for d in done)), "ms"),
        "driver.jvm_cpu_ms": (per(sum(d.jvm_cpu_ms for d in done)), "ms"),
        "driver.jit_cpu_ms": (per(sum(d.jit_cpu_ms for d in done)), "ms"),
        "workers.py_cpu_ms": (
            per(sum(d.worker_cpu_ms for d in done)), "ms"),
    }


if __name__ == "__main__":
    sys.exit(main())
