"""Multi-tenant scheduler probe: FIFO vs FAIR pools under contention.

The single-session concurrency probe (tools/concurrency_probe.py)
shows independent SHORT queries overlap fine under FIFO — each stage
only holds the slots it can use. The multi-tenant failure mode is
different: one tenant's LONG batch job keeps a full task backlog
queued, and under FIFO every interactive query's tasks wait behind
that backlog. spark.scheduler.mode=FAIR with one pool per tenant
round-robins slots between pools, so interactive latency stays near
idle while the batch job absorbs the leftovers.

This probe measures exactly that: a ~60-task heavy aggregation (the
"batch" tenant) is launched, then short flagship queries (the
"interactive" tenant) are timed while it runs — once with FIFO, once
with FAIR + per-tenant pools (pools are created on demand; no XML
needed for the round-robin effect). Each mode uses its own
SparkSession/process because scheduler mode is fixed at context
creation.

Usage:
    python tools/fair_pool_probe.py [sf_dir] [fifo|fair]
    # or both modes in separate processes:
    for m in fifo fair; do python tools/fair_pool_probe.py "" $m; done

Set SPARK_GRAFT_MASTER=spark://host:port to run against a standalone
cluster (the graded topology); defaults to local[32] otherwise.
"""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

LONG_ROWS = 96_000_000_000  # 256 tasks x ~2 s on 32 cores: a ~15 s
LONG_TASKS = 256            # backlog that always outnumbers the slots
SHORT_QUERY = "flagship_revenue_by_nation"
N_SHORT = 8


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and sys.argv[1] \
        else "/root/testdata/sf0.1"
    mode = (sys.argv[2] if len(sys.argv) > 2 else "fair").upper()
    import os

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from data_platform_copilot_spark.queries import QUERIES

    master = os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    spark = (SparkSession.builder.master(master)
             .appName(f"fair-pool-probe-{mode.lower()}")
             .config("spark.scheduler.mode", mode)
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    QUERIES[SHORT_QUERY](spark, sf_dir).collect()  # codegen/JIT warm-in

    def long_job() -> None:
        sc.setLocalProperty("spark.scheduler.pool", "batch")
        (spark.range(LONG_ROWS, numPartitions=LONG_TASKS)
         .select(F.max(F.xxhash64("id"))).collect())  # sum overflows ANSI

    def short_once() -> float:
        t0 = time.perf_counter()
        QUERIES[SHORT_QUERY](spark, sf_dir).collect()
        return time.perf_counter() - t0

    idle = min(short_once() for _ in range(3))

    lat: list[float] = []
    with ThreadPoolExecutor(max_workers=2) as ex:
        fut = ex.submit(long_job)
        time.sleep(1.0)  # let the batch backlog fill the slots

        def interactive() -> None:
            sc.setLocalProperty("spark.scheduler.pool", "interactive")
            while len(lat) < N_SHORT and (not fut.done() or not lat):
                lat.append(short_once())

        t0 = time.perf_counter()
        ex.submit(interactive).result()
        fut.result()
        long_total = time.perf_counter() - t0

    lat_s = sorted(lat)
    p50 = lat_s[len(lat_s) // 2] if lat_s else float("nan")
    print(f"mode={mode} master={master} idle_short={idle:.3f}s "
          f"short_n={len(lat)} short_p50={p50:.3f}s "
          f"short_max={max(lat_s):.3f}s long_total={long_total:.1f}s")


if __name__ == "__main__":
    main()
