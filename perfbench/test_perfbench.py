"""Tests for the benchmark's own machinery: seeded inputs, span self
times and the reuse guard.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import datagen  # noqa: E402
from harness import Op, ReuseGuard  # noqa: E402


def test_same_seed_same_fingerprint():
    assert (datagen.fingerprint(datagen.warehouse_tables(7))
            == datagen.fingerprint(datagen.warehouse_tables(7)))


def test_different_seed_different_fingerprint():
    assert (datagen.fingerprint(datagen.warehouse_tables(7))
            != datagen.fingerprint(datagen.warehouse_tables(8)))


def test_table_batches_follow_the_seed(tmp_path):
    from maintenance import TableMaintenance
    from tracing import NullTracer

    def fp(seed):
        return TableMaintenance(seed, tmp_path, NullTracer()).prepare()
    assert fp(3) == fp(3) != fp(4)


def test_self_time_subtracts_children():
    from tracing import Tracer
    t = Tracer()
    with t.span("handler"):
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    t.spans[0][1:3] = [0.0, 1.0]
    t.spans[1][1:3] = [0.1, 0.3]
    t.spans[2][1:3] = [0.5, 0.6]
    total, self_ms = t.totals()
    assert total["handler"] == pytest.approx(1000.0)
    assert self_ms["handler"] == pytest.approx(700.0)
    assert total["child"] == pytest.approx(300.0)


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    sf = tmp_path_factory.mktemp("warehouse")
    datagen.write_tables(datagen.warehouse_tables(1), sf)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from data_platform_copilot_spark.session import get_spark
    spark = get_spark("perfbench-test")
    yield spark, str(sf)
    spark.stop()


def _stats(spark, frame):
    from spark_stats import StatusReader
    reader = StatusReader(spark)
    j0 = reader.next_job_id()
    frame().collect()
    return reader.collect(j0, reader.next_job_id())


@pytest.mark.parametrize("name", ["multi_join_topk", "dedup_minhash_lsh",
                                  "sessionization_gaps"])
def test_guard_fires_on_memoized_registry_frames(warehouse, name):
    """The registry memoizes each query's DataFrame; collecting it
    again reuses the first run's shuffle output or checkpoint blocks."""
    from data_platform_copilot_spark.queries import QUERIES
    spark, sf = warehouse
    op, guard = Op("query", name, None, same_shuffle=True), ReuseGuard()
    guard.record(op, _stats(spark, lambda: QUERIES[name](spark, sf)))
    again = _stats(spark, lambda: QUERIES[name](spark, sf))
    assert guard.violation(op, again) is not None


def test_guard_fires_on_wrapped_builder_with_view_memo(warehouse):
    """``__wrapped__`` skips the registry memo but not ``warm_view``,
    which hands dedup_embedding_lsh an already-executed frame."""
    from data_platform_copilot_spark.queries import QUERIES
    spark, sf = warehouse
    name = "dedup_embedding_lsh"
    op, guard = Op("query", name, None, same_shuffle=True), ReuseGuard()
    build = QUERIES[name].__wrapped__
    guard.record(op, _stats(spark, lambda: build(spark, sf)))
    assert guard.violation(op, _stats(spark, lambda: build(spark, sf)))


@pytest.mark.parametrize("name", ["multi_join_topk", "dedup_minhash_lsh",
                                  "dedup_embedding_lsh"])
def test_fresh_plans_pass_the_guard(warehouse, name):
    from analytics import fresh_frame
    from data_platform_copilot_spark.queries import QUERIES
    spark, sf = warehouse
    build = QUERIES[name].__wrapped__
    op, guard = Op("query", name, None, same_shuffle=True), ReuseGuard()
    for _ in range(2):  # warm-up, then one checked run
        stats = _stats(spark, lambda: fresh_frame(spark, build(spark, sf)))
        assert stats.scan_bytes > 0
        if op.key in guard.baseline:
            assert guard.violation(op, stats) is None
        guard.record(op, stats)


def test_process_clock_reads_another_process():
    """The per-process CPU clock sees a child's CPU time, and only
    time it ran: a sleep adds nothing."""
    import subprocess
    from spark_stats import CpuClock
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time\n"
         "while time.process_time() < 0.3: pass\n"
         "print('spun', flush=True)\n"
         "sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "spun"
        first = CpuClock._read(child.pid)  # noqa: SLF001
        time.sleep(0.3)
        assert 300.0 <= first < 3000.0
        assert CpuClock._read(child.pid) - first < 50.0  # noqa: SLF001
    finally:
        child.stdin.close()
        child.wait()


def test_cpu_clock_splits_the_spark_process_tree(warehouse):
    from spark_stats import CpuClock
    spark, _ = warehouse
    clock = CpuClock(spark)
    before = clock.now()
    spark.range(200_000).selectExpr("sum(id * 3)").collect()
    after = clock.now()
    py, jvm, jit, workers = (b - a for a, b in zip(before, after))
    assert jvm > 0.0
    assert py >= 0.0 and jit >= 0.0 and workers >= 0.0
