"""analytics_batch: the batch-job path.

The eleven headline registry queries run in passes, each pass in a
seed-shuffled order. Every op builds its plan fresh through the
registry function's ``__wrapped__`` (bypassing the registry's plan
memo), wraps that logical plan in a new Dataset (so no executed state
of an earlier frame is reachable), and collects the result. Checked
against DuckDB on the query's registry oracle.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame

import datagen
import reference
from harness import Done, Op

HEADLINE = [
    "flagship_revenue_by_nation", "multi_join_topk",
    "cohort_retention_weekly", "tpch_q1_pricing_summary",
    "window_rank_topk_per_group", "dq_profile_events_value",
    "text_quality_score", "dedup_minhash_lsh", "dedup_embedding_lsh",
    "ann_bruteforce_topk", "sessionization_gaps",
]


def fresh_frame(spark: SparkSession, df: DataFrame) -> DataFrame:
    """A new Dataset over ``df``'s logical plan: a fresh QueryExecution,
    so nothing executed through ``df`` can be reused."""
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(  # noqa: SLF001
        spark._jsparkSession, df._jdf.logicalPlan())  # noqa: SLF001
    return DataFrame(jds, spark)


def result_digest(pdf: pd.DataFrame) -> str:
    rows = reference.normalize(pdf)
    return hashlib.sha256(repr((sorted(pdf.columns), rows)).encode()
                          ).hexdigest()


class AnalyticsBatch:
    name = "analytics_batch"

    def __init__(self, seed: int, work: Path, tracer) -> None:
        self.seed = seed
        self.sf_dir = work / "warehouse"
        self.tracer = tracer
        self._order: list[str] = []
        self._pass = 0

    def prepare(self) -> str:
        tables = datagen.warehouse_tables(self.seed)
        datagen.write_tables(tables, self.sf_dir)
        return datagen.fingerprint(tables)

    def bootstrap(self, spark: SparkSession) -> None:
        from data_platform_copilot_spark.queries import QUERIES
        from data_platform_copilot_spark.sources import register_testdata
        register_testdata(spark, str(self.sf_dir))
        self.spark, self.queries = spark, QUERIES
        self._order, self._pass = [], 0

    def warmup_ops(self) -> list[Op]:
        return [self._op(name) for name in HEADLINE]

    def _op(self, name: str) -> Op:
        def run():
            with self.tracer.span("queries.build"):
                df = self.queries[name].__wrapped__(self.spark,
                                                    str(self.sf_dir))
            fresh = fresh_frame(self.spark, df)
            return fresh.columns, fresh.collect()
        return Op("query", name, run, same_shuffle=True)

    def next_op(self) -> Op:
        if not self._order:
            rng = np.random.default_rng([self.seed, 2, self._pass])
            self._order = list(rng.permutation(HEADLINE))
            self._pass += 1
        return self._op(self._order.pop())

    def at_boundary(self) -> bool:
        """Stop only between whole passes, so every run times each
        query equally often."""
        return not self._order

    @staticmethod
    def digest(done: Done) -> str:
        cols, rows = done.payload
        return result_digest(pd.DataFrame.from_records(
            [tuple(r) for r in rows], columns=cols))

    def verify(self, done: list[Done], digests: list[str | None]
               ) -> dict[int, str]:
        from data_platform_copilot_spark.queries import ORACLE
        con = reference.connect(self.sf_dir)
        want = {name: result_digest(con.execute(ORACLE[name]).fetchdf())
                for name in {d.op.key for d in done}}
        con.close()
        return {i: f"{d.op.key}: result differs from the DuckDB oracle"
                for i, (d, got) in enumerate(zip(done, digests))
                if got is not None and got != want[d.op.key]}

    def layer_metrics(self, done: list[Done]) -> dict[str, float]:
        return {}
