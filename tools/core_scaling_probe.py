"""Core-scaling probe at K-scaled data (r14 verdict #7).

The driver's 8-vs-32-core bench at sf0.1 proved nothing about
parallelism: every headline line is under 0.2 s there, so fixed
overhead (stage scheduling, the Python worker pool) dominates and the
core ratio reads ~1 regardless of plan quality. This probe re-makes
the core-scaling claim at K x sf0.1 (K id-shifted copies — the
skew_probe/scaling_probe recipe, uniform shape), where the heavy
entries run seconds and compute dominates.

Each (cores, K) cell runs in a FRESH subprocess (one Spark session
per master; local[8] vs local[32]), a codegen warm-in run, then
min-of-3 noop-sink runs, each on a freshly built plan.

Usage: python tools/core_scaling_probe.py [K] [entries...]
Writes one JSON line per (entry, cores) and a final ratio table.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

BASE = "/root/testdata/sf0.1"
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
ID_COLS = {
    "events": ["user_id", "event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
}

ENTRIES = [
    "dedup_embedding_lsh",
    "dedup_prefix_filter_pairs",
    "text_quality_score",
    "dedup_minhash_lsh",
    "dedup_winnowing_fingerprints",
]

_CELL = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from data_platform_copilot_spark.queries import QUERIES
from data_platform_copilot_spark.session import get_spark
spark = get_spark("core-scaling", master="local[{cores}]")
(spark.range(256)
 .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
 .mapInPandas(lambda it: it, "id long")
 .write.format("noop").mode("overwrite").save())
out = {{}}
for name in {names!r}:
    q = QUERIES[name]
    spark.sparkContext.setJobDescription("core-scaling:" + name)
    q(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        q(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    out[name] = round(min(runs), 3)
print("CELL " + json.dumps(out))
"""


def build(k: int, out: Path) -> None:
    """K id-shifted copies of every table (uniform, no whale)."""
    from pyspark.sql import functions as F

    from data_platform_copilot_spark.session import get_spark
    spark = get_spark("core-scaling-build")
    out.mkdir(parents=True, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        cols = [c for c in ID_COLS.get(t, []) if c in src.columns]
        if not cols or k == 1:
            src.write.mode("overwrite").parquet(str(out / f"{t}.parquet"))
            continue
        spans = {c: src.agg(F.max(c)).collect()[0][0] + 1 for c in cols}
        full = None
        for i in range(k):
            cp = src
            for c, span in spans.items():
                cp = cp.withColumn(c, F.col(c) + i * span)
            full = cp if full is None else full.unionByName(cp)
        full.write.mode("overwrite").parquet(str(out / f"{t}.parquet"))
    spark.stop()


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or ENTRIES
    fixture = Path(f"/tmp/spark_graft_scale_k{k}")
    if not all((fixture / f"{t}.parquet").exists() for t in TABLES):
        build(k, fixture)
    repo = str(Path(__file__).resolve().parents[1])
    results: dict[int, dict[str, float]] = {}
    for cores in (32, 8):
        code = _CELL.format(repo=repo, cores=cores,
                            sf_dir=str(fixture), names=names)
        proc = subprocess.run([sys.executable, "-c", code],
                              capture_output=True, text=True)
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("CELL ")]
        if not line:
            print(proc.stdout, proc.stderr, file=sys.stderr)
            raise SystemExit(f"cell cores={cores} failed")
        results[cores] = json.loads(line[0][5:])
        print(json.dumps({"k": k, "cores": cores, **results[cores]}),
              flush=True)
    for name in names:
        t8, t32 = results[8][name], results[32][name]
        print(json.dumps({"entry": name, "k": k, "t8": t8, "t32": t32,
                          "ratio_8_over_32": round(t8 / t32, 2)}),
              flush=True)


if __name__ == "__main__":
    main()
