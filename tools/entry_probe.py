"""Per-entry steady-state timing probe (bench methodology, arbitrary
registry subset): min-of-N collect() after a codegen warm-in run,
each on a freshly built plan, printed as one JSON object. Used for the r14
operator-by-operator before/after evidence on non-headline entries.

Usage: python tools/entry_probe.py OUT.json entry [entry ...]
Env:   SPARK_GRAFT_SF_DIR (default sf0.1), PROBE_RUNS (default 5)
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    out_path, names = sys.argv[1], sys.argv[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("PROBE_RUNS", "5"))
    from data_platform_copilot_spark.queries import QUERIES
    from data_platform_copilot_spark.session import get_spark
    spark = get_spark("entry-probe")
    (spark.range(256)
     .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())
    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"probe:{name}")
        QUERIES[name](spark, sf).collect()  # codegen/JIT warm-in
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf).collect()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        print(f"{name:42s} {timings[name]:.3f}", file=sys.stderr)
    Path(out_path).write_text(json.dumps(
        {"sf": sf, "runs": runs, "queries": timings,
         "total": round(sum(timings.values()), 3)}, indent=1))


if __name__ == "__main__":
    main()
