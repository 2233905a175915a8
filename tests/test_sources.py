"""Source-layer invariants (sources/registry.py).

The load-bearing one: no table the registry hands out may expose a
TIMESTAMP_NTZ column. Spark 4 reads parquet naive timestamps as NTZ,
a type that unix_millis(), withWatermark() and epoch casts all
reject — rounds 3 and 4 each re-paid that bug one call site at a
time. The registry now normalizes NTZ -> session-TZ TIMESTAMP once
at load (registry._normalize_ntz); this test pins the invariant for
every warehouse table so the bug class cannot resurface downstream.
"""
from __future__ import annotations

from pyspark.sql import types as T

from data_platform_copilot_spark.sources.registry import (
    TESTDATA_TABLES, load_table)


def test_no_registered_table_exposes_ntz(spark, sf_dir):
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        ntz = [f.name for f in df.schema.fields
               if isinstance(f.dataType, T.TimestampNTZType)]
        assert not ntz, f"{name} exposes TIMESTAMP_NTZ columns: {ntz}"


def test_events_ts_is_session_tz_timestamp(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_streaming_source_dtype_matches_batch(spark, sf_dir):
    from data_platform_copilot_spark.streaming.events import (
        streaming_events_source)
    stream = streaming_events_source(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_registry_requery_sees_rewritten_input(spark, tmp_path):
    """A registry call after its input file was rewritten must answer
    from the new file, never from a plan (or its shuffle output) built
    on the old one."""
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from data_platform_copilot_spark.queries import ORACLE, QUERIES
    from tests.conftest import SF_DIR, TABLES, normalize_rows

    for t in TABLES:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    name, sf = "flagship_revenue_by_nation", str(tmp_path)
    before = QUERIES[name](spark, sf).toPandas()

    orders = pq.read_table(tmp_path / "orders.parquet")
    pq.write_table(orders.slice(0, orders.num_rows // 2),
                   tmp_path / "orders.parquet")
    after = QUERIES[name](spark, sf).toPandas()

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM '{tmp_path}/{t}.parquet'")
        expected = con.execute(ORACLE[name]).fetchdf()
    finally:
        con.close()
    assert normalize_rows(after) == normalize_rows(expected)
    assert normalize_rows(after) != normalize_rows(before)
