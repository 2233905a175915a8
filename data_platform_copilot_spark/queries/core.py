"""Query pack: every declared capability as (Spark callable, DuckDB oracle).

Each entry in ``QUERIES`` is ``name -> fn(spark, sf_dir) -> DataFrame``;
``ORACLE`` holds the equivalent ANSI SQL that DuckDB runs on the same
parquet tables. The driver hash-compares the two at sf0.01
(row-count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- float aggregates are rounded on both sides (absorbs summation-order
  ulp drift between engines);
- timestamp-valued outputs are formatted to strings (engine-neutral);
- no non-deterministic row *sets*: LIMIT only after a total order
  with a unique tiebreak, or when it exceeds the row count;
- integer sums in oracle SQL are cast back to BIGINT (DuckDB widens
  sum(BIGINT) to HUGEINT, which pandas would mangle);
- rounded floats that can land on zero get ``+ 0.0`` on BOTH sides:
  a mean/component rounding to zero keeps its IEEE sign bit and the
  engines disagree on -0.0 (bit twice: embedding_stats_by_dim,
  embedding_mean_pool — both only at sf0.1).

Spark-first notes are on each query: what Catalyst should do with it
(pushdown, broadcast, partial agg) and why the shape survives 100 TB.

Reference parity targets are cited as reference-file:line per
SURVEY.md §2.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# Value oracles that need a Python UDF registered on the DuckDB
# connection (register_oracle_udfs) and so CANNOT ship in ORACLE: the
# driver's harness runs plain SQL on a vanilla connection, and an
# oracle it cannot execute would turn the documented rows-only check
# into a spurious failure. The local harnesses (tests/conftest.py,
# tools/check_correctness.py) register the UDFs and value-verify
# these entries every run.
EXTRA_ORACLE: dict[str, str] = {}


def register_oracle_udfs(con) -> None:
    """Register the deterministic Python UDFs EXTRA_ORACLE entries
    rely on. Idempotent per connection (duplicate registration is a
    no-op error we swallow)."""
    import zlib

    def zlib_len(s: str) -> int | None:
        b = s.encode("utf-8")
        return len(zlib.compress(b, 6)) if b else None

    try:
        con.create_function("zlib_len", zlib_len,
                            ["VARCHAR"], "BIGINT")
    except Exception:
        pass  # already registered on this connection


def query(name: str, oracle: str | None = None,
          extra_oracle: str | None = None):
    """Register a query callable and (optionally) its DuckDB oracle.
    ``extra_oracle`` registers a UDF-dependent value oracle that only
    the local harnesses run (see EXTRA_ORACLE)."""
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # Every call builds a fresh plan (ARCHITECTURE.md, "Registry
        # builders are pure"). The pass-through keeps
        # ``QUERIES[name].__wrapped__`` naming the builder for callers
        # that read it (perfbench/analytics.py).
        QUERIES[name] = functools.wraps(fn)(
            lambda spark, sf_dir: fn(spark, sf_dir))
        if oracle is not None:
            ORACLE[name] = oracle
        if extra_oracle is not None:
            assert oracle is None, f"{name}: oracle XOR extra_oracle"
            EXTRA_ORACLE[name] = extra_oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# DuckDB-compatible rounding — canonical definition lives in
# functions/numeric.py (a leaf module) so operators can share it
# without importing the query pack; re-exported here because every
# query module spells it `from .core import rnd`.
from ..functions.numeric import rnd  # noqa: F401,E402


def epoch_s(c):
    """Seconds since epoch, robust to TIMESTAMP and TIMESTAMP_NTZ.

    Spark 4 forbids a direct TIMESTAMP_NTZ -> BIGINT cast, and the
    testdata parquet carries naive timestamps (read as NTZ). Casting
    through TIMESTAMP_LTZ first is a no-op for LTZ inputs and applies
    the session timezone (pinned to UTC in session.py) for NTZ, so
    both types yield the same wall-clock epoch the DuckDB oracle uses.
    """
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("timestamp_ltz").cast("long")


# ---------------------------------------------------------------------------
# Group 1 — the reference's promised SQL surface (SURVEY.md §2.B)
# ---------------------------------------------------------------------------

@query("flagship_revenue_by_nation", oracle="""
SELECT n_name AS nation,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY revenue DESC, nation
LIMIT 5
""")
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference few-shot revenue query (reference src/chain.py:20-25)
    rewritten over testdata: revenue by nation for one year, top 5.

    Plan shape at scale: orders filtered at the parquet scan (predicate
    pushdown on o_orderdate), shuffle join orders<->customer on custkey,
    broadcast join to the 25-row nation dim, partial agg before the
    final 25-group exchange, TakeOrderedAndProject for the top-k.
    """
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_custkey", "o_totalprice")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(rnd(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
        .limit(5)
    )


@query("projection_alias", oracle="""
SELECT c_custkey AS customer_id,
       c_name AS customer,
       round(c_acctbal, 2) AS balance
FROM customer
""")
def projection_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit column list + aliases (reference src/chain.py:12,20).
    Column pruning: the scan must read 3 of 5 customer columns only."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer"),
        rnd("c_acctbal", 2).alias("balance"),
    )


@query("filter_conjunctive", oracle="""
SELECT event_id, user_id, round(value, 2) AS value
FROM events
WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
  AND value > 50
  AND event_type = 'click'
""")
def filter_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-form conjunctive WHERE (reference src/dq.py:21-22,
    query.http:118,128). All three predicates push to the scan."""
    return (
        _t(spark, sf_dir, "events")
        .where((F.col("ts") >= "2024-01-03")
               & (F.col("value") > 50)
               & (F.col("event_type") == "click"))
        .select("event_id", "user_id", rnd("value", 2).alias("value"))
    )


@query("halfopen_ts_range", oracle="""
SELECT count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
""")
def halfopen_ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open timestamp range with string-literal comparison
    (reference src/chain.py:13,22; src/dbt_generator.py:36)."""
    return (
        _t(spark, sf_dir, "orders")
        .where((F.col("o_orderdate") >= "1996-01-01")
               & (F.col("o_orderdate") < "1997-01-01"))
        .agg(F.count("*").alias("n_orders"),
             rnd(F.sum("o_totalprice"), 2).alias("total"))
    )


@query("join_using", oracle="""
SELECT o_orderkey, c_name, round(o_totalprice, 2) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 450000
""")
def join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join over one key — the reference's USING(customer_id)
    join (reference src/chain.py:21, README.md:118). Selective filter
    on the fact side first, so the join input is small."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select("o_orderkey", "c_name", rnd("o_totalprice", 2).alias("total"))
    )


@query("multi_join_topk", oracle="""
SELECT c_custkey AS customer_id,
       c_name AS customer,
       CAST(count(*) AS BIGINT) AS items_bought
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
ORDER BY items_bought DESC, customer_id
LIMIT 15
""")
def multi_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Most frequently bought items ... top 15 customers'
    (reference query.http:76): chained equi-joins + count + top-k.

    Declared in the NATURAL form (join -> one custkey groupBy, no
    manual pre-aggregation, no broadcast hints) so Catalyst picks the
    physical strategy from stats: when orders fits the broadcast
    threshold both joins go BHJ and the only shuffle is the custkey
    combine (measured 0.45 -> 0.31 s at sf0.1 vs a hand pre-agg on
    orderkey, which pays an extra full shuffle that broadcast makes
    redundant); when orders outgrows broadcast, SMJ + map-side
    partial aggregation take over. A hand-written pre-agg is the one
    shape the optimizer cannot undo — don't bake it in."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey").agg(F.count("*").alias("items_bought"))
        .join(customer, F.col("o_custkey") == customer.c_custkey)
        .select(F.col("c_custkey").alias("customer_id"),
                F.col("c_name").alias("customer"),
                F.col("items_bought").cast("long").alias("items_bought"))
        .orderBy(F.desc("items_bought"), "customer_id")
        .limit(15)
    )


@query("groupby_ordinal", oracle="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY 1
""")
def groupby_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY <ordinal> (reference src/chain.py:23) through spark.sql —
    Spark supports positional grouping natively (groupByOrdinal)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1")


@query("topk_orderby_alias", oracle="""
SELECT c_mktsegment AS segment,
       round(sum(c_acctbal), 2) AS balance
FROM customer
GROUP BY 1
ORDER BY balance DESC, segment
LIMIT 3
""")
def topk_orderby_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY <alias> DESC + LIMIT k (reference src/chain.py:24-25):
    Spark plans this as TakeOrderedAndProject — no global sort."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(rnd(F.sum("c_acctbal"), 2).alias("balance"))
        .orderBy(F.desc("balance"), "segment")
        .limit(3)
    )


@query("limit_injection", oracle="""
SELECT r_regionkey, r_name FROM region LIMIT 200
""")
def limit_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gateway row-cap semantics (reference src/sql_runner.py:29-30):
    a bare SELECT gets capped at row_limit=200. region has 5 rows, so
    the capped result is deterministic."""
    from ..gateway import validate_sql
    _t(spark, sf_dir, "region").createOrReplaceTempView("region")
    sql = validate_sql("SELECT r_regionkey, r_name FROM region")
    return spark.sql(sql).limit(200)


@query("cohort_retention_weekly", oracle="""
WITH firsts AS (
    SELECT user_id, min(ts) AS first_ts
    FROM events
    GROUP BY user_id
), flags AS (
    SELECT f.user_id,
           strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
           max(CASE WHEN e.ts >= f.first_ts + INTERVAL 7 DAY THEN 1 ELSE 0 END)
               AS retained
    FROM firsts f
    JOIN events e ON e.user_id = f.user_id
    GROUP BY 1, 2
)
SELECT cohort_week,
       CAST(count(*) AS BIGINT) AS cohort_size,
       CAST(sum(retained) AS BIGINT) AS retained_7d
FROM flags
GROUP BY cohort_week
""")
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort 7-day retention (reference query.http:85).

    Spark-first: "retained within 7 days of first activity" needs only
    each user's min(ts) and max(ts) — retained == (max_ts >= first_ts
    + 7d) — so ONE groupBy(user_id) with map-side partial aggregation
    computes everything. No window pass: a window would shuffle every
    EVENT row; the agg shuffles one partial row per user per map task.
    At 100 TB that's the difference between moving the events table
    and moving the (much smaller) user dimension.
    """
    events = _t(spark, sf_dir, "events").select("user_id", "ts")
    spans = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("max_ts"))
    flags = spans.select(
        F.date_format(F.date_trunc("week", F.col("first_ts")),
                      "yyyy-MM-dd").alias("cohort_week"),
        (F.col("max_ts") >= F.col("first_ts") + F.expr("INTERVAL 7 DAYS"))
        .cast("int").alias("retained"))
    return flags.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size"),
        F.sum("retained").cast("long").alias("retained_7d"),
    )


@query("cohort_retention_matrix", oracle="""
WITH firsts AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_w
    FROM events GROUP BY user_id
), actives AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS active_w
    FROM events
), cells AS (
    SELECT f.cohort_w,
           date_diff('day', f.cohort_w, a.active_w) // 7 AS weeks_since,
           count(*) AS n_active
    FROM firsts f JOIN actives a USING (user_id)
    GROUP BY 1, 2
), sized AS (
    SELECT cohort_w, weeks_since, n_active,
           max(CASE WHEN weeks_since = 0 THEN n_active END)
               OVER (PARTITION BY cohort_w) AS cohort_size
    FROM cells
)
SELECT strftime(cohort_w, '%Y-%m-%d') AS cohort_week,
       CAST(weeks_since AS BIGINT) AS weeks_since,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       round(CAST(n_active AS DOUBLE) / cohort_size, 4) AS retention_rate
FROM sized
""")
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cohort retention triangle (cohort week x weeks-since
    grid with per-cell active counts and rates) — the standard
    product-analytics artifact the scalar 7-day entry summarizes.

    Shape: distinct (user, week) activity + per-user first week both
    key on user_id (shared partitioning), the join is user-keyed, and
    the grid combine outputs |cohorts x weeks| rows; cohort size
    comes from the weeks_since=0 cell via a window over the tiny
    grid, not a second pass over events."""
    from pyspark.sql import Window as W
    events = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_w"))
    actives = (events
               .select("user_id",
                       F.date_trunc("week", F.col("ts")).alias("active_w"))
               .distinct())
    cells = (firsts.join(actives, "user_id")
             .select("cohort_w",
                     (F.datediff("active_w", "cohort_w") / 7)
                     .cast("long").alias("weeks_since"))
             .groupBy("cohort_w", "weeks_since")
             .agg(F.count("*").alias("n_active")))
    wc = W.partitionBy("cohort_w")
    sized = cells.withColumn(
        "cohort_size",
        F.max(F.when(F.col("weeks_since") == 0, F.col("n_active")))
        .over(wc))
    return sized.select(
        F.date_format("cohort_w", "yyyy-MM-dd").alias("cohort_week"),
        "weeks_since",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        rnd(F.col("n_active") / F.col("cohort_size"), 4)
        .alias("retention_rate"))
