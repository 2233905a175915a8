"""copilot_chat: the interactive NL->SQL path.

A seed-generated stream of requests goes to ``CopilotService.chat``
(70%), ``CopilotService.chat_agent`` (20%) and, for 10%, ``chat`` with
unsafe SQL the gateway must reject. The stream comes in rounds of ten,
and a run measures whole cycles of seven rounds, in which every
template goes through ``chat`` seven times and ``chat_agent`` twice,
so every run has the same mix. A ``StubProvider``
plays the LLM: for each request it returns the request's SQL, drawn
from parameterized templates (filters, joins, aggregates, top-k) over
the warehouse views. Each template returns at most 20 rows under a
total order and is written in the dialect Spark and DuckDB share, so
DuckDB answers the same SQL as the reference.
"""

from __future__ import annotations

import asyncio
from pathlib import Path

import numpy as np
from pyspark.sql import SparkSession

import datagen
import reference
from harness import Done, Op

_YEAR = ("{col} >= TIMESTAMP '{y}-01-01 00:00:00' "
         "AND {col} < TIMESTAMP '{y1}-01-01 00:00:00'")

TEMPLATES = {
    "orders_topk": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE " + _YEAR.format(col="o_orderdate", y="{y}", y1="{y1}")
        + " AND o_orderstatus = '{status}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}"),
    "revenue_by_nation": (
        "SELECT n_name AS nation, count(*) AS n_orders, "
        "sum(o_totalprice) AS revenue FROM orders "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE " + _YEAR.format(col="o_orderdate", y="{y}", y1="{y1}")
        + " GROUP BY n_name ORDER BY revenue DESC, nation LIMIT {k}"),
    "parts_by_quantity": (
        "SELECT l_partkey, count(*) AS n_lines, sum(l_quantity) AS qty "
        "FROM lineitem WHERE "
        + _YEAR.format(col="l_shipdate", y="{y}", y1="{y1}")
        + " GROUP BY l_partkey ORDER BY qty DESC, l_partkey LIMIT {k}"),
    "events_by_type": (
        "SELECT event_type, count(*) AS n, sum(value) AS total_value "
        "FROM events WHERE user_id BETWEEN {lo} AND {hi} "
        "GROUP BY event_type ORDER BY event_type"),
    "brand_gross": (
        "SELECT p_brand, count(*) AS n_lines, "
        "sum(l_extendedprice) AS gross FROM lineitem "
        "JOIN part ON l_partkey = p_partkey "
        "WHERE p_size BETWEEN {lo} AND {hi} "
        "GROUP BY p_brand ORDER BY gross DESC, p_brand LIMIT {k}"),
    "suppliers_in_region": (
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE n_regionkey = {region} "
        "ORDER BY s_acctbal DESC, s_suppkey LIMIT {k}"),
    "segment_balances": (
        "SELECT c_mktsegment AS segment, count(*) AS customers, "
        "avg(c_acctbal) AS avg_balance FROM customer "
        "WHERE c_nationkey < {nations} "
        "GROUP BY c_mktsegment ORDER BY segment"),
}

WARMUP_ROUNDS = 5
# rounds per measured cycle: the agent requests of a cycle cover every
# template twice
CYCLE = len(TEMPLATES)

UNSAFE = [
    "DROP TABLE orders",
    "DELETE FROM orders WHERE o_orderkey = {k}",
    "SELECT * FROM orders; DROP TABLE orders",
    "INSERT INTO orders SELECT * FROM orders",
    "SELECT o_orderkey /* {k} */ FROM orders",
    "UPDATE customer SET c_acctbal = 0 WHERE c_custkey = {k}",
]


def make_request(rng: np.random.Generator, i: int, kind: str,
                 name: str | None = None) -> dict:
    """One request: question and SQL for a chat / agent / unsafe kind."""
    k = int(rng.integers(3, 21))
    if kind == "unsafe":
        sql = UNSAFE[int(rng.integers(len(UNSAFE)))].format(k=k)
        return {"kind": kind, "template": "unsafe", "sql": sql,
                "question": f"[req {i}] please clean up the orders table"}
    name = name or list(TEMPLATES)[int(rng.integers(len(TEMPLATES)))]
    y = int(rng.integers(1995, 2001))
    lo = int(rng.integers(0, 120))
    size_lo = int(rng.integers(1, 40))
    sql = TEMPLATES[name].format(
        y=y, y1=y + 1, k=k, status=str(rng.choice(["F", "O", "P"])),
        lo=lo if name == "events_by_type" else size_lo,
        hi=lo + 30 if name == "events_by_type" else size_lo + 10,
        region=int(rng.integers(0, 5)), nations=int(rng.integers(5, 26)))
    return {"kind": kind, "template": name, "sql": sql,
            "question": f"[req {i}] {name.replace('_', ' ')} ({y}, top {k})"}


def make_round(rng: np.random.Generator, first: int, r: int) -> list[dict]:
    """Round ``r``: ten requests in seed-shuffled order, every template
    once through ``chat``, templates ``2r`` and ``2r + 1`` (mod 7)
    through ``chat_agent``, and one unsafe statement."""
    names = list(TEMPLATES)
    kinds = ([("chat", name) for name in names]
             + [("agent", names[(2 * r + j) % len(names)]) for j in (0, 1)]
             + [("unsafe", None)])
    order = rng.permutation(len(kinds))
    return [make_request(rng, first + j, *kinds[o])
            for j, o in enumerate(order)]


class CopilotChat:
    name = "copilot_chat"

    def __init__(self, seed: int, work: Path, tracer) -> None:
        self.seed = seed
        self.work = work
        self.sf_dir = work / "warehouse"
        self.tracer = tracer
        self._setups = 0
        self.loop: asyncio.AbstractEventLoop | None = None

    def prepare(self) -> str:
        tables = datagen.warehouse_tables(self.seed)
        datagen.write_tables(tables, self.sf_dir)
        return datagen.fingerprint(tables)

    def bootstrap(self, spark: SparkSession) -> None:
        from data_platform_copilot_spark.chain import StubProvider
        from data_platform_copilot_spark.service import CopilotService
        from data_platform_copilot_spark.sources import register_testdata

        self._setups += 1
        self.provider = StubProvider()
        complete = self.provider.complete
        tracer = self.tracer

        async def counted_complete(system: str, user: str) -> str:
            tracer.count("chain.prompt_chars", len(system) + len(user))
            return await complete(system, user)
        self.provider.complete = counted_complete

        register_testdata(spark, str(self.sf_dir))
        self.service = CopilotService(
            spark, self.provider, str(self.work / f"control-{self._setups}"))
        self.service.bootstrap()
        if self.loop is not None:
            self.loop.close()
        self.loop = asyncio.new_event_loop()
        self._rng = np.random.default_rng([self.seed, 3])
        self._i = self._rounds = 0
        self._round: list[dict] = []

    def warmup_ops(self) -> list[Op]:
        # rounds from their own parameter stream: every template, the
        # agent path and a rejected statement. The driver-side JIT
        # keeps speeding chat up for about this many requests.
        rng = np.random.default_rng([self.seed, 4])
        return [self._op(r) for k in range(WARMUP_ROUNDS)
                for r in make_round(rng, -100 * (k + 1), k)]

    def _op(self, req: dict) -> Op:
        def run():
            self.provider.canned = {req["question"].split("]")[0] + "]":
                                    f"```sql\n{req['sql']}\n```"}
            handler = (self.service.chat_agent if req["kind"] == "agent"
                       else self.service.chat)
            with self.tracer.span("service.handler"):
                return self.loop.run_until_complete(
                    handler(req["question"]))
        # scans depend on the template only (single-row-group inputs:
        # no row-group pruning), so the guard keys on it
        return Op(req["kind"], req["template"], run, meta=req)

    def next_op(self) -> Op:
        if not self._round:
            self._round = make_round(self._rng, self._i, self._rounds)
            self._i += len(self._round)
            self._rounds += 1
        return self._op(self._round.pop(0))

    def at_boundary(self) -> bool:
        return not self._round and self._rounds % CYCLE == 0

    @staticmethod
    def digest(done: Done):
        out = done.payload
        return {"status": out.get("status"), "rows": out.get("rows")}

    def verify(self, done: list[Done], digests: list) -> dict[int, str]:
        con = reference.connect(self.sf_dir)
        bad = {}
        for i, (d, got) in enumerate(zip(done, digests)):
            if got is None:
                continue
            req = d.op.meta
            if req["kind"] == "unsafe":
                if got["status"] != 400:
                    bad[i] = "unsafe statement was not rejected"
                continue
            if got["status"] is not None:
                bad[i] = f"safe statement rejected ({got['status']})"
                continue
            want = con.execute(req["sql"]).fetchdf().to_dict("records")
            why = reference.same_records(got["rows"], want)
            if why:
                bad[i] = f"{req['template']}: {why}"
        con.close()
        return bad

    def layer_metrics(self, done: list[Done]) -> dict[str, float]:
        return {}
