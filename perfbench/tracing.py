"""In-memory spans for the traced benchmark run.

A span is (name, start, end, parent, op id). Spans are kept in a list
and written out as JSON lines when the run ends. Layer times come
from them: a span's self time is its duration minus the time its
direct children cover.

``install_layer_spans`` wraps the program's layer entry points (module
attributes the service, chain, gateway and dq code call through) so
that each call records a span. Only the traced run installs them; the
untraced run keeps ``NullTracer``, whose spans cost a no-op context.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import time
from collections import defaultdict
from pathlib import Path


class NullTracer:
    enabled = False
    op_id: int | None = None

    def span(self, name: str):
        return contextlib.nullcontext()

    def count(self, name: str, value: float = 1.0) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, op_id]
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[name] += value

    def reset(self) -> None:
        """Forget warm-up spans; only the measured region is reported."""
        self.spans.clear()
        self.counters.clear()

    def wrap(self, fn, name: str):
        if inspect.iscoroutinefunction(fn):
            @functools.wraps(fn)
            async def traced_async(*a, **k):
                with self.span(name):
                    return await fn(*a, **k)
            return traced_async

        @functools.wraps(fn)
        def traced(*a, **k):
            with self.span(name):
                return fn(*a, **k)
        return traced

    # -- analysis -------------------------------------------------------
    def totals(self) -> tuple[dict[str, float], dict[str, float]]:
        """(total ms, self ms) per span name."""
        child_ms = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child_ms[parent] += (t1 - t0) * 1e3
        total: dict[str, float] = defaultdict(float)
        self_ms: dict[str, float] = defaultdict(float)
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            if t1 is None:
                continue
            dur = (t1 - t0) * 1e3
            total[name] += dur
            self_ms[name] += dur - child_ms[i]
        return total, self_ms

    def child_total(self, name: str, parent_name: str) -> float:
        """ms spent in ``name`` spans whose direct parent is a
        ``parent_name`` span."""
        out = 0.0
        for n, t0, t1, parent, _ in self.spans:
            if (n == name and parent is not None and t1 is not None
                    and self.spans[parent][0] == parent_name):
                out += (t1 - t0) * 1e3
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for i, (name, t0, t1, parent, op) in enumerate(self.spans):
                fh.write(json.dumps({"id": i, "name": name, "start": t0,
                                     "end": t1, "parent": parent,
                                     "op": op}) + "\n")


def _patch(module, attr: str, tracer: Tracer, name: str,
           undo: list) -> None:
    fn = getattr(module, attr)
    undo.append((module, attr, fn))
    setattr(module, attr, tracer.wrap(fn, name))


@contextlib.contextmanager
def install_layer_spans(tracer: Tracer):
    """Wrap the program's layer boundaries with spans for the life of
    the context. Each target is the module attribute the caller looks
    up at call time, so the program itself is unchanged."""
    from pyspark.sql.classic.dataframe import DataFrame

    import data_platform_copilot_spark.chain.agent as agent
    import data_platform_copilot_spark.dq.runner as dq_runner
    import data_platform_copilot_spark.gateway as gateway
    import data_platform_copilot_spark.gateway.sql_runner as sql_runner
    import data_platform_copilot_spark.gateway.time_travel as time_travel
    import data_platform_copilot_spark.service as service

    from spark_stats import catalyst_phases

    undo: list = []
    # gateway: validate + AS OF rewrite are children of sql_run; its
    # self time is analysis plus EXPLAIN
    validate = sql_runner.validate_sql

    def counted_validate(sql):
        try:
            return validate(sql)
        except sql_runner.IncorrectQuestionError:
            tracer.count("gateway.rejected")
            raise
    undo.append((sql_runner, "validate_sql", validate))
    sql_runner.validate_sql = tracer.wrap(counted_validate,
                                          "gateway.validate")
    _patch(time_travel, "rewrite_as_of", tracer, "gateway.rewrite_as_of",
           undo)
    traced_run = tracer.wrap(sql_runner.sql_run, "gateway.sql_run")
    for mod in (sql_runner, gateway, service, agent):
        undo.append((mod, "sql_run", getattr(mod, "sql_run")))
        setattr(mod, "sql_run", traced_run)
    # chain + catalog
    for mod in (service, agent):
        _patch(mod, "nl_to_sql", tracer, "chain.nl_to_sql", undo)
    _patch(agent, "refine", tracer, "chain.refine", undo)
    _patch(service, "build_markdown", tracer, "catalog.schema_docs", undo)
    # dq: sample -> profile -> rules
    _patch(dq_runner, "fetch_table_sample", tracer, "dq.sample", undo)
    _patch(dq_runner, "profile_df", tracer, "dq.profile", undo)
    for rule in ("check_not_null", "check_unique", "check_range",
                 "check_freshness", "check_anomaly_zscore"):
        _patch(dq_runner, rule, tracer, "dq.rules", undo)

    # Spark actions: span + the Catalyst phases of the collected plan
    def action(fn):
        @functools.wraps(fn)
        def traced_action(self, *a, **k):
            with tracer.span("spark.action"):
                out = fn(self, *a, **k)
            for phase, ms in catalyst_phases(self._jdf).items():  # noqa: SLF001
                tracer.count(f"catalyst.{phase}_ms", ms)
            return out
        return traced_action

    for attr in ("collect", "toPandas"):
        undo.append((DataFrame, attr, getattr(DataFrame, attr)))
        setattr(DataFrame, attr, action(getattr(DataFrame, attr)))
    try:
        yield
    finally:
        for mod, attr, fn in reversed(undo):
            setattr(mod, attr, fn)
