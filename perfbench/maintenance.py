"""table_maintenance: writes beside reads on one versioned table.

The table (id, grp, amount, note, ts) is built from seed-generated
batches. A cycle makes four commits: ``write_version`` append,
``merge_version`` copy-on-write and merge-on-read in a seed-shuffled
order, then ``versioned_compact``. Each commit refreshes the service's
latest-view (``versioned_register``; ``dq_check`` reads through
``spark.table``) and is followed by a gateway read of the latest
version and a ``FOR VERSION AS OF`` read of a seed-chosen earlier
version. The cycle ends with a ``dq_check`` using all five rule types.

The reference is an in-memory model of the table at every version.
Amounts are multiples of 0.25, so every sum is exact in float64 and
the model's answers must match to the bit.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession

from harness import Done, Op

NAME = "ledger"
GROUPS = [f"g{i}" for i in range(8)]
SCHEMA = "id long, grp string, amount double, note string, ts timestamp"
INITIAL_ROWS = 4000
APPEND_ROWS = 400
MERGE_UPDATES, MERGE_INSERTS = 200, 100
RANGE_MAX = 20000.0
DQ_RULES = [
    {"type": "not_null", "column": "note"},
    {"type": "unique", "column": "id"},
    {"type": "range", "column": "amount", "min": 0.0, "max": RANGE_MAX},
    {"type": "freshness", "column": "ts", "max_age_hours": 24.0},
    {"type": "anomaly_zscore", "column": "amount", "sigma": 3.0},
]
_TS0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
_COMMITS = ("append", "merge_cow", "merge_mor", "compact")
_READ_SQL = ("SELECT grp, count(*) AS n, sum(amount) AS total, "
             "min(id) AS lo, max(id) AS hi FROM {src}{where} "
             "GROUP BY grp ORDER BY grp")


def _dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, files) stored under ``path``."""
    size = files = 0
    for p in path.rglob("*"):
        if p.is_file():
            size += p.stat().st_size
            files += 1
    return size, files


class Model:
    """The table's rows (id -> (grp, amount, note, ts_us)) and the
    per-group summary of every committed version."""

    def __init__(self) -> None:
        self.rows: dict[int, tuple] = {}
        self.versions: dict[int, list[dict]] = {}
        self.next_id = 0

    def apply(self, pdf: pd.DataFrame) -> None:
        for r in pdf.itertuples(index=False):
            self.rows[int(r.id)] = (r.grp, float(r.amount), r.note,
                                    int(r.ts.value // 1000))

    def summary(self, min_id: int = -1) -> list[dict]:
        acc: dict[str, list] = {}
        for i, (grp, amount, _, _) in self.rows.items():
            if i < min_id:
                continue
            a = acc.setdefault(grp, [0, 0.0, i, i])
            a[0] += 1
            a[1] += amount
            a[2] = min(a[2], i)
            a[3] = max(a[3], i)
        return [{"grp": g, "n": a[0], "total": a[1], "lo": a[2], "hi": a[3]}
                for g, a in sorted(acc.items())]

    def commit(self, upto: int, since: int) -> None:
        snap = self.summary()
        for v in range(since + 1, upto + 1):
            self.versions[v] = snap

    def dq_expected(self) -> dict[str, tuple[bool, dict]]:
        """(passed, details subset) per DQ rule, on the whole table."""
        amounts = np.array([r[1] for r in self.rows.values()])
        nulls = sum(r[2] is None for r in self.rows.values())
        out_of_range = int(((amounts < 0) | (amounts > RANGE_MAX)).sum())
        outliers = int((np.abs((amounts - amounts.mean()) / amounts.std())
                        > 3.0).sum())
        max_ts = pd.Timestamp(max(r[3] for r in self.rows.values()),
                              unit="us", tz="UTC")
        return {
            "not_null(note)": (nulls == 0, {"nulls": nulls}),
            "unique(id)": (True, {"duplicates": 0}),
            "range(amount)": (out_of_range == 0,
                              {"violations": out_of_range}),
            "freshness(ts)": (False, {"max_ts": max_ts.isoformat()}),
            "anomaly_zscore(amount)": (outliers == 0,
                                       {"outliers": outliers}),
        }


class TableMaintenance:
    name = "table_maintenance"

    def __init__(self, seed: int, work: Path, tracer) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self._setups = 0

    def prepare(self) -> str:
        """Inputs are generated on the fly from the seed; fingerprint
        the first batches of the stream."""
        rng = np.random.default_rng([self.seed, 5])
        h = hashlib.sha256()
        for start, n in ((0, INITIAL_ROWS), (INITIAL_ROWS, APPEND_ROWS)):
            h.update(pd.util.hash_pandas_object(
                self._batch(rng, start, n)).values.tobytes())
        return h.hexdigest()[:16]

    # -- batches --------------------------------------------------------
    @staticmethod
    def _batch(rng: np.random.Generator, first_id: int, n: int,
               ids: np.ndarray | None = None) -> pd.DataFrame:
        amount = rng.integers(0, 20000, n) * 0.25
        bad = rng.random(n)
        amount = np.where(bad < 0.02, -rng.integers(1, 400, n) * 0.25,
                          amount)
        amount = np.where(bad > 0.995, 50000 + rng.integers(0, 400, n) * 0.25,
                          amount)
        note_k = rng.integers(0, 1000, n)
        notes = [None if b < 0.03 else f"n{k}"
                 for b, k in zip(rng.random(n), note_k)]
        ts = _TS0 + rng.integers(0, 30 * 86_400_000_000, n)
        return pd.DataFrame({
            "id": ids if ids is not None
            else np.arange(first_id, first_id + n, dtype=np.int64),
            "grp": rng.choice(GROUPS, n),
            "amount": amount,
            "note": notes,
            "ts": pd.to_datetime(ts, unit="us"),
        })

    # -- set-up ---------------------------------------------------------
    def bootstrap(self, spark: SparkSession) -> None:
        from data_platform_copilot_spark.service import CopilotService
        from data_platform_copilot_spark.sources.versioned import (
            latest_version, write_version)
        from data_platform_copilot_spark.chain import StubProvider

        self._setups += 1
        self.spark = spark
        self.tdir = self.work / "tables" / f"{NAME}-{self._setups}"
        self.service = CopilotService(
            spark, StubProvider(), str(self.work / f"control-{self._setups}"))
        self.service.bootstrap()
        self.rng = np.random.default_rng([self.seed, 5])
        self.model = Model()
        pdf = self._batch(self.rng, 0, INITIAL_ROWS)
        write_version(spark.createDataFrame(pdf, SCHEMA), self.tdir,
                      mode="overwrite")
        self.model.apply(pdf)
        self.model.next_id = INITIAL_ROWS
        self.latest = latest_version(self.tdir)
        self.model.commit(self.latest, self.latest - 1)
        out = self.service.versioned_register(NAME, str(self.tdir))
        if "error" in out:
            raise RuntimeError(out["error"])
        self._queue: list[str] = []

    def warmup_ops(self):
        # lazily: each op is built after the previous one is checked,
        # so it sees the model's current ids and versions
        for kind in (*_COMMITS, "read_latest", "read_as_of", "dq_check"):
            yield self._op(kind)

    def next_op(self) -> Op:
        if not self._queue:
            for commit in self.rng.permutation(_COMMITS[:3]):
                self._queue += [str(commit), "read_latest", "read_as_of"]
            self._queue += ["compact", "read_latest", "read_as_of",
                            "dq_check"]
        return self._op(self._queue.pop(0))

    def at_boundary(self) -> bool:
        """Stop only between whole cycles (four commits, eight reads,
        one DQ check), so every run has the same op mix."""
        return not self._queue

    # -- ops ------------------------------------------------------------
    def _op(self, kind: str) -> Op:
        meta: dict = {"kind": kind}
        if kind in _COMMITS:
            run = self._commit_op(kind, meta)
        elif kind == "dq_check":
            def run():
                with self.tracer.span("service.handler"):
                    return self.service.dq_check(NAME, DQ_RULES,
                                                 sample_limit=200_000)
        else:
            if kind == "read_latest":
                lo = int(self.rng.integers(0, self.model.next_id))
                meta["min_id"] = lo
                sql = _READ_SQL.format(src=NAME, where=f" WHERE id >= {lo}")
            else:
                older = sorted(self.model.versions)[:-1] or [self.latest]
                v = int(older[int(self.rng.integers(len(older)))])
                meta["version"] = v
                sql = _READ_SQL.format(src=f"{NAME} FOR VERSION AS OF {v}",
                                       where="")

            def run():
                from data_platform_copilot_spark import gateway
                return gateway.sql_run(self.spark, sql)
        # no op repeats exactly (every commit changes the table), so the
        # guard checks skipped stages only
        return Op(kind, kind, run, same_scan=False, meta=meta)

    def _commit_op(self, kind: str, meta: dict):
        from data_platform_copilot_spark.sources import versioned

        if kind == "append":
            pdf = self._batch(self.rng, self.model.next_id, APPEND_ROWS)
        elif kind != "compact":
            ids = np.array(sorted(self.model.rows))
            upd = self.rng.choice(ids, MERGE_UPDATES, replace=False)
            new = np.arange(self.model.next_id,
                            self.model.next_id + MERGE_INSERTS)
            pdf = self._batch(self.rng, 0, MERGE_UPDATES + MERGE_INSERTS,
                              ids=np.concatenate([upd, new]).astype(np.int64))
        else:
            pdf = None
        meta["pdf"] = pdf
        meta["submitted"] = (0 if pdf is None else
                             pa.Table.from_pandas(pdf).nbytes)
        meta["before"] = _dir_bytes(self.tdir)

        def run():
            if kind == "compact":
                with self.tracer.span("sources.compact"):
                    out = self.service.versioned_compact(NAME, target_files=4)
                if "error" in out:
                    raise RuntimeError(out["error"])
                return out["version"]
            df = self.spark.createDataFrame(pdf, SCHEMA)
            if kind == "append":
                with self.tracer.span("sources.write"):
                    v = versioned.write_version(df, self.tdir, mode="append")
            else:
                with self.tracer.span("sources.merge"):
                    v = versioned.merge_version(
                        self.spark, self.tdir, df, key="id",
                        strategy="cow" if kind == "merge_cow" else "mor")
            with self.tracer.span("sources.register"):
                out = self.service.versioned_register(NAME, str(self.tdir))
            if "error" in out:
                raise RuntimeError(out["error"])
            return v
        return run

    # -- checks (outside the timed region) --------------------------------
    def digest(self, done: Done) -> str | None:
        """Advance the model past a commit, or compare a read / DQ
        result with it. Returns a failure reason or None."""
        from data_platform_copilot_spark.sources.versioned import (
            latest_version)
        from reference import same_records

        meta, out = done.op.meta, done.payload
        if "before" in meta:
            pdf = meta.pop("pdf")
            if pdf is not None:
                self.model.apply(pdf)
                self.model.next_id = max(self.model.next_id,
                                         int(pdf["id"].max()) + 1)
            new_latest = latest_version(self.tdir)
            if not isinstance(out, int) or new_latest <= self.latest:
                return f"{meta['kind']}: no new version committed"
            self.model.commit(new_latest, self.latest)
            self.latest = new_latest
            after = _dir_bytes(self.tdir)
            meta["written"] = after[0] - meta["before"][0]
            meta["files"] = after[1] - meta.pop("before")[1]
            return None
        if meta["kind"] == "dq_check":
            return self._check_dq(out)
        if self.tracer.enabled:
            meta["read_files"] = len(out.df.inputFiles())
        want = (self.model.summary(meta["min_id"])
                if meta["kind"] == "read_latest"
                else self.model.versions[meta["version"]])
        why = same_records(out.preview, want)
        return f"{meta['kind']}: {why}" if why else None

    def _check_dq(self, out: dict) -> str | None:
        want = self.model.dq_expected()
        got = {r["rule"]: r for r in out["results"]}
        if sorted(got) != sorted(want):
            return f"dq_check: rules {sorted(got)}"
        for rule, (passed, details) in want.items():
            if got[rule]["passed"] != passed:
                return f"dq_check: {rule} passed={got[rule]['passed']}"
            for k, v in details.items():
                if got[rule]["details"].get(k) != v:
                    return (f"dq_check: {rule} {k}="
                            f"{got[rule]['details'].get(k)!r} want {v!r}")
        return None

    def verify(self, done: list[Done], digests: list) -> dict[int, str]:
        return {i: why for i, why in enumerate(digests) if why}

    def layer_metrics(self, done: list[Done]) -> dict[str, tuple]:
        n = len(done)
        commits = [d for d in done if d.op.kind in _COMMITS]
        reads = [d for d in done if "read_files" in d.op.meta]
        written = sum(d.op.meta.get("written", 0) for d in commits)
        submitted = sum(d.op.meta["submitted"] for d in commits)
        live = pa.Table.from_pandas(pd.DataFrame(
            [(i, *r) for i, r in self.model.rows.items()],
            columns=["id", "grp", "amount", "note", "ts_us"])).nbytes
        lat = sorted(d.ms for d in commits) or [0.0]
        return {
            "commit_p50_ms": (float(np.median(lat)), "ms"),
            "commit_max_ms": (lat[-1], "ms"),
            "write_amp": (written / submitted if submitted else 0.0,
                          "ratio"),
            "space_amp": (_dir_bytes(self.tdir)[0] / live, "ratio"),
            "sources.bytes_written": (written / n, "bytes"),
            "sources.files_written": (
                sum(d.op.meta.get("files", 0) for d in commits) / n, "count"),
            "sources.read_files": (
                sum(d.op.meta["read_files"] for d in reads) / n, "count"),
        }
