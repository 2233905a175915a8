"""Seeded benchmark inputs, generated with numpy/pyarrow only (no Spark).

``warehouse_tables(seed)`` builds the ten warehouse tables the query
registry reads (same names, columns and types as the sf0.01 testdata:
TPC-H-ish star schema plus events, documents and embeddings), and
``write_tables`` stores them as single-row-group parquet files. ``fingerprint`` hashes the generated
Arrow tables, so a run can show which inputs it measured.
"""

from __future__ import annotations

import hashlib
import io
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the sf0.01 shape (the scale the oracle gate runs at).
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}

_WORDS = ("a the key agg row scan slow fast table value part hash batch "
          "spark order data column join small line customer query big "
          "stream sort group window filter merge vector").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]

_US_PER_DAY = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = int(np.datetime64(base, "us").astype(np.int64))
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """The ten warehouse tables as Arrow tables, a pure function of seed."""
    rng = np.random.default_rng([seed, 1])
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]),
                                pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]),
                                pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, np_),
                                              rng.choice(_NOUN, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PTYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)})
    no = n["orders"]
    order_days = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts("1995-01-01", order_days * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIORITIES, no)})
    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts("1995-01-01", (order_days[l_order]
                                         + rng.integers(1, 122, nl))
                          * _US_PER_DAY)})
    ne = n["events"]
    gaps = rng.exponential(260.0, ne)  # seconds; ~30 days in total
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps * 1e6).astype(np.int64)),
        "user_id": rng.integers(0, 150, ne),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS,
                                             int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    nm = n["embeddings"]
    vecs = rng.standard_normal((nm, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nm, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nm), pa.int32())})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet",
                       row_group_size=max(1, table.num_rows))


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """sha256 over the Arrow IPC serialization of every table, by name."""
    h = hashlib.sha256()
    for name in sorted(tables):
        buf = io.BytesIO()
        with pa.ipc.new_stream(buf, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(buf.getvalue())
    return h.hexdigest()[:16]
