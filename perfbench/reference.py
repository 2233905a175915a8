"""Correctness references, computed outside the timed region.

DuckDB answers the registry oracles and the generated chat SQL over the
same parquet files the program reads. Results are compared the way the
registry's correctness gate compares them: columns by name, rows order-
insensitively, floats rounded to 6 places, timestamps as ISO strings.
Generated chat SQL carries a total order and is compared row by row
with a relative float tolerance instead (its sums are not rounded).
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def connect(sf_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive canonical rows (the registry gate's rule)."""
    df = df[sorted(df.columns)]
    rows = []
    for rec in df.itertuples(index=False):
        row = []
        for v in rec:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(f"{round(v, 6):.6f}")
            elif isinstance(v, pd.Timestamp):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return (math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                or (math.isnan(a) and math.isnan(b)))
    return a == b


def same_records(got: list[dict], want: list[dict]) -> str | None:
    """Ordered record lists equal up to float rounding error."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for g, w in zip(got, want):
        if list(g) != list(w):
            return f"columns {list(g)} vs {list(w)}"
        for k in g:
            gv, wv = g[k], w[k]
            gv = gv.item() if hasattr(gv, "item") else gv
            wv = wv.item() if hasattr(wv, "item") else wv
            if not _close(gv, wv):
                return f"{k}: {gv!r} vs {wv!r}"
    return None
