"""Untimed output checks.

An output is compared by an order-insensitive fingerprint: row count plus
``tools/check_oracle``'s canonical value hash, against DuckDB running the
matching gate's oracle SQL (``__spark_entry__.oracle_sql()``) over the same
seeded parquet inputs. Outputs with no oracle are checked against stated
invariants.
"""

from __future__ import annotations

import math
import os
import threading
import time

import duckdb
import pandas as pd

import __spark_entry__ as E
from check_oracle import canon, value_hash

# The gates read the raster from E.CELLS_SQL_DUCK; the benchmark's raster is
# seeded, so its oracle reads the same cells from the staged values, with
# the cell centres computed by the same expressions.
SEEDED_CELLS_SQL = (
    "SELECT band, px, py, CAST(px * 0.005 AS DOUBLE) AS x, "
    "CAST(py * 0.005 AS DOUBLE) AS y, value FROM bench_cells"
)


def fingerprint(df: pd.DataFrame) -> tuple[int, str]:
    return len(df), value_hash(canon(df))


class Oracle:
    """Expected fingerprints of a set of gates, computed by DuckDB in a
    background thread (they depend only on the staged inputs, so they run
    while Spark makes the outputs they are compared with)."""

    def __init__(self, data_dir: str, cells: pd.DataFrame, gates: list[str]):
        self._data_dir, self._cells, self._gates = data_dir, cells, gates
        self._want: dict[str, tuple[list[str], tuple[int, str]] | Exception] = {}
        self._thread = threading.Thread(target=self._compute, daemon=True)
        self._thread.start()

    def _compute(self) -> None:
        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            con.execute("SET threads = 2")
            for f in sorted(os.listdir(self._data_dir)):
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{self._data_dir}/{f}')"
                )
            con.register("bench_cells", self._cells)
            sqls = E.oracle_sql()
            for gate in self._gates:
                sql = sqls[gate]
                if E.CELLS_SQL_DUCK in sql:
                    sql = sql.replace(E.CELLS_SQL_DUCK, SEEDED_CELLS_SQL)
                try:
                    want = con.sql(sql).df()
                    self._want[gate] = (sorted(want.columns), fingerprint(want))
                except Exception as exc:  # reported as that gate's mismatch
                    self._want[gate] = exc
        finally:
            con.close()
            self.seconds = time.perf_counter() - t0

    def expected(self, gate: str):
        self._thread.join()
        return self._want[gate]


def check(oracle: Oracle, key: str, got: pd.DataFrame, facts: dict) -> str | None:
    """None when ``got`` is right, else what is wrong. ``key`` is a gate name
    or ``invariant:<name>``."""
    if key.startswith("invariant:"):
        return INVARIANTS[key.split(":", 1)[1]](got, facts)
    want = oracle.expected(key)
    if isinstance(want, Exception):
        return f"oracle failed: {want}"
    cols, (rows, digest) = want
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} != {cols}"
    g_rows, g_digest = fingerprint(got)
    if (g_rows, g_digest) != (rows, digest):
        return f"fingerprint rows/hash {g_rows}/{g_digest[:12]} != {rows}/{digest[:12]}"
    return None


def _kriging(got: pd.DataFrame, facts: dict) -> str | None:
    """Ordinary kriging on the 16 x 16 gate grid: one finite estimate per
    grid point; the weights sum to one, so no estimate leaves the data
    range by more than the range itself."""
    lo, hi = facts["val_range"]
    if len(got) != 256 or got[["gx", "gy"]].drop_duplicates().shape[0] != 256:
        return f"{len(got)} rows, expected one per point of the 16 x 16 grid"
    v = got["val_krig"]
    if v.isna().any() or not all(math.isfinite(x) for x in v):
        return "non-finite kriging estimate"
    span = hi - lo
    if v.min() < lo - span or v.max() > hi + span:
        return f"estimate range [{v.min()}, {v.max()}] far outside data [{lo}, {hi}]"
    if not lo <= v.mean() <= hi:
        return f"mean estimate {v.mean()} outside data range [{lo}, {hi}]"
    return None


INVARIANTS = {"kriging": _kriging}
