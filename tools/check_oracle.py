"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf directory, then compares row count, column-name set and
(order-insensitively) the values — exact string equality after canonical
formatting, which is stricter than any plausible driver hash.

Usage:
    python tools/check_oracle.py [sf_dir] [query ...]
    python tools/check_oracle.py --json OUT.json sf_dir [query ...]

``run_checks`` is importable (used by tests/test_oracle_ledger.py and by the
ledger builder tools/build_oracle_ledger.py) and returns a dict of per-query
records: ``{"status": "pass|fail|rows_only", "rows": N, "value_hash": hex,
"detail": str|None}``.  The value hash is sha256 over the canonicalized
cell values, so two runs that pass must also agree on the hash.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# The checkout this file lives in: its __spark_entry__ is the one checked.
REPO = Path(__file__).resolve().parents[1]


def canon(df: pd.DataFrame, strict_float: bool = True) -> pd.DataFrame:
    """Canonicalize for comparison. ``strict_float=True`` (the default)
    formats floats at repr level (shortest round-trip — bit-exact), so
    ULP-level cross-engine divergence can never pass locally and then
    fail at the driver's tighter hash. Pass ``strict_float=False`` for
    the legacy 9-significant-digit comparison.

    Since r10 integral doubles are NOT collapsed to ints: the external
    driver hashes pandas-converted frames, where an int64 123 and a
    float64 123.0 stringify differently — the old collapse existed to
    paper over DuckDB widening SUM(BIGINT) to HUGEINT (→ float64 in
    pandas), which hid exactly the dtype-class divergence that kept 16
    gates driver-red for four rounds. The oracles now cast those columns
    back to BIGINT (``__spark_entry__._ORACLE_BIGINT_COLS``), and any
    future int-vs-float dtype asymmetry must FAIL here, as it does at
    the driver."""
    df = df.reindex(sorted(df.columns), axis=1)

    # float() first: numpy scalar repr is version-dependent (numpy 2 prints
    # "np.float64(1.5)"); builtin-float repr is the stable shortest form.
    fmt = (lambda v: repr(float(v))) if strict_float else (lambda v: f"{v:.9g}")
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            out[c] = s.map(lambda v: "null" if pd.isna(v) else fmt(v))
        elif s.dtype.kind in "iu":
            out[c] = s.map(lambda v: str(int(v)))
        else:
            out[c] = s.map(lambda v: "null" if v is None or (isinstance(v, float) and np.isnan(v)) else str(v))
    c = pd.DataFrame(out)
    return c.sort_values(by=list(c.columns), kind="mergesort").reset_index(drop=True)


def value_hash(cdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update(("|".join(cdf.columns)).encode())
    for row in cdf.itertuples(index=False, name=None):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


def register_canonical(con: duckdb.DuckDBPyConnection, name: str, frame) -> None:
    """Register a (possibly narrow) synthetic test frame under a canonical
    driver-table name. Every oracle reads its base tables through the
    schema-normalizing CTE (``__spark_entry__._oracle_norm_cte``), whose
    ``SELECT * REPLACE`` binds the canonical integer/float columns by
    name — so a narrow frame that omits one of them fails to bind even
    when the query itself never touches it. Pad each omitted
    normalization column with a typed all-NULL column (the driver's real
    tables always carry the full schema, so this changes nothing about
    what the oracle computes)."""
    import __spark_entry__ as entry
    from sensordatapipelines_spark.tables import INT_COLS

    if isinstance(frame, pd.DataFrame):
        frame = frame.copy()
        for c in INT_COLS.get(name, ()):
            if c not in frame.columns:
                frame[c] = pd.Series([pd.NA] * len(frame), dtype="Int64")
        for c in entry._ORACLE_NORM_FLOAT.get(name, ()):
            if c not in frame.columns:
                frame[c] = pd.Series([None] * len(frame), dtype="float64")
    con.register(name, frame)


def _connect_duck(
    sf_dir: str, tables, pandas_views: bool = False
) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per driver table.

    ``pandas_views=True`` registers ``pandas.read_parquet`` frames
    instead of ``read_parquet`` views — reproducing the registration
    path the r9 probe analysis infers for the external driver's oracle:
    pandas collapses NaN into the missing class, int64-with-NULL
    columns drift to float64, and datetime64[ns] rides through the
    pandas scanner instead of the parquet reader. Running the ledger in
    this mode locally reproduces driver-side read divergences that the
    parquet-view mode structurally cannot show."""
    con = duckdb.connect()
    for t in tables:
        if pandas_views:
            frame = pd.read_parquet(f"{sf_dir}/{t}.parquet")
            con.register(t, frame)
        else:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    return con


def run_checks(
    spark, sf_dir: str, names=None, verbose: bool = True, pandas_views: bool = False
) -> dict:
    """Run the strict Spark-vs-DuckDB comparison; return per-query records."""
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entrymod

    con = _connect_duck(sf_dir, entrymod.TABLES, pandas_views=pandas_views)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for name, fn in qs.items():
        if names and name not in names:
            continue
        rec: dict = {"status": "pass", "rows": None, "value_hash": None, "detail": None}
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            rec.update(status="fail", detail=f"spark error: {exc}")
            results[name] = rec
            if verbose:
                print(f"FAIL {name}: spark error: {exc}")
            continue
        rec["rows"] = len(sdf)
        # The engine materializes only through localCheckpoint(), whose
        # blocks go with the frame; a CacheManager entry outlives every
        # frame and pins storage for the rest of the session.
        if not cache_manager.isEmpty():
            rec.update(
                status="fail", detail="cache leak: CacheManager non-empty after the gate"
            )
            results[name] = rec
            if verbose:
                print(f"FAIL {name}: cache leak")
            continue
        if name not in oracles:
            rec["status"] = "rows_only"
            rec["value_hash"] = value_hash(canon(sdf))
            results[name] = rec
            if verbose:
                print(f"ok?  {name}: rows-only ({len(sdf)} rows, no oracle)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            rec.update(status="fail", detail=f"duckdb error: {exc}")
            results[name] = rec
            if verbose:
                print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duck={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(odf.columns)}")
        if not problems:
            cs, co = canon(sdf), canon(odf)
            # 0-row frames: rowcount+columns already matched; DataFrame.equals
            # would compare residual dtypes of empty columns, a non-difference
            if len(cs) == 0 and len(co) == 0:
                rec["value_hash"] = value_hash(cs)
            elif not cs.equals(co):
                neq = (cs != co).any(axis=1)
                idx = list(cs.index[neq])[:3]
                detail = [
                    f"row {i}: spark={cs.loc[i].to_dict()} duck={co.loc[i].to_dict()}"
                    for i in idx
                ]
                problems.append(f"{int(neq.sum())} mismatched rows; " + " | ".join(detail))
            else:
                rec["value_hash"] = value_hash(cs)
        if problems:
            rec.update(status="fail", detail="; ".join(problems))
            if verbose:
                print(f"FAIL {name}: " + "; ".join(problems))
        elif verbose:
            print(f"PASS {name} ({len(sdf)} rows)")
        results[name] = rec
    con.close()
    return results


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    pandas_views = False
    if args and args[0] == "--pandas-views":
        pandas_views = True
        args = args[1:]
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    sys.path.insert(0, str(REPO))
    from sensordatapipelines_spark import get_spark

    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    results = run_checks(spark, sf_dir, names=only or None, pandas_views=pandas_views)
    failures = [n for n, r in results.items() if r["status"] == "fail"]
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1, sort_keys=True)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
