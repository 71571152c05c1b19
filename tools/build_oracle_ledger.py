"""Build the committed local-oracle ledger (LOCAL_ORACLE.json).

Runs the strict Spark-vs-DuckDB comparison (tools/check_oracle.py's
run_checks — rowcount + column set + exact canonical values, stricter than
any plausible hash) over EVERY ``queries()`` entry at each requested scale
factor, and writes one JSON ledger:

    {"generated_for": "r11",
     "sf0.01": {query: {status, rows, value_hash, detail}, ...},
     "sf0.1":  {...}}

The ledger is the committed evidence that the full query surface — not
just the 50 the external gate samples per round — hash-matches its oracle
at two scale factors. tests/test_oracle_ledger.py asserts the committed
ledger is complete and all-pass, and independently re-runs the full live
check at sf0.001 so a code change that breaks an oracle fails CI.

Usage: python tools/build_oracle_ledger.py [--pandas-views] [--out PATH] TAG [sf_dir ...]

``--pandas-views`` registers the DuckDB oracle over ``pandas.read_parquet``
frames instead of ``read_parquet`` views (see tools/check_oracle.py) —
the registration path the round-9 probe analysis infers for the external
driver's oracle. The adversarial-twin ledger runs BOTH modes: parquet
views pin raw-file semantics, pandas views pin the driver model
(int64-with-NULL → float64 drift, NaN/NULL collapse, ns-exact scanner).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent
sys.path.insert(0, str(TOOLS.parent))
sys.path.insert(0, str(TOOLS))

from check_oracle import run_checks  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    pandas_views = False
    out = None
    if args and args[0] == "--pandas-views":
        pandas_views = True
        args = args[1:]
    if args and args[0] == "--out":
        out = args[1]
        args = args[2:]
    tag = args[0] if args else "r3"
    sf_dirs = args[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]

    from sensordatapipelines_spark import get_spark

    spark = get_spark(shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    ledger: dict = {"generated_for": tag}
    if pandas_views:
        ledger["oracle_mode"] = "pandas-views"
    n_fail = 0
    for sf_dir in sf_dirs:
        key = os.path.basename(sf_dir.rstrip("/"))
        print(f"=== {key} ===", flush=True)
        results = run_checks(spark, sf_dir, verbose=True, pandas_views=pandas_views)
        ledger[key] = results
        n_fail += sum(1 for r in results.values() if r["status"] == "fail")
    out = out or str(TOOLS.parent / "LOCAL_ORACLE.json")
    with open(out, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    print(f"wrote {out}; {n_fail} failures total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
