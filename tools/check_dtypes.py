"""Driver-hash insurance: compare pandas dtype KINDS of every Spark query
result vs its DuckDB oracle result.

The driver's value hash is format-sensitive: a column that is int64 on one
side and float64 on the other (e.g. DuckDB SUM(BIGINT) -> HUGEINT -> float64)
hashes differently even when the values are numerically equal — the exact
r01 ``hash_match=false`` artifact. ``check_oracle.py`` canonicalizes values
and so misses this class; this scan flags it directly.

Usage: python tools/check_dtypes.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path


def kind(dtype) -> str:
    k = dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "ts"
    return "obj"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import duckdb

    import __spark_entry__ as entrymod
    from sensordatapipelines_spark import get_spark

    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_flag = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"ERR  {name}: {exc}")
            n_flag += 1
            continue
        skinds = {c: kind(sdf[c].dtype) for c in sdf.columns}
        okinds = {c: kind(odf[c].dtype) for c in odf.columns}
        diffs = {
            c: (skinds.get(c), okinds.get(c))
            for c in set(skinds) | set(okinds)
            if skinds.get(c) != okinds.get(c)
        }
        # object-vs-anything on an all-null column is benign; everything
        # else is a potential driver-hash mismatch.
        if diffs:
            print(f"FLAG {name}: {diffs}")
            n_flag += 1
    print(f"{n_flag} dtype-kind mismatches")
    return 1 if n_flag else 0


if __name__ == "__main__":
    raise SystemExit(main())
