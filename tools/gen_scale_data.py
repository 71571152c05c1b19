"""Generate an sf1-scale dataset by consistent 10x replication of sf0.1.

VERDICT r9 #9: at sf0.1 the whole suite is latency-bound (8-core and
32-core totals within 1%), so local core-scaling cannot be demonstrated
there. This builds a 10x dataset that preserves every join relationship:

- fact/entity tables (events, documents, embeddings, orders, lineitem,
  customer, supplier, part) are replicated K times with id-key offsets of
  copy_i * stride per key FAMILY (custkey stride shared by customer.c_custkey
  and orders.o_custkey; orderkey stride by orders/lineitem; partkey/suppkey
  by part/supplier/lineitem), so every equi-join finds exactly the same
  matches per copy and copies never cross-join.
- nation/region (tiny dims keyed by nationkey/regionkey, referenced by every
  copy) are kept single — c_nationkey etc. are NOT offset.
- non-key columns (values, timestamps, text) are byte-identical per copy:
  per-entity workloads (per-user series, per-doc token streams, per-order
  baskets) keep their sf0.1 size; the dataset scales by entity COUNT, which
  is how production corpora grow.

Usage: python tools/gen_scale_data.py [src_dir] [dst_dir] [k]
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# key-family offsets: (table, column) -> stride name
KEY_FAMILIES = {
    ("customer", "c_custkey"): "custkey",
    ("orders", "o_custkey"): "custkey",
    ("orders", "o_orderkey"): "orderkey",
    ("lineitem", "l_orderkey"): "orderkey",
    ("part", "p_partkey"): "partkey",
    ("lineitem", "l_partkey"): "partkey",
    ("supplier", "s_suppkey"): "suppkey",
    ("lineitem", "l_suppkey"): "suppkey",
    ("events", "event_id"): "event_id",
    ("events", "user_id"): "user_id",
    ("documents", "doc_id"): "doc_id",
    ("embeddings", "vec_id"): "vec_id",
}

REPLICATED = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
SINGLE = ("region", "nation")


def offset_keys(col, offset: int):
    """Shift the non-null ids of a key column by ``offset``, NULLs kept.
    Raises ``pyarrow.ArrowInvalid`` when a shifted id overflows the
    column's type: a wrapped id would collide with another copy's."""
    return pc.add_checked(col, pa.scalar(offset, type=col.type))


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/sf1data"
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)

    tables = {t: pq.read_table(f"{src}/{t}.parquet") for t in REPLICATED + SINGLE}

    # one stride per key family: max over every column in the family, +1,
    # rounded up to a readable decimal so offsets are easy to reason about
    strides: dict[str, int] = {}
    for (t, c), fam in KEY_FAMILIES.items():
        col = tables[t][c]
        mx = pc.max(col).as_py()
        mx = 0 if mx is None else int(mx)
        strides[fam] = max(strides.get(fam, 0), mx + 1)
    for fam in strides:
        s = 1
        while s < strides[fam]:
            s *= 10
        strides[fam] = s
    print("strides:", strides)

    for t in SINGLE:
        pq.write_table(tables[t], f"{dst}/{t}.parquet")
        print(f"{t}: copied ({tables[t].num_rows} rows)")

    for t in REPLICATED:
        tbl = tables[t]
        key_cols = {c: strides[f] for (tt, c), f in KEY_FAMILIES.items() if tt == t}
        copies = []
        for i in range(k):
            if i == 0:
                copies.append(tbl)
                continue
            cols = []
            for name in tbl.column_names:
                col = tbl[name]
                if name in key_cols:
                    col = offset_keys(col, i * key_cols[name])
                cols.append(col)
            copies.append(pa.table(dict(zip(tbl.column_names, cols))))
        out = pa.concat_tables(copies)
        pq.write_table(out, f"{dst}/{t}.parquet")
        print(f"{t}: {tbl.num_rows} -> {out.num_rows} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
