"""DATE/DECIMAL-typed twin derivation (the `sf_adv_dd` variant).

Round 8 validated the engine on a DATE/DECIMAL-typed orders/lineitem
variant of the adversarial twin (the LOCAL_ORACLE_ADV ledgers, key
``sf_adv_dd``) but the derivation script was never committed; this is it,
reconstructed so the variant is reproducible. It rewrites two tables of an
existing twin directory:

- ``orders``:   o_totalprice  DOUBLE → DECIMAL(15,2),
                o_orderdate   TIMESTAMP[µs] → DATE32
- ``lineitem``: l_quantity / l_extendedprice / l_discount / l_tax
                DOUBLE → DECIMAL(15,2),
                l_shipdate    TIMESTAMP[µs] → DATE32

Conversion policy (applies identically in both engines because it happens
in the FILE): doubles are rounded half-even to 2 dp before the decimal
cast (a DECIMAL(15,2) column can only hold 2 dp — the variant is its own
dataset, not a bit-identical recoding of the source twin); non-finite
doubles become NULL (no decimal NaN exists); timestamps floor to the day
(floor, not toward-zero: pre-1970 twin rows land on the earlier day, the
same policy as every other ns/µs→coarser conversion in the engine).
Every other table is copied through unchanged.

Usage: python tools/typed_twin.py [src_dir] [out_dir]
       (defaults: advdata/sf_adv → advdata/sf_adv_dd)
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000

DECIMAL_COLS = {
    "orders": ["o_totalprice"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
}
DATE_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def _to_decimal_15_2(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """DOUBLE → DECIMAL(15,2): non-finite → NULL, round half-even to 2 dp."""
    finite = pc.and_kleene(
        pc.is_valid(col), pc.is_finite(col)
    )  # is_finite(NaN/±Inf) = false
    cleaned = pc.if_else(finite, col, pa.scalar(None, type=pa.float64()))
    rounded = pc.round(cleaned, ndigits=2, round_mode="half_to_even")
    return pc.cast(rounded, pa.decimal128(15, 2))


def _to_date32(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """TIMESTAMP[µs] → DATE32 by FLOOR division to days (negative µs →
    the earlier day, matching the engine's floor-everywhere policy)."""
    us = pc.cast(col, pa.int64())
    days = pc.floor(pc.divide(pc.cast(us, pa.float64()), US_PER_DAY))
    # float64 is exact here: |µs| < 2^53 for every representable twin date
    return pc.cast(pc.cast(days, pa.int32()), pa.date32())


def convert_table(tbl: pa.Table, name: str) -> pa.Table:
    for c in DECIMAL_COLS.get(name, []):
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, _to_decimal_15_2(tbl.column(i)))
    for c in DATE_COLS.get(name, []):
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, _to_date32(tbl.column(i)))
    return tbl


def main(src="advdata/sf_adv", out="advdata/sf_adv_dd") -> int:
    os.makedirs(out, exist_ok=True)
    for fn in sorted(os.listdir(src)):
        if not fn.endswith(".parquet"):
            continue
        name = fn[: -len(".parquet")]
        src_path, out_path = os.path.join(src, fn), os.path.join(out, fn)
        if name in DECIMAL_COLS or name in DATE_COLS:
            tbl = convert_table(pq.read_table(src_path), name)
            pq.write_table(tbl, out_path)
            print(f"typed  {out_path}: {tbl.num_rows} rows")
        else:
            shutil.copyfile(src_path, out_path)
            print(f"copied {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:]))
