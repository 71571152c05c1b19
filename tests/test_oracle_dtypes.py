"""Oracle output-dtype invariants (the r10 fix for the 4-round hash reds).

The external driver hashes pandas-converted result frames. pandas has no
int128, so a DuckDB HUGEINT output column (SUM over BIGINT) lands as
float64 and stringifies as "123.0" against Spark's int64 "123" — rows,
schema and values all match, the hash does not. The r10 audit proved the
mapping exactly: every driver-sampled gate whose oracle returned HUGEINT
was hash-red; every gate whose only dtype difference was integer width
(INTEGER/BIGINT/UINTEGER) was green.

These tests bind every oracle's result types in DuckDB (metadata only, no
execution of Spark) and assert the HUGEINT class never reappears.
"""

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry
from tools.check_oracle import _connect_duck

SF = "/root/testdata/sf0.001"

# Integer-128 classes pandas cannot represent: they silently become
# float64 in the driver's conversion and break the value hash.
_FORBIDDEN = {"HUGEINT", "UHUGEINT"}


@pytest.fixture(scope="module")
def oracle_types():
    con = _connect_duck(SF, entry.TABLES)
    out = {}
    for name, sql in entry.oracle_sql().items():
        rel = con.sql(sql)
        out[name] = dict(zip(rel.columns, (str(t) for t in rel.types)))
    con.close()
    return out


def test_no_oracle_returns_hugeint(oracle_types):
    bad = {
        name: {c: t for c, t in cols.items() if t in _FORBIDDEN}
        for name, cols in oracle_types.items()
    }
    bad = {n: c for n, c in bad.items() if c}
    assert not bad, (
        "oracle output columns with pandas-unrepresentable int128 types "
        f"(driver hash-red class): {bad} — cast them to BIGINT via "
        "__spark_entry__._ORACLE_BIGINT_COLS"
    )


def test_bigint_cast_table_matches_oracles():
    """Every _ORACLE_BIGINT_COLS entry references a real oracle column —
    a renamed query or column must update the cast table, not silently
    stop casting."""
    con = _connect_duck(SF, entry.TABLES)
    oracles = entry.oracle_sql()
    for name, cols in entry._ORACLE_BIGINT_COLS.items():
        assert name in oracles, f"_ORACLE_BIGINT_COLS names unknown oracle {name}"
        rel = con.sql(oracles[name])
        have = dict(zip(rel.columns, (str(t) for t in rel.types)))
        for c in cols:
            assert c in have, f"{name}: cast column {c} missing from oracle output"
            assert have[c] == "BIGINT", f"{name}.{c}: expected BIGINT, got {have[c]}"
    con.close()
