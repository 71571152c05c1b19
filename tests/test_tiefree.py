"""Boundary-adversarial cross-engine quantization tests.

CORRECTNESS_r04 flagged ``docs_chi2_terms`` / ``events_mann_kendall`` as
driver hash-reds that no local rerun could reproduce; the one mechanism
consistent with the evidence was ROUND-on-double tie-breaking on rational
outputs. Both gates (and the wider rational-ratio family) now emit either
the UNROUNDED IEEE division of exact integers or FLOOR of the scaled
value — quantizations with no half-way case for engines to disagree on.

These tests construct data that lands EXACTLY on former tie points (e.g.
a 2×2 contingency whose χ²·1e6 is precisely k + 1/2) and assert Spark and
DuckDB agree at repr level — the same strictness as the driver's hash.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _repr_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    from tools.check_oracle import canon

    return canon(pdf)


def test_chi2_floor_is_tie_free_on_exact_halfway(spark):
    """17 docs / 2 classes engineered so token 'zap' has the contingency
    (a, b, c, d) = (9, 7, 0, 1): χ²·1e6 = 2390625/2 = 1195312.5 — an
    EXACT half-integer double (denominator is a power of two), the case
    where HALF_UP-vs-scaled-multiply rounding could split engines. FLOOR
    has no tie; both engines must emit bit-identical rows. 'pad' sits in
    every doc, covering the degenerate (c+d)=0 branch (χ² := 0)."""
    from sensordatapipelines_spark.operators.text import chi2_terms

    rows = []
    for i in range(9):  # class xx: 'zap' in all 9
        rows.append((i, "xx", "zap pad"))
    for i in range(7):  # class yy: 'zap' in 7 of 8
        rows.append((9 + i, "yy", "zap pad"))
    rows.append((16, "yy", "pad"))
    sdf = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = chi2_terms(sdf, class_col="lang", min_doc_freq=5, top_k=10)
    spark_pdf = got.toPandas()

    # χ²·1e6 must hit the engineered half-integer exactly: floor -> .5 gone
    zap = spark_pdf[spark_pdf["token"] == "zap"].iloc[0]
    assert zap["chi6"] == 1195312

    import __spark_entry__ as entry

    from tools.check_oracle import register_canonical

    con = duckdb.connect()
    register_canonical(
        con, "documents", pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    )
    oracle_pdf = con.sql(entry.oracle_sql()["docs_chi2_terms"]).df()
    cs, co = _repr_frame(spark_pdf), _repr_frame(oracle_pdf)
    assert cs.equals(co), f"spark:\n{cs}\nduck:\n{co}"


def test_mann_kendall_tau_bit_equal_duckdb(spark):
    """Constructed series (ties, strictly negative trend, mixed signs,
    and an m=17 group whose pair denominator 136 exercises a non-dyadic
    integer stats) must produce bit-identical (s_stat, n_pairs) in Spark
    and the DuckDB oracle replay — the gate output is all-integer now
    (tau = s_stat/n_pairs is left to consumers), so exact equality is
    the contract."""
    from sensordatapipelines_spark.operators.temporal import mann_kendall

    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = []
    # user 1: m=17, sawtooth with ties -> odd s over 136 pairs
    vals = [5.0, 3.0, 3.0, 7.0, 1.0, 9.0, 9.0, 2.0, 8.0, 4.0, 4.0, 6.0,
            0.5, 7.5, 2.5, 5.5, 5.0]
    for i, v in enumerate(vals):
        rows.append((1, t0 + timedelta(hours=i), v, i))
    # user 2: strictly decreasing, m=9 -> s = -36, tau = -1.0 exactly
    for i in range(9):
        rows.append((2, t0 + timedelta(hours=i), float(9 - i), 100 + i))
    # user 3: below min_points (m=3) -> filtered out
    for i in range(3):
        rows.append((3, t0 + timedelta(hours=i), float(i), 200 + i))
    sdf = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    )
    got = mann_kendall(
        sdf, "user_id", "ts", "value", "event_id", max_points=64, min_points=8
    ).toPandas()
    assert set(got["user_id"]) == {1, 2}
    u2 = got[got["user_id"] == 2].iloc[0]
    assert (u2["s_stat"], u2["n_pairs"]) == (-36, 36)

    import __spark_entry__ as entry

    from tools.check_oracle import register_canonical

    con = duckdb.connect()
    register_canonical(
        con,
        "events",
        pd.DataFrame(rows, columns=["user_id", "ts", "value", "event_id"]),
    )
    oracle_pdf = con.sql(entry.oracle_sql()["events_mann_kendall"]).df()
    cs, co = _repr_frame(got), _repr_frame(oracle_pdf)
    assert cs.equals(co), f"spark:\n{cs}\nduck:\n{co}"


def test_rational_ratio_family_bit_equal(spark):
    """The k/128-style rationals that ROUND(,6) could tie on (their
    7-digit decimal expansion ends in 5) now flow through unrounded:
    assert the exact-int division contract holds bit-level cross-engine
    for every former tie point."""
    from pyspark.sql import functions as F

    cases = [(1, 128), (3, 128), (99, 128), (1, 2_000_000), (7, 64),
             (-5, 128), (13, 136), (2, 3)]
    sdf = spark.createDataFrame(cases, "n long, d long").select(
        "n", "d", (F.col("n") / F.col("d")).alias("ratio")
    )
    got = {(r.n, r.d): r.ratio for r in sdf.collect()}
    con = duckdb.connect()
    for n, d in cases:
        (duck,) = con.execute(
            "SELECT CAST(? AS BIGINT) / CAST(? AS DOUBLE)", [n, d]
        ).fetchone()
        assert repr(got[(n, d)]) == repr(duck), (n, d)
