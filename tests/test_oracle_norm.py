"""Oracle registration-mode invariance (__spark_entry__._normalize_oracle_sql).

The external driver registers the parquet tables into its DuckDB by an
unknown path — `read_parquet` views (raw file semantics) or registered
pandas frames (NaN/NULL collapse; int64-with-NULL → float64 drift). Every
oracle is rewritten to read each base table through a normalizing CTE so
the Spark-vs-oracle comparison is identical under both models. These tests
pin:

- the REWRITER mechanics (reference styles, WITH / WITH RECURSIVE merge,
  alias preservation, no-table passthrough);
- the rewrite PRECONDITION (no oracle uses table-qualified column refs);
- the READ contract (no gate's Spark side reads RAW parquet; the gates
  read through load_table/_register_views, as the normalized oracles do);
- END-TO-END invariance on a poison file: NaN measure + float-drifted id
  column produce identical oracle results under parquet views and pandas
  registration, matching Spark's normalized read;
- the ns→µs FLOOR that load_table applies to a TIMESTAMP(NANOS) events
  file, on pre- and post-1970 values with sub-µs residue.
"""

from __future__ import annotations

import inspect
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as em


# ---------------------------------------------------------------- rewriter

def test_bare_reference_rewritten():
    out = em._normalize_oracle_sql("SELECT COUNT(*) FROM events")
    assert "FROM __events_n" in out
    assert out.startswith("WITH __events_n AS (SELECT * REPLACE (")
    # CASE-insensitive keyword, exact table token
    out2 = em._normalize_oracle_sql("select value from events where value > 1")
    assert "from __events_n" in out2


def test_aliased_and_join_references():
    sql = "SELECT * FROM events e JOIN orders ON e.user_id = o_custkey"
    out = em._normalize_oracle_sql(sql)
    assert "FROM __events_n e" in out
    assert "JOIN __orders_n ON" in out
    assert "__events_n AS (" in out and "__orders_n AS (" in out


def test_with_merge_keeps_existing_ctes():
    sql = "WITH x AS (SELECT 1 AS a) SELECT a FROM x CROSS JOIN events"
    out = em._normalize_oracle_sql(sql)
    assert out.startswith("WITH __events_n AS (")
    assert ", x AS (SELECT 1 AS a)" in out
    assert "CROSS JOIN __events_n" in out


def test_with_recursive_merge():
    sql = (
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM r "
        "WHERE n < 3) SELECT n FROM r CROSS JOIN documents"
    )
    out = em._normalize_oracle_sql(sql)
    assert out.startswith("WITH RECURSIVE __documents_n AS (")
    # our CTE must come AFTER the RECURSIVE keyword, original CTEs kept
    assert ", r(n) AS (" in out


def test_comma_relation_reference_raises():
    with pytest.raises(ValueError, match="comma-form relation reference"):
        em._normalize_oracle_sql("SELECT a FROM x, events")


def test_output_alias_not_rewritten():
    # `AS nation` is an output alias, not a relation reference (q9 shape)
    sql = "SELECT n_name AS nation FROM nation"
    out = em._normalize_oracle_sql(sql)
    assert "AS nation" in out
    assert "FROM __nation_n" in out


def test_no_table_reference_passthrough():
    sql = "SELECT UNNEST(range(3)) AS i"
    assert em._normalize_oracle_sql(sql) == sql


def test_rewritten_sql_runs_on_duckdb():
    # balanced parens / valid syntax for a representative rewritten oracle
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT 1::BIGINT AS event_id, "
                "TIMESTAMP '2024-01-01' AS ts, 2::BIGINT AS user_id, "
                "'click' AS event_type, 1.5::DOUBLE AS value, NULL::VARCHAR AS props")
    out = em._normalize_oracle_sql("SELECT COUNT(*) AS n FROM events WHERE value > 1")
    assert con.sql(out).fetchall() == [(1,)]


# ---------------------------------------------------------- preconditions

def test_no_table_qualified_column_refs():
    """The rewriter only renames FROM/JOIN relation tokens; a qualified
    `events.col` reference would silently break. No oracle uses one."""
    pat = re.compile(r"\b(" + "|".join(em.TABLES) + r")\.")
    offenders = [n for n, s in em.oracle_sql().items() if pat.search(s)]
    assert offenders == []


def test_no_cte_shadowing_table_names():
    pat = re.compile(r"\b(" + "|".join(em.TABLES) + r")\s+AS\s*\(", re.I)
    offenders = [n for n, s in em.oracle_sql().items() if pat.search(s)]
    assert offenders == []


def test_normalized_oracles_reference_norm_ctes():
    """Outside the injected `__{t}_n AS (... FROM t)` definitions, a
    normalized oracle may not reference a base table directly: every raw
    `FROM t` must be accounted for by exactly one CTE definition."""
    o = em.oracle_sql()
    raw_ref = re.compile(r"\b(?:FROM|JOIN)\s+(" + "|".join(em.TABLES) + r")\b", re.I)
    for name, sql in o.items():
        raw = [m.group(1).lower() for m in raw_ref.finditer(sql)]
        defs = re.findall(r"__(\w+)_n AS \(SELECT \* REPLACE", sql)
        assert sorted(raw) == sorted(defs), (
            f"{name}: raw base-table references {raw} not fully explained "
            f"by normalized CTE definitions {defs}"
        )


# ------------------------------------------------------------ read contract

def test_gates_read_through_normalized_views():
    """Every oracle is normalized, so no gate's Spark side may bypass
    load_table's NaN≙NULL / ns→µs / integer-restore policies."""
    qs = em.queries()
    raw = 'read.parquet(f"{sf_dir}'
    assert [n for n, fn in qs.items() if raw in inspect.getsource(fn)] == []
    # spot-check: the driver-red analytics gates read the normalized views
    for name in ("events_mad_anomaly", "orders_total_mad", "docs_chi2_terms"):
        assert "_register_views" in inspect.getsource(qs[name])


# ------------------------------------------------- end-to-end invariance

@pytest.fixture(scope="module")
def poison_dir(tmp_path_factory):
    """A tiny `events` file carrying both divergence classes: NaN in the
    float measure and an int64 id column that a pandas read drifts to
    float64 (via NULLs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("poison")
    # plain arrow schema, NO pandas metadata: pandas.read_parquet of an
    # int64-with-NULL column without metadata drifts it to float64, which
    # is the driver model under test
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4, None], type=pa.int64()),
            "ts": pa.array(
                pd.to_datetime(
                    ["2024-01-01", "2024-01-02", "2024-01-03",
                     "2024-01-04", "2024-01-05"]
                ),
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array([10, 10, 20, None, 20], type=pa.int64()),
            "event_type": pa.array(["a", "b", "a", "b", "a"]),
            "value": pa.array([1.0, np.nan, 3.0, 4.0, np.nan], type=pa.float64()),
            "props": pa.array([None] * 5, type=pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"), store_schema=False)
    return str(d)


# ns since epoch, each with sub-µs residue: FLOOR and toward-zero
# division disagree on the two negative values only
NS_TS = [-1, -1001, 1999, 1_706_745_599_123_456_789]


@pytest.fixture(scope="module")
def ns_dir(tmp_path_factory):
    """A tiny `events` file whose ts is TIMESTAMP(NANOS), the physical
    type of the driver's events table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("ns_events")
    n = len(NS_TS)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), type=pa.int64()),
            "ts": pa.array(NS_TS, type=pa.timestamp("ns")),
            "user_id": pa.array([1] * n, type=pa.int64()),
            "event_type": pa.array(["a"] * n),
            "value": pa.array([1.0] * n, type=pa.float64()),
            "props": pa.array([None] * n, type=pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    return str(d)


ORACLE = """
    SELECT user_id, COUNT(*) AS n, COUNT(value) AS n_val,
           SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n_missing
    FROM events GROUP BY user_id ORDER BY user_id NULLS FIRST
"""


def _rows(con, sql):
    return con.sql(sql).fetchall()


def test_oracle_invariant_across_registration_modes(poison_dir):
    sql = em._normalize_oracle_sql(ORACLE)
    pq_con = duckdb.connect()
    pq_con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{poison_dir}/events.parquet')"
    )
    pd_con = duckdb.connect()
    pd_con.register("events", pd.read_parquet(f"{poison_dir}/events.parquet"))
    # the un-normalized oracle DIVERGES between the modes on this file
    # (parquet views keep NaN as a counted value; pandas merges it to NULL)
    assert _rows(pq_con, ORACLE) != _rows(pd_con, ORACLE)
    # the normalized oracle is identical under both registrations
    assert _rows(pq_con, sql) == _rows(pd_con, sql)
    # and the id column comes back BIGINT even on the drifted pandas read
    t = pd_con.sql(
        em._normalize_oracle_sql("SELECT typeof(user_id) AS t FROM events LIMIT 1")
    ).fetchall()
    assert t == [("BIGINT",)]


def test_spark_load_matches_normalized_oracle(poison_dir, spark):
    from sensordatapipelines_spark.tables import load_table

    df = load_table(spark, poison_dir, "events")
    got = {
        (r["user_id"], r["n"], r["n_val"], r["n_missing"])
        for r in df.groupBy("user_id")
        .agg(
            em.F.count(em.F.lit(1)).alias("n"),
            em.F.count("value").alias("n_val"),
            em.F.sum(
                em.F.when(em.F.col("value").isNull(), 1).otherwise(0)
            ).alias("n_missing"),
        )
        .collect()
    }
    # drifted ids restored to LONG on the Spark side as well
    assert dict(df.dtypes)["user_id"] == "bigint"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{poison_dir}/events.parquet')"
    )
    want = set(
        tuple(r) for r in con.sql(em._normalize_oracle_sql(ORACLE)).fetchall()
    )
    assert got == want


def test_spark_load_floors_ns_to_us(ns_dir, spark):
    from sensordatapipelines_spark.tables import load_table

    df = load_table(spark, ns_dir, "events")
    got = {
        r["event_id"]: r["us"]
        for r in df.select("event_id", em.F.unix_micros("ts").alias("us")).collect()
    }
    assert got == {i: ns // 1000 for i, ns in enumerate(NS_TS)}
