"""Row-level / utility operators (reference U2/U7, README extras).

- ``dedup_keep_first`` ≙ ``drop_index_duplicates``
  (``/root/reference/src/data_preprocessing.py:643-647``): dedup by key,
  keep-first. Spark has no row order, so "first" is made explicit and
  deterministic via an ordering column.
- ``equal_width_binning`` ≙ the README's ``pd.cut`` binning/legend example
  (``/root/reference/README.md:248-261``). Bin rule: ``n`` equal-width bins
  over [min, max]; bin ``i`` is left-closed/right-open except the last, which
  includes the max (SQL ``width_bucket`` convention; pandas ``pd.cut`` is
  right-closed — divergence documented, same bin count and widths).
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from sensordatapipelines_spark.registry import register


_NUMERIC_KEY_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double"}
)

_unpersist_warned = False


def unpersist_checkpoint(df: DataFrame) -> None:
    """Release a SUPERSEDED ``localCheckpoint``'s storage blocks now.

    Iterative loops (connected_components, kcore, bfs_depths, BPE) replace
    their per-round checkpoint each iteration; the dead rounds' blocks
    otherwise linger until the driver GC notices the JVM references died
    (py4j proxies keep them alive until Python GC + a cleaner round trip),
    which at sweep scale left minutes of dead MEMORY_AND_DISK blocks
    contending with live queries (guide §5 — unpersist when done; VERDICT
    r9 #6). Only call this on a frame that (a) is the direct result of
    ``localCheckpoint()`` and (b) no downstream plan will read again —
    local checkpoints are non-recomputable, so an early release of a LIVE
    checkpoint would fail the consumer, not slow it.

    Best-effort: the checkpointed RDD is reached through the analyzed
    ``LogicalRDD``; any internals drift degrades to the old GC-cadence
    behavior instead of breaking the operator, with one warning per
    process (``tests/test_materialization.py`` pins the path itself)."""
    global _unpersist_warned
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as exc:
        if not _unpersist_warned:
            _unpersist_warned = True
            warnings.warn(
                "unpersist_checkpoint cannot reach the checkpointed RDD "
                f"({type(exc).__name__}); superseded checkpoints now wait "
                "for driver GC",
                RuntimeWarning,
                stacklevel=2,
            )


def observe_cap(
    df: DataFrame, observation: Observation | None, over: Column, total: str, dropped: str
) -> DataFrame:
    """``df`` with a skew cap's counters on ``observation``: ``total`` rows
    and the ``dropped`` ones where ``over`` holds (0 on an empty frame).

    The caller eagerly checkpoints what it filters from the result:
    adaptive execution drops an observed node with the plan above it when
    a stage there comes out empty (no pairs, no hot key, empty input), and
    ``Observation.get`` then fails; at the root of a job it always reports."""
    if observation is None:
        return df
    return df.observe(
        observation,
        F.count(F.lit(1)).alias(total),
        F.coalesce(F.sum(over.cast("long")), F.lit(0)).alias(dropped),
    )


def canon_key_str(df: DataFrame, key_col: str):
    """Physical-type-drift-proof string rendering of a key column for
    hash/membership purposes (md5 sampling, sketch hashing).

    An integral id column that drifts to DOUBLE in one engine's read
    path (the classic pandas int64-with-NULLs round-trip) renders
    '123.0' there and '123' where it stayed BIGINT — which permutes
    every MD5 membership rank and every sketch register even though the
    VALUES are identical. Numeric keys therefore render through BIGINT
    first (Spark's cast truncates, DuckDB's rounds — identical on
    integral ids), so both engines emit '123' whatever the physical
    type; non-numeric keys render as-is. Oracle mirror:
    ``CAST(CAST(x AS BIGINT) AS VARCHAR)``. On already-BIGINT local
    data the extra cast is a no-op (every committed ledger hash is
    unchanged)."""
    c = F.col(key_col)
    dt = dict(df.dtypes).get(key_col, "")
    if dt in _NUMERIC_KEY_TYPES or dt.startswith("decimal"):
        return c.cast("long").cast("string")
    return c.cast("string")


def spread_by(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition by ``key`` before CPU-heavy per-row work.

    Small inputs often arrive as ONE parquet split (single file, single row
    group), which would serialize downstream expression evaluation
    (shingling, hashing, regex) onto one core. A key-hash exchange of the
    narrow input costs one cheap shuffle and buys full-cluster parallelism
    for the expensive map stage. At real scale the input is already split,
    and the exchange additionally co-locates rows for any later per-key agg.

    The partition count is pinned to ``defaultParallelism`` explicitly:
    an un-numbered ``repartition(col)`` is advisory, and AQE coalesces the
    byte-small exchange straight back to one partition — CPU-bound work is
    not byte-bound, so the coalesce would undo the whole point (measured:
    the minhash signature ran 5× slower under the coalesced plan).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(key))


@register("gini_concentration")
def gini_concentration(
    df: "DataFrame",
    key_col: str,
    entity_col: str,
) -> "DataFrame":
    """Gini concentration of activity across entities per key →
    ``(key, n_entities, total, gini_num, gini_den)`` with
    G = gini_num / gini_den = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the
    ascending-sorted per-entity counts — the standard inequality index
    (0 = uniform traffic, →1 = one entity dominates): the skew-health
    screen for traffic, contributor and sales concentration.

    All-integer: counts are exact, ranks come from one keyed window with
    (count, entity) tiebreak, and both Gini terms stay BIGINT (n·Σx ≤
    rows² — int64-safe through ~3e9 rows per key). Two keyed aggregates
    + one window over the ENTITY table (never raw rows)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per = (
        df.select(F.col(key_col).alias("__k"), F.col(entity_col).alias("__e"))
        .groupBy("__k", "__e")
        .agg(F.count(F.lit(1)).alias("__x"))
    )
    w = Window.partitionBy("__k").orderBy(F.col("__x").asc_nulls_last(), F.col("__e").asc_nulls_last())
    ranked = per.withColumn("__i", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("__k").alias(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_entities"),
            F.sum("__x").alias("total"),
            (
                F.lit(2) * F.sum(F.col("__i") * F.col("__x"))
                - (F.count(F.lit(1)) + 1) * F.sum("__x")
            ).alias("gini_num"),
            (F.count(F.lit(1)) * F.sum("__x")).alias("gini_den"),
        )
    )


@register("weighted_median")
def weighted_median(
    df: "DataFrame",
    key_col: str,
    value_col: str,
    weight_col: str,
    tiebreak_col: str,
) -> "DataFrame":
    """Weighted (lower) median per key → ``(key, total_weight,
    wmedian_e2)``: the smallest value whose cumulative weight reaches
    half the key's total — the size-aware center (e.g. price per unit
    weighted by quantity) a plain median mis-states when weights skew.

    Determinism: weights are exact integers; the selection rule
    ``2·cumw ≥ totw`` is pure integer comparison on a cumulative-sum
    window ordered by (value_e2, tiebreak), and the value itself is
    carried as the exact e2 BIGINT. One keyed window + one aggregate
    (min over qualifying rows) — no sort beyond the keyed window's."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # Robust e2 quantizer: NULL/NaN → NULL, extremes clamp to ±1e10 (e2
    # BIGINT ≤ 1e12, every cumulative sum overflow-free); integer weights
    # via FLOOR (explicit — Spark CAST truncates while DuckDB CAST
    # rounds, so neither engine's bare cast may appear). Both mirrored
    # verbatim in the oracle.
    vc = F.col(value_col).cast("double")
    v2 = F.when(vc.isNull() | F.isnan(vc), F.lit(None).cast("long")).otherwise(
        F.round(
            F.least(F.greatest(vc, F.lit(-1e10)), F.lit(1e10)) * F.lit(100.0)
        ).cast("long")
    )
    wc = F.col(weight_col).cast("double")
    wgt = F.when(wc.isNull() | F.isnan(wc), F.lit(None).cast("long")).otherwise(
        F.floor(wc).cast("long")
    )
    base = df.select(
        F.col(key_col).alias("__k"),
        v2.alias("__v2"),
        wgt.alias("__w"),
        F.col(tiebreak_col).alias("__tb"),
    ).filter(F.col("__v2").isNotNull() & F.col("__w").isNotNull())
    w = (
        Window.partitionBy("__k")
        .orderBy(F.asc_nulls_last(F.col("__v2")), F.asc_nulls_last(F.col("__tb")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("__k")
    cum = base.withColumn("__cumw", F.sum("__w").over(w)).withColumn(
        "__totw", F.sum("__w").over(tot)
    )
    return (
        cum.filter(F.col("__cumw") * 2 >= F.col("__totw"))
        .groupBy(F.col("__k").alias(key_col))
        .agg(
            F.min(F.col("__totw")).alias("total_weight"),
            F.min("__v2").alias("wmedian_e2"),
        )
    )


@register("peak_count")
def peak_count(
    df: "DataFrame",
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> "DataFrame":
    """Strict local-extrema profile per key → ``(key, n_points,
    n_peaks, n_troughs)``: a point is a peak iff strictly greater than
    BOTH neighbors in the series' (floor-epoch, tiebreak) order (trough
    symmetric) — the cheapest oscillation/noise signal for telemetry.
    Comparisons happen on exact e6 BIGINTs; endpoints are neither. One
    keyed window (lag + lead), one aggregate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    v6 = F.round(F.col(value_col).cast("double") * F.lit(1e6)).cast("long")
    t = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    base = df.select(
        F.col(key_col).alias("__k"),
        t.alias("__t"),
        F.col(tiebreak_col).alias("__tb"),
        v6.alias("__v6"),
    ).filter(
        F.col("__v6").isNotNull()
        & F.col("__t").isNotNull()
        & F.col("__tb").isNotNull()
    )
    w = Window.partitionBy("__k").orderBy(F.asc_nulls_last(F.col("__t")), F.asc_nulls_last(F.col("__tb")))
    lagv = F.lag("__v6").over(w)
    leadv = F.lead("__v6").over(w)
    marked = base.select(
        "__k",
        F.when(
            lagv.isNotNull() & leadv.isNotNull()
            & (F.col("__v6") > lagv) & (F.col("__v6") > leadv),
            1,
        ).otherwise(0).alias("__peak"),
        F.when(
            lagv.isNotNull() & leadv.isNotNull()
            & (F.col("__v6") < lagv) & (F.col("__v6") < leadv),
            1,
        ).otherwise(0).alias("__trough"),
    )
    return marked.groupBy(F.col("__k").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("__peak").alias("n_peaks"),
        F.sum("__trough").alias("n_troughs"),
    )


@register("log2_histogram")
def log2_histogram(
    df: "DataFrame",
    key_col: str,
    value_col: str,
) -> "DataFrame":
    """Log-scale (power-of-two) value histogram per key →
    ``(key, bucket, n)`` where bucket k holds e6-quantized values in
    [2^k, 2^(k+1)) and bucket −1 holds non-positive values — the
    constant-size distribution summary for heavy-tailed telemetry
    (latencies, sizes) that an equal-width histogram wastes.

    Determinism: the bucket is ``length(bin(v_e6)) − 1`` — the bit
    length of an exact BIGINT via the binary-string builtin both engines
    share — so no logarithm is evaluated anywhere. One hash aggregate,
    map-side combined; output is keys × ~60 rows max."""
    from pyspark.sql import functions as F

    v6 = F.round(F.col(value_col).cast("double") * F.lit(1e6)).cast("long")
    bucket = F.when(v6 <= 0, F.lit(-1)).otherwise(
        F.length(F.bin(v6)) - F.lit(1)
    )
    return (
        df.select(F.col(key_col), bucket.cast("long").alias("bucket"))
        .groupBy(key_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("sql_filter")
def sql_filter(df: DataFrame, predicate: str) -> DataFrame:
    """Row filter by SQL predicate text — the JSON-plan-friendly filter
    primitive. The predicate string goes straight to Catalyst, so pushdown
    and pruning apply exactly as for a native ``filter`` call."""
    return df.filter(predicate)


@register("dedup_keep_first")
def dedup_keep_first(
    df: DataFrame, subset: Sequence[str], order_col: str | None = None
) -> DataFrame:
    """U2: one row per ``subset`` key. With ``order_col`` the kept row is the
    one with the smallest ``order_col`` (deterministic "first"); without it,
    Spark's ``dropDuplicates`` keeps an arbitrary row (documented)."""
    if order_col is None:
        return df.dropDuplicates(list(subset))
    w = Window.partitionBy(*subset).orderBy(F.asc_nulls_last(F.col(order_col)))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@register("equal_width_binning")
def equal_width_binning(
    df: DataFrame,
    col: str,
    n_bins: int,
    out_col: str | None = None,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """U7 equal-width binning → integer bin id in [1, n_bins].

    ``bounds`` fixes (min, max) for determinism; otherwise they come from a
    driver-side aggregate over the column (tiny job, literals in the plan →
    no per-row subquery)."""
    out_col = out_col or f"{col}_bin"
    if bounds is None:
        row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        bounds = (row["lo"], row["hi"])
    lo, hi = float(bounds[0]), float(bounds[1])
    width = (hi - lo) / n_bins if hi > lo else 1.0
    c = F.col(col)
    bin_id = F.least(
        F.lit(n_bins), F.floor((c - F.lit(lo)) / F.lit(width)).cast("int") + 1
    )
    return df.withColumn(
        out_col, F.when(c.isNull(), F.lit(None)).otherwise(F.greatest(F.lit(1), bin_id))
    )


@register("flatten_structs")
def flatten_structs(df: DataFrame, sep: str = ".") -> DataFrame:
    """S3 nested-JSON flattening ≙ ``pd.json_normalize`` dotted paths
    (reference ``:610-612``; documented at ``:290-292``): expand every struct
    column into ``parent{sep}child`` leaf columns, recursively."""
    from pyspark.sql.types import StructType

    def leaves(schema: StructType, prefix: str = "") -> list[str]:
        out: list[str] = []
        for f in schema.fields:
            dotted = f"{prefix}.{f.name}" if prefix else f.name
            if isinstance(f.dataType, StructType):
                out.extend(leaves(f.dataType, dotted))
            else:
                out.append(dotted)
        return out

    cols = [F.col(d).alias(d.replace(".", sep)) for d in leaves(df.schema)]
    return df.select(*cols)


@register("merge_upsert")
def merge_upsert(
    target: DataFrame, source: DataFrame, on: Sequence[str] | str
) -> DataFrame:
    """Keyed upsert (MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT):
    source rows win on key collision, unmatched target rows pass through.

    Plan shape: ``source ∪ (target LEFT ANTI source on keys)`` — one join,
    one union, no window sort. When the update batch is small relative to
    the target (the common CDC shape at 100 TB), the anti-join broadcasts
    the source keys and the target is filtered map-side; the union is a
    metadata-only concatenation of partitions. This is the lakehouse MERGE
    expressed as a plan, for when no transactional table format is present.
    """
    keys = [on] if isinstance(on, str) else list(on)
    return source.unionByName(target.join(source.select(*keys), keys, "left_anti"))


@register("grouped_zscore")
def grouped_zscore(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str = "z",
) -> DataFrame:
    """Per-group z-score via ``applyInPandas`` — the GROUPED_MAP extension
    surface (reference extension model: "any Python callable of the right
    shape", ``README.md:16-20``). Expressible as a window function too —
    this op exists to gate the custom-Python path.

    Granularity (the ``cogroup_asof`` lesson, SCALE.md): Spark's grouping
    key sets the PARALLELISM/memory unit, not the semantic unit — grouping
    on the raw key hands Python one tiny frame PER KEY (measured: per-call
    overhead dominates at thousands of keys). The Spark group is therefore
    a HASH BUCKET of the key and the per-key normalization runs inside the
    bucket via ``pandas.groupby.transform`` — identical per-group
    arithmetic (same pandas mean/std kernels over the same rows),
    ~n_keys/n_buckets× fewer Python calls; each bucket must fit a worker
    (standard applyInPandas contract, ``n_buckets`` tunes it).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    n_buckets = 64
    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, DoubleType())])
    keys = list(group_cols)

    def fn(pdf):
        # dropna=False: a NULL group key is still a group (SQL window
        # PARTITION BY semantics) — pandas'' default silently drops it
        g = pdf.groupby(keys, sort=False, dropna=False)[value_col]
        # std == 0 → z undefined (SQL x/0 is NULL; IEEE would give ±inf
        # when v−mean is a denormal that survived the squared-sum
        # underflow that zeroed std — observed on a {-0.0, 5e-324} group)
        std = g.transform("std")
        pdf[out_col] = (pdf[value_col] - g.transform("mean")) / std.where(
            std != 0.0
        )
        return pdf.drop(columns="__bkt")

    bkt = F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(n_buckets))
    return (
        df.withColumn("__bkt", bkt)
        .groupBy("__bkt")
        .applyInPandas(fn, schema=out_schema)
    )


def _hex_threshold(rate: float) -> str:
    """Sampling rate → threshold string for lexicographic comparison against
    an 8-hex-digit MD5 prefix (portable across engines: pure string
    compare). rate 1.0 → 'g', which every hex string sorts below."""
    rate = min(max(rate, 0.0), 1.0)
    if rate >= 1.0:
        return "g"
    return format(int(rate * 16**8), "08x")


@register("hash_sample")
def hash_sample(
    df: DataFrame,
    key_col: str,
    rate: float | dict[str, float],
    stratum_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic sampling by MD5 prefix of the row key — membership is a
    pure function of (salt, key), so a resumed or re-run job at 100 TB keeps
    the exact same sample with zero state and zero shuffle.

    ``rate`` may be a single fraction, or a ``{stratum: fraction}`` dict with
    ``stratum_col`` — the *data-mixing* primitive of a training pipeline
    (up/down-weight sources). The per-stratum thresholds enter the plan as a
    literal CASE expression, evaluated map-side.
    """
    prefix = F.substring(
        F.md5(F.concat(F.lit(salt), canon_key_str(df, key_col))), 1, 8
    )
    if isinstance(rate, dict):
        if stratum_col is None:
            raise ValueError("stratum_col is required when rate is a dict")
        expr = F.lit(None).cast("string")
        thr = None
        for name, r in sorted(rate.items()):
            cond = F.col(stratum_col) == name
            thr = F.when(cond, F.lit(_hex_threshold(r))) if thr is None else thr.when(cond, F.lit(_hex_threshold(r)))
        thr = thr.otherwise(F.lit(_hex_threshold(0.0)))
        return df.filter(prefix < thr)
    return df.filter(prefix < F.lit(_hex_threshold(rate)))


@register("quality_audit")
def quality_audit(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """Per-column data-quality profile → one row per column:
    ``(column_name, n_rows, n_nulls, n_distinct)``. The contract-check pass
    a training pipeline runs before ingesting a new data drop.

    Single scan: all columns profile in one aggregate (conditional
    aggregates + ``count_distinct``), then the 1-row result unpivots via
    ``stack`` — no per-column re-scan, which is the difference between one
    and N reads of a 100 TB table. Exact multi-column ``count_distinct``
    uses Spark's Expand (rows × columns blow-up before the partial agg);
    for very wide audits pass ``exact=False`` to switch to
    ``approx_count_distinct`` (HLL, no Expand) — the scale path when ±2 %
    cardinality error is acceptable.
    """
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    nd = F.count_distinct if exact else F.approx_count_distinct
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(nd(F.col(c)).alias(f"__nd_{c}"))
    row = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __n, __n - __nn_{c}, __nd_{c}" for c in cols
    )
    return row.select(
        F.expr(
            f"stack({len(cols)}, {stacked}) AS "
            "(column_name, n_rows, n_nulls, n_distinct)"
        )
    )


@register("key_skew_profile")
def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Key-distribution skew diagnostic — the measurement that decides
    between a plain shuffle, AQE skew-split, salting (``salted_join``) or
    bucketing before a big join/agg on ``key_col``.

    One aggregation pass: per-key counts, then the top-``top_n`` heavy
    hitters with their absolute count, share of all rows, and the ratio to
    a perfectly uniform key (share × distinct-keys — >10 means that key's
    reducer does 10× the average work). The second stage runs over the
    already-reduced per-key rows (≤ |distinct keys|), and the top-k is a
    TakeOrdered, not a full sort.
    """
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = per_key.agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    return (
        per_key.join(F.broadcast(totals))
        .orderBy(F.desc("n"), F.asc_nulls_last("key"))
        .limit(top_n)
        .select(
            "key",
            "n",
            # unrounded: int/int ratios can park exactly on a 6-decimal
            # half-way point (e.g. k/128); the raw IEEE division of exact
            # ints is bit-deterministic cross-engine, ROUND is not
            (F.col("n") / F.col("__total")).alias("share"),
            (F.col("n") * F.col("__nkeys") / F.col("__total")).alias(
                "uniform_ratio"
            ),
        )
    )


@register("winsorize")
def winsorize(
    df: DataFrame,
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorization: clamp a numeric column to its [lo, hi] percentile
    band — the outlier treatment that keeps rows (unlike a filter) while
    bounding the leverage of extreme values. One exact-percentile pass
    (single reduced row, broadcast back), then a scan-side clamp."""
    v = F.col(value_col).cast("double")
    bounds = df.select(v.alias("__v")).agg(
        F.percentile(F.col("__v"), F.lit(float(lo))).alias("__wlo"),
        F.percentile(F.col("__v"), F.lit(float(hi))).alias("__whi"),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            out_col or f"{value_col}_w",
            F.least(F.greatest(v, F.col("__wlo")), F.col("__whi")),
        )
        .drop("__wlo", "__whi")
    )


@register("impute_group_mean")
def impute_group_mean(
    df: DataFrame,
    value_col: str,
    group_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Null imputation with the per-group mean (falling back to the global
    mean for all-null groups): the standard sensor-gap fill when a grid
    resample is overkill. One aggregation per level, both reduced frames
    broadcast — the fact table is scanned once and never shuffled."""
    v = F.col(value_col).cast("double")
    per_group = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.avg(v).alias("__gmean")
    )
    overall = df.agg(F.avg(v).alias("__omean"))
    return (
        df.join(F.broadcast(per_group), on=df[group_col] == F.col("__g"), how="left")
        .crossJoin(F.broadcast(overall))
        .withColumn(
            out_col or f"{value_col}_filled",
            F.coalesce(v, F.col("__gmean"), F.col("__omean")),
        )
        .drop("__g", "__gmean", "__omean")
    )


@register("source_mix_temperature")
def source_mix_temperature(
    df: DataFrame,
    source_col: str = "source",
    weight_expr: "F.Column | None" = None,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled source-mixing weights (the multilingual-LM /
    data-mixture recipe of Conneau & Lample 2019 §3.1 and the Pile:
    ``w_i ∝ c_i^alpha``): given a corpus with a source/domain column,
    compute each source's share of the corpus, the temperature-flattened
    sampling weight, and the implied number of epochs over that source
    (``weight / share``) for a budget of one corpus-size worth of samples.
    ``alpha=1`` reproduces natural proportions; ``alpha→0`` approaches
    uniform over sources; the 0.5 default is the common subsampling
    compromise. ``weight_expr`` selects what to count (default: rows;
    pass e.g. a token-count expression to weight by tokens).

    Plan shape (100 TB): ONE aggregation pass over the corpus (map-side
    combine down to |sources| rows); everything after runs on the reduced
    frame — the normalization constant is a broadcast of a 1-row
    aggregate, never a window over the corpus. Determinism: ``pow`` terms
    are rounded to 1e-6 and summed as scaled BIGINTs, so the normalizer
    is independent of float summation order across engines.
    """
    cnt = (weight_expr if weight_expr is not None else F.lit(1)).cast("double")
    per_src = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(cnt).alias("__c")
    )
    pow_e6 = F.round(F.pow(F.col("__c"), F.lit(float(alpha))) * F.lit(1e6)).cast(
        "long"
    )
    with_pow = per_src.withColumn("__p_e6", pow_e6)
    norm = with_pow.agg(
        F.sum("__p_e6").alias("__z_e6"), F.sum("__c").alias("__total")
    )
    return (
        with_pow.crossJoin(F.broadcast(norm))
        .select(
            "source",
            F.col("__c").cast("long").alias("n_items"),
            # unrounded exact-int divisions (tie-free; see SCALE lesson 3)
            (F.col("__c") / F.col("__total")).alias("natural_share"),
            (
                F.col("__p_e6").cast("double") / F.col("__z_e6").cast("double")
            ).alias("mix_weight"),
            (
                (F.col("__p_e6").cast("double") / F.col("__z_e6").cast("double"))
                / (F.col("__c") / F.col("__total"))
            ).alias("epochs_at_budget"),
        )
        .orderBy(F.asc_nulls_last("source"))
    )


@register("quality_weighted_sample")
def quality_weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    salt: str = "",
) -> DataFrame:
    """Soft quality filtering: keep each row with probability equal to its
    per-row weight in [0,1] (clamped) — the DCLM/FineWeb-style alternative
    to a hard quality cutoff that keeps a calibrated fraction of
    mid-quality documents instead of a cliff. Membership is a pure
    function of (salt, key, weight): the row's MD5-prefix uniform is
    compared against the weight's 8-hex-digit threshold, so re-runs and
    resumed jobs at 100 TB select the exact same rows with zero state and
    zero shuffle (same determinism contract as ``hash_sample``, which
    this generalizes from per-stratum constant rates to a per-row rate).

    Engine-portable: the comparison is string-lexicographic on hex
    digits; the threshold is ``format('%08x', floor(w * 16^8))`` with
    w≥1 mapped to 'g' (sorts above every hex string). No float compare
    crosses the engine boundary."""
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    prefix = F.substring(
        F.md5(F.concat(F.lit(salt), canon_key_str(df, key_col))), 1, 8
    )
    thr = F.when(w >= 1.0, F.lit("g")).otherwise(
        F.format_string("%08x", F.floor(w * F.lit(4294967296.0)).cast("long"))
    )
    return df.filter(prefix < thr)


STATE_COLS = ("n", "s1", "s2", "vmin", "vmax")

#: Clamp windows of the state quantizers (documented contract): s1 is
#: accurate for |v| ≤ 1e7 (e6 quantizer, per-row clamp ±1e13) while s2's
#: e2 square clamps at |v| ≤ 3e4 — a value in (3e4, 1e7] yields a correct
#: mean but a CLAMPED (under-stated) variance. Callers needing variance
#: fidelity beyond |v| = 3e4 must pre-scale values into the window.
STATE_S1_ABS_MAX = 1e7
STATE_S2_ABS_MAX = 3e4


def _assert_state_schema(state: DataFrame, who: str) -> None:
    """Enforce the v2 state contract (e6/e2-scaled BIGINT power sums).

    The r8 rewrite changed s1/s2 from raw double sums to scaled BIGINTs
    with no version marker in the persisted rows; a state table written
    by the old format merged into the new math would be silently off by
    ~1e6/1e4. The integer dtype IS the version marker: double-typed
    s1/s2 can only be the old format (or foreign data) and raises
    ``StateSchemaMismatch`` instead of producing wrong numbers."""
    from sensordatapipelines_spark.errors import StateSchemaMismatch

    dt = dict(state.dtypes)
    missing = [c for c in STATE_COLS if c not in dt]
    if missing:
        raise StateSchemaMismatch(f"{who}: state columns missing: {missing}")
    for c in ("n", "s1", "s2"):
        if dt[c] not in ("bigint", "int"):
            raise StateSchemaMismatch(
                f"{who}: state column {c!r} is {dt[c]}, expected an integer "
                "type — s1/s2 are e6/e2-scaled BIGINT power sums since the "
                "v2 contract; a double-typed column is v1-format (or "
                "foreign) state and cannot be merged without rescaling"
            )


@register("aggregate_state")
def aggregate_state(
    df: DataFrame,
    keys: "Sequence[str]",
    value_col: str,
) -> DataFrame:
    """Build MERGEABLE aggregation state per key: ``(n, Σx, Σx², min,
    max)`` — the power-sum representation every continuous-aggregate /
    incremental-rollup system keeps, because two states combine with
    pure addition/min/max (``merge_aggregate_states``) and finalize into
    count/mean/variance/extremes (``finalize_aggregate_state``) without
    rescanning history. This is the batch twin of the streaming rollup:
    process each new partition/day once, merge its state into the stored
    state, finalize on read.

    One map-side-combined aggregate; state size is O(|keys|).

    NULL/NaN values carry no state: rows drop BEFORE aggregation so ``n``
    counts exactly the observations inside the power sums (a COUNT(*)
    over rows with NULL values would silently skew mean/variance)."""
    v = F.col(value_col).cast("double")
    df = df.filter(v.isNotNull() & ~F.isnan(v))
    # Exact-integer power sums (cross-engine determinism): double sums
    # are summation-order-dependent and the variance finalization
    # catastrophically cancels — so s1 quantizes at e6 (clamp ±1e13/row)
    # and the squared term at e2 with |v2| ≤ 3e6 (square ≤ 9e12, exact
    # int64 through ~1e6 rows/key). Mirrored in every state oracle.
    v1 = F.least(
        F.greatest(F.round(v * F.lit(1e6)), F.lit(-1e13)), F.lit(1e13)
    ).cast("long")
    v2 = F.least(
        F.greatest(F.round(v * F.lit(100.0)), F.lit(-3e6)), F.lit(3e6)
    ).cast("long")
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v1).alias("s1"),
        F.sum(v2 * v2).alias("s2"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )


@register("merge_aggregate_states")
def merge_aggregate_states(
    a: DataFrame,
    b: DataFrame,
    keys: "Sequence[str]",
) -> DataFrame:
    """Merge two mergeable states (full outer on keys; absent side
    contributes the identity): counts and power sums ADD, extremes
    MIN/MAX — the algebra that makes incremental maintenance exact for
    these metrics. Both inputs are already key-reduced, so the merge
    shuffles state rows only, never raw data. Asserts the v2 integer
    state contract on BOTH inputs (``_assert_state_schema``)."""
    _assert_state_schema(a, "merge_aggregate_states(a)")
    _assert_state_schema(b, "merge_aggregate_states(b)")
    ka = [F.col(f"a.{k}") for k in keys]
    kb = [F.col(f"b.{k}") for k in keys]
    cond = None
    for x, y in zip(ka, kb):
        c = x.eqNullSafe(y)
        cond = c if cond is None else (cond & c)
    j = a.alias("a").join(b.alias("b"), on=cond, how="full_outer")
    key_cols = [
        F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in keys
    ]
    return j.select(
        *key_cols,
        (F.coalesce(F.col("a.n"), F.lit(0)) + F.coalesce(F.col("b.n"), F.lit(0))).alias("n"),
        (F.coalesce(F.col("a.s1"), F.lit(0).cast("long"))
         + F.coalesce(F.col("b.s1"), F.lit(0).cast("long"))).alias("s1"),
        (F.coalesce(F.col("a.s2"), F.lit(0).cast("long"))
         + F.coalesce(F.col("b.s2"), F.lit(0).cast("long"))).alias("s2"),
        F.least(
            F.coalesce(F.col("a.vmin"), F.col("b.vmin")),
            F.coalesce(F.col("b.vmin"), F.col("a.vmin")),
        ).alias("vmin"),
        F.greatest(
            F.coalesce(F.col("a.vmax"), F.col("b.vmax")),
            F.coalesce(F.col("b.vmax"), F.col("a.vmax")),
        ).alias("vmax"),
    )


@register("finalize_aggregate_state")
def finalize_aggregate_state(state: DataFrame, keys: "Sequence[str]") -> DataFrame:
    """Finalize mergeable state into the user-facing metrics: count, mean,
    sample variance (from power sums), min, max. Pure projection — zero
    shuffle over the already-reduced state. Asserts the v2 integer state
    contract; see ``STATE_S1_ABS_MAX``/``STATE_S2_ABS_MAX`` for the
    documented mean-vs-variance fidelity windows."""
    _assert_state_schema(state, "finalize_aggregate_state")
    n = F.col("n").cast("double")
    # s1 carries e6-scaled integers, s2 carries e4-scaled squares
    s1 = F.col("s1").cast("double") / F.lit(1e6)
    s2 = F.col("s2").cast("double") / F.lit(1e4)
    mean = s1 / n
    var = F.when(
        F.col("n") > 1,
        (s2 - s1 * s1 / n) / (n - F.lit(1.0)),
    )
    return state.select(
        *[F.col(k) for k in keys],
        F.col("n").cast("long").alias("n"),
        (F.round((mean) * F.lit(1e6)) / F.lit(1e6)).alias("mean"),
        (F.round((var) * F.lit(1e4)) / F.lit(1e4)).alias("var_samp"),
        (F.round((F.col("vmin")) * F.lit(1e6)) / F.lit(1e6)).alias("vmin"),
        (F.round((F.col("vmax")) * F.lit(1e6)) / F.lit(1e6)).alias("vmax"),
    )


@register("top_p_by_weight")
def top_p_by_weight(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    p: float = 0.9,
) -> DataFrame:
    """Nucleus-style coverage selection: order keys by weight descending
    and keep the smallest prefix whose cumulative weight reaches fraction
    ``p`` of the total (a key enters while the cumulative weight BEFORE
    it is still < p·total — so the selection always crosses the p line,
    top-p sampling semantics). The data-mixing primitive for "keep the
    domains covering 90 % of tokens, audit the tail".

    Intended for ALREADY-AGGREGATED key weights (|keys| rows, e.g. the
    output of a per-source aggregate), where the single unpartitioned
    window is control-plane sized; for raw 100 TB data aggregate first —
    that is the operator contract, not an implementation accident.
    Ordering ties break on the key for a total, engine-portable order."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(weight_col).desc(), F.asc_nulls_last(F.col(key_col))).rowsBetween(
        Window.unboundedPreceding, -1
    )
    total = df.agg(F.sum(F.col(weight_col).cast("double")).alias("__t"))
    return (
        df.crossJoin(F.broadcast(total))
        .withColumn("__before", F.coalesce(F.sum(F.col(weight_col).cast("double")).over(w), F.lit(0.0)))
        .filter(F.col("__before") < F.lit(float(p)) * F.col("__t"))
        .select(
            key_col,
            F.col(weight_col).alias("weight"),
            # unrounded: same-order cumulative sum / exact total is
            # bit-deterministic; ROUND could tie-break on rational shares
            ((F.col("__before") + F.col(weight_col)) / F.col("__t")).alias(
                "cum_share"
            ),
        )
    )


@register("psi_drift")
def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution over fixed equal-width bins on [lo, hi] (values outside
    clamp into the edge bins): per-bin
    ``(p - q) · ln(p / q)`` with ``eps``-smoothed shares, plus the total
    — the standard drift gate between yesterday's and today's data drop
    (PSI < 0.1 stable, > 0.25 action).

    Engine shape: each side is ONE map-side-combined aggregate down to
    ``n_bins`` rows; everything after runs on the reduced frames with
    broadcast totals. Fixed bin edges are plan literals — no quantile
    pass, so the two sides never co-shuffle. Per-bin terms round at 1e-6
    for engine portability."""
    span = float(hi) - float(lo)
    width = span / n_bins

    def binned(df: DataFrame, name: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        idx = F.least(
            F.greatest(
                F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        )
        # nulls carry no distribution information and would fracture the
        # full-outer bin join (null keys never merge) — excluded.
        return (
            df.filter(v.isNotNull())
            .groupBy(idx.alias("bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    r = binned(ref, "__nr")
    c = binned(cur, "__nc")
    bins = r.join(c, "bin", "full_outer").select(
        F.col("bin"),
        F.coalesce(F.col("__nr"), F.lit(0)).alias("__nr"),
        F.coalesce(F.col("__nc"), F.lit(0)).alias("__nc"),
    )
    totals = bins.agg(
        F.sum("__nr").alias("__tr"), F.sum("__nc").alias("__tc")
    )
    p = F.col("__nr") / F.col("__tr") + F.lit(float(eps))
    q = F.col("__nc") / F.col("__tc") + F.lit(float(eps))
    return (
        bins.crossJoin(F.broadcast(totals))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("__nr").cast("long").alias("n_ref"),
            F.col("__nc").cast("long").alias("n_cur"),
            (F.round(((p - q) * F.log(p / q)) * F.lit(1e6)) / F.lit(1e6)).alias("psi_term"),
        )
        .orderBy(F.asc_nulls_last("bin"))
    )


@register("equal_depth_binning")
def equal_depth_binning(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    out_col: str = "depth_bin",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Equal-DEPTH (quantile) binning via ``ntile``: every bin holds the
    same row count (±1) — the complement of ``equal_width_binning`` for
    heavy-tailed columns where width bins put 99 % of rows in one bucket.

    NOTE the global ``ntile`` orders the whole table in ONE window
    partition — correct but single-reducer at the sort. That is this
    operator's contract for exact equal-depth labels; at 100 TB use
    percentile thresholds (``filter_length_outliers``-style one-row
    aggregate + a literal CASE) when ±ε on the boundaries is acceptable.
    Pass ``order_tiebreak`` (a unique key) to make each ROW's label — not
    just the per-bin counts — deterministic and engine-portable."""
    from pyspark.sql import Window

    order = [F.col(value_col).asc_nulls_last()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc_nulls_last())
    w = Window.orderBy(*order)
    return df.withColumn(out_col, F.ntile(n_bins).over(w))


@register("topn_with_others")
def topn_with_others(
    df: DataFrame,
    key_col: str,
    n: int = 10,
    weight_expr: "F.Column | None" = None,
    others_label: str = "__others__",
) -> DataFrame:
    """Reporting rollup: the top-``n`` keys by weight keep their identity,
    everything else folds into one ``__others__`` row — the standard
    dashboard shape ('top 10 domains + the tail') that keeps result sizes
    bounded no matter the key cardinality.

    Two aggregates: raw → per-key weights (map-side combined), then the
    rank-or-others relabel over the REDUCED frame and a |n|+1-row
    re-aggregate. The fact table is scanned once; the window orders only
    per-key rows (|keys|, not |rows|). Ties rank by (weight desc, key) —
    total order, engine-portable."""
    from pyspark.sql import Window

    w_expr = (weight_expr if weight_expr is not None else F.lit(1)).cast("double")
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(w_expr).alias("__w")
    )
    rk = F.row_number().over(Window.orderBy(F.col("__w").desc(), F.asc_nulls_last(F.col("key"))))
    labeled = per_key.withColumn(
        "key_or_other",
        F.when(rk <= n, F.col("key").cast("string")).otherwise(
            F.lit(others_label)
        ),
    )
    return (
        labeled.groupBy("key_or_other")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            (F.round((F.sum("__w")) * F.lit(1e6)) / F.lit(1e6)).alias("weight"),
        )
        .orderBy(F.desc("weight"), F.asc_nulls_last(F.col("key_or_other")))
    )


@register("contract_violations")
def contract_violations(
    df: DataFrame,
    unique_keys: "Sequence[str] | None" = None,
    not_null: "Sequence[str] | None" = None,
    ranges: "dict[str, tuple[float, float]] | None" = None,
) -> DataFrame:
    """Data-contract audit → one row per rule: ``(rule, n_violations)``.
    The ingest gate a pipeline runs before accepting a data drop —
    duplicate keys, unexpected NULLs, out-of-range values — as DATA, so
    the caller can alert on any ``n_violations > 0`` or join the audit
    into a run ledger.

    One scan for all null/range rules (conditional sums in a single
    aggregate); the uniqueness rule adds one map-side-combined key count
    whose violation total is Σ(c−1) over duplicated keys — no row-level
    materialization of offenders. Rules report in a fixed order
    (uniqueness, not-null, ranges as given)."""
    rows = []
    if unique_keys:
        per_key = df.groupBy(*[F.col(k) for k in unique_keys]).agg(
            F.count(F.lit(1)).alias("__c")
        )
        dup = per_key.agg(
            F.coalesce(
                F.sum(F.when(F.col("__c") > 1, F.col("__c") - 1)), F.lit(0)
            ).alias("n_violations")
        ).select(
            F.lit("unique(" + ",".join(unique_keys) + ")").alias("rule"),
            F.col("n_violations").cast("long"),
        )
        rows.append(dup)
    aggs = []
    labels = []
    for c in not_null or []:
        labels.append(f"not_null({c})")
        aggs.append(F.sum(F.col(c).isNull().cast("long")))
    for c, (lo, hi) in (ranges or {}).items():
        labels.append(f"range({c},{lo},{hi})")
        v = F.col(c).cast("double")
        aggs.append(
            F.sum(((v < F.lit(float(lo))) | (v > F.lit(float(hi)))).cast("long"))
        )
    if aggs:
        one = df.agg(*[a.alias(f"__r{i}") for i, a in enumerate(aggs)])
        stacked = ", ".join(
            f"'{lab}', __r{i}" for i, lab in enumerate(labels)
        )
        rows.append(
            one.select(
                F.expr(
                    f"stack({len(labels)}, {stacked}) AS (rule, n_violations)"
                )
            ).select("rule", F.col("n_violations").cast("long"))
        )
    if not rows:
        raise ValueError("contract_violations needs at least one rule")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register("group_sample_k")
def group_sample_k(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 10,
    salt: str = "",
) -> DataFrame:
    """Deterministic k-per-group sample: within each group, rank rows by
    the MD5 of (salt, key) and keep the ``k`` smallest — a stateless,
    re-run-stable stand-in for per-group reservoir sampling, and the
    balanced-per-class subsampling primitive (equal examples per
    language/source/label regardless of group skew).

    One window exchange on the group key; membership is a pure function
    of (salt, key, group population), so reruns and engine replays agree
    exactly. Hash ties are broken by the key itself (total order)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(salt), canon_key_str(df, key_col)))
    w = Window.partitionBy(group_col).orderBy(h.asc_nulls_last(), F.col(key_col).asc_nulls_last())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


@register("rfm_segments")
def rfm_segments(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 4,
) -> DataFrame:
    """RFM segmentation: per key, Recency (days since last activity,
    against the dataset's max date), Frequency (activity count) and
    Monetary (total amount), each scored into ``n_tiles`` quantile tiles
    (recency REVERSED — recent = high score) and concatenated into the
    classic segment code ('444' = best customers).

    One per-key aggregate (map-side combined), then three ntile windows
    over the REDUCED per-key frame — |keys| rows, not |rows|; the
    reference date is a broadcast 1-row aggregate. Tile windows order by
    (metric, key) so every row's score is deterministic."""
    from pyspark.sql import Window

    ts = F.col(ts_col).cast("timestamp")
    per_key = df.groupBy(F.col(key_col).alias("key")).agg(
        F.max(ts).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        (F.round((F.sum(F.col(amount_col).cast("double"))) * F.lit(1e2)) / F.lit(1e2)).alias("monetary"),
    )
    ref = df.agg(F.max(ts).alias("__ref"))
    scored = per_key.crossJoin(F.broadcast(ref)).withColumn(
        "recency_days",
        F.datediff(F.col("__ref").cast("date"), F.col("__last").cast("date")),
    )
    # recency: SMALLER is better → order desc so recent keys land in the
    # top tile; frequency/monetary: larger is better
    w_r = Window.orderBy(F.col("recency_days").desc(), F.asc_nulls_last(F.col("key")))
    w_f = Window.orderBy(F.col("frequency").asc_nulls_last(), F.asc_nulls_last(F.col("key")))
    w_m = Window.orderBy(F.col("monetary").asc_nulls_last(), F.asc_nulls_last(F.col("key")))
    out = (
        scored.withColumn("r_score", F.ntile(n_tiles).over(w_r))
        .withColumn("f_score", F.ntile(n_tiles).over(w_f))
        .withColumn("m_score", F.ntile(n_tiles).over(w_m))
    )
    return out.select(
        "key",
        "recency_days",
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm"),
    )


@register("rolling_origin_folds")
def rolling_origin_folds(
    df: DataFrame,
    ts_col: str,
    k: int = 4,
) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation folds for
    time-series models: the span between the dataset's first and last
    timestamp splits into ``k+1`` equal slices; fold ``i`` trains on
    everything before slice ``i+1`` and tests on slice ``i+1`` — the
    leakage-free backtest schedule (no fold ever tests on data its train
    window has seen).

    Output: one row per fold with the boundary epochs and train/test row
    counts. The span bounds are a 1-row aggregate broadcast as literals;
    fold membership is then a conditional sum per fold in ONE scan (the
    per-fold counts come from a single aggregate with 2k conditional
    sums — not k passes)."""
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bounds = df.agg(
        F.min(ts_us).alias("__lo"), F.max(ts_us).alias("__hi")
    ).first()
    lo, hi = int(bounds["__lo"]), int(bounds["__hi"])
    width = (hi - lo) // (k + 1) + 1  # +1 so the max lands inside slice k+1
    aggs = []
    for i in range(1, k + 1):
        cut = lo + i * width
        end = lo + (i + 1) * width
        aggs.append(F.sum((ts_us < F.lit(cut)).cast("long")).alias(f"__tr{i}"))
        aggs.append(
            F.sum(
                ((ts_us >= F.lit(cut)) & (ts_us < F.lit(end))).cast("long")
            ).alias(f"__te{i}")
        )
    one = df.agg(*aggs)
    stacked = ", ".join(
        f"{i}, CAST({lo + i * width} AS BIGINT), "
        f"CAST({lo + (i + 1) * width} AS BIGINT), __tr{i}, __te{i}"
        for i in range(1, k + 1)
    )
    return one.select(
        F.expr(
            f"stack({k}, {stacked}) AS "
            "(fold, test_start_us, test_end_us, n_train, n_test)"
        )
    )


@register("snapshot_diff")
def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: "Sequence[str]",
    value_cols: "Sequence[str] | None" = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Table diff between two snapshots — the data-ops regression check
    ("what did this pipeline change?"): one row per key present in either
    side, classified ``added`` / ``removed`` / ``changed`` (and
    ``unchanged`` when ``include_unchanged``), with the row-value hashes.

    Values compare by an MD5 over the ``value_cols`` rendered to strings
    with an unambiguous NULL sentinel and a ``|`` separator — portable
    (DuckDB computes the identical hash; render floats through DECIMAL
    in the caller when cross-engine string formatting matters). Plan
    shape: two slim projections, ONE full-outer equi-join on the keys —
    no row widening, no window; at 100 TB this is the minimal shuffle
    any diff can do (both sides must co-locate by key once)."""
    keys = list(keys)
    vcols = list(value_cols) if value_cols else [
        c for c in new.columns if c not in keys
    ]

    def row_hash(df: DataFrame) -> Column:
        # integer-typed columns render through LONG (drift-proof: an
        # int column that one engine reads as DOUBLE would render
        # '7.0' there and '7' here, flagging every row as 'changed';
        # see canon_key_str). Doubles render as-is — a LONG cast would
        # lose precision.
        dts = dict(df.dtypes)
        rendered = [
            F.coalesce(
                (
                    F.col(c).cast("long")
                    if dts.get(c) in ("tinyint", "smallint", "int", "bigint")
                    else F.col(c)
                ).cast("string"),
                F.lit("\x01NULL"),
            )
            for c in vcols
        ]
        return F.md5(F.concat_ws("|", *rendered))

    o = old.select(*keys, row_hash(old).alias("old_hash"))
    n = new.select(*keys, row_hash(new).alias("new_hash"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(*keys, change.alias("change"), "old_hash", "new_hash")
    if include_unchanged:
        return out
    return out.filter(F.col("change") != "unchanged")


@register("group_disjoint_split")
def group_disjoint_split(
    df: DataFrame,
    group_col: str,
    heldout_rate: float = 0.1,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/heldout split: the assignment hashes the GROUP
    key (domain, source, author…), so every row of a group lands on the
    SAME side — near-duplicates within a group can never straddle the
    split, the failure mode a row-level split invites (RefinedWeb-style
    pipelines split by registered domain for exactly this reason).

    Same contract as ``hash_sample``: membership is a pure function of
    (salt, group key) — MD5-prefix threshold, zero state, zero shuffle,
    stable across re-runs and cluster sizes."""
    prefix = F.substring(
        F.md5(F.concat(F.lit(salt), canon_key_str(df, group_col))), 1, 8
    )
    return df.withColumn(
        out_col,
        F.when(
            prefix < F.lit(_hex_threshold(heldout_rate)), F.lit("heldout")
        ).otherwise(F.lit("train")),
    )


@register("token_budget_pack")
def token_budget_pack(
    df: DataFrame,
    budget: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    priority_col: str | None = None,
) -> DataFrame:
    """Mixture manifest builder: per group, take documents in priority
    order (``priority_col`` DESC, id ASC tiebreak; id order when no
    priority) until the cumulative token count reaches ``budget`` — "give
    me 1M tokens per source, best first". The document that CROSSES the
    budget is included (budgets are floors, matching how sampling
    manifests are consumed), everything after it is cut.

    ONE window exchange per group ordering — no self-join, no iteration;
    the cumulative sum uses the standard running-total frame. Emits the
    kept rows plus ``cum_tokens``."""
    order = (
        [F.desc(priority_col), F.col(id_col).asc_nulls_last()]
        if priority_col
        else [F.col(id_col).asc_nulls_last()]
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(tokens_col)).over(w)
    out = df.withColumn("cum_tokens", cum.cast("long"))
    return out.filter(
        (F.col("cum_tokens") - F.col(tokens_col)) < F.lit(int(budget))
    )


@register("dq_report")
def dq_report(
    df: DataFrame,
    pk: str | None = None,
    not_null: Sequence[str] = (),
    domain: dict[str, "F.Column"] | None = None,
    fks: Sequence[tuple[str, DataFrame, str]] = (),
) -> DataFrame:
    """Declarative data-quality audit → long-format report
    ``(check string, value long)``: row count, per-column null counts,
    named domain-predicate violation counts, duplicate-primary-key
    stats, and foreign-key orphan counts.

    100 TB shape: ``row_count`` + every ``null_*`` + every ``domain_*``
    fold into ONE full-scan aggregate (map-side combined, no shuffle —
    a single row of counters per task); the PK check is one groupBy on
    the key; each FK is one LEFT ANTI join whose strategy the planner
    picks by the dim side's size (a TPC-H-style dim broadcasts under
    ``autoBroadcastJoinThreshold``, a fact-sized one shuffles, and AQE
    re-plans from runtime sizes). The unioned report is a handful of
    1-row aggregates — the plan is N independent small jobs, not a
    monolith, so a scheduler can run them concurrently.

    ``domain`` predicates count VIOLATIONS: pass the condition that
    flags a bad row (e.g. ``F.col("o_totalprice") <= 0``).
    """
    checks: list[DataFrame] = []
    base_aggs = [F.count(F.lit(1)).cast("long").alias("row_count")]
    for c in not_null:
        base_aggs.append(
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"null_{c}")
        )
    for name, pred in (domain or {}).items():
        base_aggs.append(
            F.sum(pred.cast("long")).cast("long").alias(f"domain_{name}")
        )
    one = df.agg(*base_aggs)
    names = [f.name for f in one.schema.fields]
    stack = ", ".join(f"'{n}', `{n}`" for n in names)
    checks.append(
        one.selectExpr(f"stack({len(names)}, {stack}) as (check, value)")
    )
    if pk is not None:
        dup = (
            df.groupBy(pk)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .agg(
                F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias("a"),
                F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).cast("long").alias("b"),
            )
        )
        checks.append(
            dup.selectExpr(
                f"stack(2, 'dup_pk_{pk}_keys', a, 'dup_pk_{pk}_excess_rows', b)"
                " as (check, value)"
            )
        )
    for fk_col, dim, dim_key in fks:
        dim_keys = dim.select(F.col(dim_key).alias(fk_col)).distinct()
        orphans = (
            df.filter(F.col(fk_col).isNotNull())
            .join(dim_keys, fk_col, "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("v"))
        )
        checks.append(
            orphans.select(
                F.lit(f"orphan_{fk_col}").alias("check"), F.col("v").alias("value")
            )
        )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register("stratified_sample_alloc")
def stratified_sample_alloc(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    total_n: int,
    salt: str = "",
) -> DataFrame:
    """Proportional stratified sample of EXACTLY ``total_n`` rows: each
    stratum's quota is ``total_n · n_h / N`` allocated by the
    largest-remainder (Hamilton) method — floor quotas first, the
    leftover seats to the strata with the largest integer remainders
    (ties → stratum key ascending) — then ``group_sample_k``-style
    deterministic membership (MD5 rank) fills each quota.

    Everything is INTEGER arithmetic (``total_n·n_h div N`` /
    ``mod N``), so the allocation is exact and engine-replayable — no
    float quota ever sits on a rounding boundary. Shapes: one tiny
    per-stratum count aggregate (broadcast back), one window rank per
    stratum for membership. A stratum with fewer rows than its quota
    contributes all its rows (the sample then undershoots ``total_n``
    — surfaced in the ``alloc`` column, not silently rebalanced)."""
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__nh"))
    tot = counts.agg(F.sum("__nh").alias("__n"))
    quotas = counts.crossJoin(F.broadcast(tot)).select(
        stratum_col,
        "__nh",
        (F.lit(int(total_n)) * F.col("__nh")).alias("__num"),
        F.col("__n"),
    )
    base = quotas.select(
        stratum_col,
        "__nh",
        F.expr(f"__num div __n").alias("__base"),
        (F.col("__num") % F.col("__n")).alias("__rem"),
    )
    w_rem = Window.orderBy(F.col("__rem").desc(), F.col(stratum_col).asc_nulls_last())
    w_all = Window.partitionBy(F.lit(1))
    alloc = (
        base.withColumn("__rk", F.row_number().over(w_rem))
        .withColumn("__extra", F.lit(int(total_n)) - F.sum("__base").over(w_all))
        .select(
            stratum_col,
            (
                F.col("__base")
                + (F.col("__rk") <= F.col("__extra")).cast("long")
            ).alias("alloc"),
        )
    )
    h = F.md5(F.concat(F.lit(salt), canon_key_str(df, key_col)))
    w = Window.partitionBy(stratum_col).orderBy(h.asc_nulls_last(), F.col(key_col).asc_nulls_last())
    return (
        df.join(F.broadcast(alloc), stratum_col)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= F.col("alloc"))
        .drop("__rk")
    )


@register("abc_classification")
def abc_classification(
    df: DataFrame,
    key_col: str,
    amount_col: str,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """ABC (Pareto) contribution analysis: rank keys by total amount,
    classify by cumulative revenue share — A up to ``a_cut``, B to
    ``b_cut``, C the tail → ``(key, revenue, cum_share, abc_class)``.

    One keyed aggregate (1e-6-scaled BIGINT sums, order-free) + one
    ordered window over the key table for the running share; both
    reported doubles are single divisions of exact integer numerators,
    and the class comparison runs on the identical doubles in both
    engines."""
    rev = df.groupBy(key_col).agg(
        F.sum(
            F.round(F.col(amount_col).cast("double") * F.lit(1e6)).cast("long")
        ).alias("__r6")
    )
    w = Window.orderBy(F.col("__r6").desc(), F.col(key_col).asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy(F.lit(1))
    cum = rev.withColumn("__c6", F.sum("__r6").over(w)).withColumn(
        "__t6", F.sum("__r6").over(wt)
    )
    share = F.col("__c6").cast("double") / F.col("__t6").cast("double")
    return cum.select(
        key_col,
        (F.col("__r6").cast("double") / F.lit(1e6)).alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= F.lit(float(a_cut)), "A")
        .when(share <= F.lit(float(b_cut)), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register("upsert_merge")
def upsert_merge(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    ts_col: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """SCD-1 latest-wins merge: apply a change batch onto a snapshot —
    any change row replaces the snapshot row with its key; among
    multiple changes per key the LATEST wins (``ts_col`` desc, then
    ``tiebreak_col`` desc). Output = merged table + ``updated`` flag.

    The batch half of the incremental-maintenance story (the streaming
    half is ``transformWithStateInPandas``): one union + one keyed
    window — the merge shuffles each key group once, never rescans
    history per change. Schemas must align on the snapshot's columns
    (extra change columns are dropped)."""
    cols = [c for c in snapshot.columns]
    order = [F.col("__pri").desc()]
    if ts_col is not None:
        order.append(F.col(ts_col).desc())
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    snap = snapshot.select(*cols).withColumn("__pri", F.lit(0))
    chg = changes.withColumn("__pri", F.lit(1))
    extra = [c for c in (ts_col, tiebreak_col) if c is not None and c not in cols]
    snap = snap.select(*cols, "__pri", *[F.lit(None).alias(c) for c in extra])
    chg = chg.select(*cols, "__pri", *extra)
    unioned = snap.unionByName(chg)
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*cols, (F.col("__pri") == 1).alias("updated"))
    )


# Benford first-digit probabilities log10(1+1/d), d=1..9, as fixed
# 12-decimal literals — BOTH engines consume the same constants, so no
# cross-engine log() ulp difference can enter the expected counts.
BENFORD_P = (
    0.301029995664,
    0.176091259056,
    0.124938736608,
    0.096910013008,
    0.079181246048,
    0.066946789631,
    0.057991946978,
    0.051152522447,
    0.045757490561,
)


@register("benford_audit")
def benford_audit(
    df: DataFrame,
    amount_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Benford's-law first-digit audit: observed vs expected counts of
    the leading digit of ``amount_col`` (rows with |amount| ≥ 1), plus
    each group's chi-square statistic — the classic fraud /
    data-fabrication screen. → ``(group?, digit, n_obs, expected,
    chi2)``.

    Digit extraction is STRING-based (floor → BIGINT → first char), not
    ``log10`` arithmetic — float logs differ across engines at the ulp
    and can misclassify values sitting on decade boundaries. One keyed
    aggregate + one 9-rows-per-group window for n and chi2."""
    gcols = [group_col] if group_col else []
    digit = F.substring(
        F.floor(F.abs(F.col(amount_col).cast("double"))).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    base = df.filter(F.abs(F.col(amount_col).cast("double")) >= 1).select(
        *gcols, digit.alias("digit")
    )
    counts = base.groupBy(*gcols, "digit").agg(F.count(F.lit(1)).alias("n_obs"))
    wg = Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    n = F.sum("n_obs").over(wg)
    p = F.element_at(F.array(*[F.lit(x) for x in BENFORD_P]), F.col("digit"))
    expected = n.cast("double") * p
    contrib = (F.col("n_obs").cast("double") - expected) * (
        F.col("n_obs").cast("double") - expected
    ) / expected
    # contributions quantize to e6 BIGINTs before the 9-term sum, so the
    # chi2 total is independent of float summation order (engine-exact)
    contrib6 = F.round(contrib * F.lit(1e6)).cast("long")
    return (
        counts.withColumn("expected", expected)
        .withColumn("__c6", contrib6)
        .withColumn(
            "chi2", F.sum("__c6").over(wg).cast("double") / F.lit(1e6)
        )
        .select(
            *gcols,
            "digit",
            F.col("n_obs").cast("long").alias("n_obs"),
            (F.round((F.col("expected")) * F.lit(1e6)) / F.lit(1e6)).alias("expected"),
            "chi2",
        )
    )


@register("pivot_table")
def pivot_table(
    df: DataFrame,
    index_cols: list[str] | tuple[str, ...],
    pivot_col: str,
    values: list[str] | tuple[str, ...],
    value_col: str | None = None,
    agg: str = "count",
    fill_value=None,
) -> DataFrame:
    """Long→wide reshape: one output column per entry of ``values``
    (EXPLICIT list — pivoting on discovered values would make both the
    schema and the plan data-dependent, an extra pass Catalyst can't
    prune; production pivots always know their dimension domain).
    ``agg`` ∈ {count, sum, min, max}; ``sum`` requires ``value_col``.
    ``fill_value`` (e.g. 0) coalesces empty cells — pass it when the
    downstream contract wants additive zeros rather than NULL holes.

    100 TB shape: exactly one map-side-combined ``groupBy`` on the index
    keys; the pivot becomes |values| conditional aggregates inside the
    SAME aggregate node (no per-value scan, no second shuffle).
    """
    if agg not in ("count", "sum", "min", "max"):
        raise ValueError(f"unsupported agg {agg!r}")
    if agg != "count" and not value_col:
        raise ValueError(f"agg={agg!r} requires value_col")
    aggs = []
    for v in values:
        cond = F.col(pivot_col) == F.lit(v)
        if agg == "count":
            expr = F.count(F.when(cond, F.lit(1)))
        else:
            src = F.when(cond, F.col(value_col))
            expr = {"sum": F.sum, "min": F.min, "max": F.max}[agg](src)
        if fill_value is not None:
            expr = F.coalesce(expr, F.lit(fill_value))
        aggs.append(expr.alias(str(v)))
    return df.groupBy(*index_cols).agg(*aggs)


@register("unpivot_table")
def unpivot_table(
    df: DataFrame,
    index_cols: list[str] | tuple[str, ...],
    value_cols: list[str] | tuple[str, ...],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide→long reshape (the exact inverse of :func:`pivot_table` for
    matching column lists): ``stack`` the value columns into
    ``(index…, var_name, value_name)`` rows. Map-only — ``stack`` is a
    generator expression inside whole-stage codegen, no shuffle, no
    explode of manufactured arrays."""
    quoted = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    return df.selectExpr(
        *(f"`{c}`" for c in index_cols),
        f"stack({len(value_cols)}, {quoted}) AS (`{var_name}`, `{value_name}`)",
    )


@register("cdc_apply")
def cdc_apply(
    state: DataFrame,
    changes: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a CDC change feed to a state table → the new state. Ops:
    ``I``/``U`` upsert the row's payload, ``D`` deletes the key; only
    the LATEST change per key (highest ``seq_col`` — must be unique per
    key, the usual log-offset/LSN contract) takes effect, so a key that
    was updated then deleted within one feed window ends deleted.
    Extends ``upsert_merge`` (SCD-1, no deletes) to the full
    insert/update/delete lakehouse merge.

    100 TB shape: one per-key window over the CHANGE FEED only (feeds
    are deltas — orders of magnitude smaller than state), one LEFT ANTI
    join to drop touched keys from state, one union. State is never
    shuffled beyond the anti-join's own key exchange; history is never
    rewritten row-by-row.
    """
    keys = list(key_cols)
    payload = [c for c in state.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    untouched = state.join(latest.select(*keys), keys, "left_anti")
    survivors = latest.filter(F.col(op_col) != "D").select(*keys, *payload)
    return untouched.unionByName(survivors)


def name_block_key_expr(name: "F.Column") -> "F.Column":
    """Portable blocking key for entity resolution: first character +
    the vowel-stripped remainder of the lowercased name (a
    consonant-skeleton in the Soundex family, kept regex-simple so the
    DuckDB oracle replays the identical RE2∩Java pattern). Robust to the
    commonest dirty-data edits — vowel drops/swaps and case noise —
    while keeping digits, so id-bearing names block tightly."""
    from sensordatapipelines_spark.operators.text import (
        lower_ascii_expr,
        upper_ascii_expr,
    )

    lower = lower_ascii_expr(F.trim(name))
    return F.concat(
        upper_ascii_expr(F.substring(lower, 1, 1)),
        F.regexp_replace(F.substring(lower, 2, 1000000), "[aeiou]", ""),
    )


@register("blocked_name_matches")
def blocked_name_matches(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_distance: int = 2,
) -> DataFrame:
    """Entity-resolution candidate matching → ``(id_a, id_b, name_a,
    name_b, distance)``: records from ``left`` and ``right`` whose names
    share a blocking key and sit within ``max_distance`` edits
    (Levenshtein) — the classic two-stage record-linkage shape
    (blocking for recall control, edit distance as the precise
    residual).

    Scale shape (100 TB): candidates come from the block-key EQUI-join —
    never an all-pairs name cross join (the naive formulation is n² and
    unrunnable past thousands of rows); Levenshtein runs only inside
    blocks. A block holding b rows on each side costs b² comparisons —
    block-key design is the skew knob (append more skeleton characters
    or a length bucket to split hot blocks; same guard family as the
    LSH hot-bucket cap). Edit distance is an exact integer under unit
    costs, so the oracle replays it bit-for-bit."""
    a = left.select(
        F.col(id_col).alias("id_a"),
        F.col(name_col).alias("name_a"),
        name_block_key_expr(F.col(name_col)).alias("__blk"),
    )
    b = right.select(
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
        name_block_key_expr(F.col(name_col)).alias("__blk"),
    )
    return (
        a.join(b, "__blk")
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= F.lit(int(max_distance)))
        .select("id_a", "id_b", "name_a", "name_b",
                F.col("distance").cast("long").alias("distance"))
    )


@register("skyline_2d")
def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D skyline (Pareto front, maximize both): rows not dominated by
    any other row (``x' ≥ x``, ``y' ≥ y``, strictly better in one).
    The multi-objective "best tradeoffs" query — e.g. the (value,
    recency) frontier of an event stream.

    Scale shape: the classic windowed formulation, not the n² dominance
    anti-join — aggregate to per-x max(y) (one keyed aggregate), prefix-
    max over x DESC on that (one window over the DISTINCT-x table, which
    is orders of magnitude smaller than the data), then one equi-join
    back to recover the surviving rows (ties on the frontier all
    survive: equal (x, y) points do not dominate each other)."""
    per_x = df.groupBy(F.col(x_col).alias("__x")).agg(
        F.max(F.col(y_col)).alias("__my")
    )
    w = Window.orderBy(F.desc("__x")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky = (
        per_x.withColumn("__pmax", F.max("__my").over(w))
        .filter(F.col("__pmax").isNull() | (F.col("__my") > F.col("__pmax")))
        .select("__x", "__my")
    )
    return df.join(
        sky,
        (F.col(x_col) == F.col("__x")) & (F.col(y_col) == F.col("__my")),
        "left_semi",
    )
