"""Geohash grid indexing: encode lon/lat to base32 cells, decode centers.

Charter extension (SURVEY.md §2.7 — spatial indexing at 100 TB). Geohash
is the canonical string-sortable spatial cell id: prefix truncation IS
spatial coarsening, so one encoded column serves every zoom level via
``substr``, range scans prune by prefix, and equi-joins on the cell id
co-locate neighbors without a geometry library.

Reference parity: the reference engine's spatial joins are geopandas
``sjoin``/buffer scans (/root/reference/src/data_preprocessing.py:199,
:267 row-at-a-time apply); the geohash cell id is the scale path for the
same "which points share a neighborhood" question — candidate pairs come
from an equi-join on the cell (± neighbor cells), never from an all-pairs
distance scan.

Determinism contract: the encoder is the textbook bisection closed form —
``floor((lon + 180) / 360 * 2^k)`` quantizes each axis, then the bits
interleave (lon first) via a five-step Morton spread (shift/mask) and
each 5-bit group indexes the base32 alphabet. Everything after the single
well-defined IEEE-double multiply is int64 arithmetic, so DuckDB replays
it bit-identically (same operand order, same shifts).

Plan-size note: every Morton ladder step references its input TWICE
(``x | x << s``), so inlining the whole ladder into one Column expression
duplicates the input subtree per step — 2^5 copies of whatever feeds it,
which sends Catalyst's ConstantFolding into the weeds once encode and
decode compose. The operators therefore stage each ladder step as an
intermediate projected column: multi-referenced non-trivial aliases block
``CollapseProject``, so the optimized plan stays LINEAR in ladder depth
while remaining one map-only whole-stage-codegen pipeline.

One residual hazard survives the staging: a FILTER placed directly on a
re-encoded decode output (decode → encode → filter on the new hash) gets
pushed through the projection chain by ``PushPredicateThroughNonJoin``,
whose ``trimAliases`` substitution re-inlines the ladder into the
predicate exponentially. Scans, aggregations, and joins on the outputs
are unaffected (verified); if you must filter on a composed re-encode,
put an aggregation or ``localCheckpoint()`` barrier in between.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sensordatapipelines_spark.registry import register

# Standard geohash base32 (no a/i/l/o).
GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# Morton spread/compress masks (64-bit; bit j of a 32-bit input ends at 2j).
MORTON_MASKS = (
    0x00000000FFFFFFFF,
    0x0000FFFF0000FFFF,
    0x00FF00FF00FF00FF,
    0x0F0F0F0F0F0F0F0F,
    0x3333333333333333,
    0x5555555555555555,
)


def _spread_steps(x: Column):
    """Yield the 5-step spread ladder (bit j → bit 2j) one step at a time;
    the caller stages each as a projected column (see module docstring)."""
    yield x.bitwiseAND(F.lit(MORTON_MASKS[0]))
    for i, mask in enumerate(MORTON_MASKS[1:]):
        shift = 16 >> i

        def step(prev: Column, shift=shift, mask=mask) -> Column:
            return prev.bitwiseOR(F.shiftleft(prev, shift)).bitwiseAND(F.lit(mask))

        yield step


def _compress_steps(x: Column):
    """Yield the inverse ladder (bit 2j → bit j), one step at a time."""
    yield x.bitwiseAND(F.lit(MORTON_MASKS[-1]))
    for i, mask in enumerate(reversed(MORTON_MASKS[:-1])):
        shift = 1 << i

        def step(prev: Column, shift=shift, mask=mask) -> Column:
            return prev.bitwiseOR(F.shiftright(prev, shift)).bitwiseAND(F.lit(mask))

        yield step


def _staged_ladder(df: DataFrame, steps, out_col: str) -> DataFrame:
    """Materialize a ladder as chained single-step projections."""
    it = iter(steps)
    df = df.withColumn(out_col, next(it))
    for step in it:
        df = df.withColumn(out_col, step(F.col(out_col)))
    return df


def _axis_bits(coord: Column, lo: float, hi: float, n_bits: int) -> Column:
    """Quantize one axis to ``n_bits``: floor of the normalized fraction
    scaled by 2^n_bits, clamped BOTH ways — the closed upper bound
    (lon=180, lat=90) lands in the last cell instead of one past it, and
    out-of-range coordinates (lon < −180, lat < −90, or past the upper
    edge) clamp to the boundary cell instead of producing silently
    invalid negative axis bits."""
    q = F.floor((coord - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(1 << n_bits)))
    return F.greatest(
        F.least(q.cast("long"), F.lit((1 << n_bits) - 1)), F.lit(0)
    ).cast("long")


def _base32_chars(g: Column, precision: int) -> Column:
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    return F.concat(*[
        F.element_at(
            alphabet,
            (F.shiftright(g, 5 * (precision - 1 - j)).bitwiseAND(F.lit(31)) + 1).cast(
                "int"
            ),
        )
        for j in range(precision)
    ])


def interleave_staged(
    df: DataFrame, lonb: Column, latb: Column, precision: int, out_col: str
) -> DataFrame:
    """Quantized axis bits → the interleaved int64 Morton cell id via the
    staged ladders. The INTEGER id is the preferred join/group key: same
    cell ⇔ same id, but the key is 8 bytes instead of a string and the
    plan carries no base32 render tree — whole-stage codegen of a
    join+filter+agg stage over the STRING encode inlines the render per
    reference and can blow Janino's 64 KB method limit (observed on
    zones_geohash_join; BENCH r8 tail), while the id form stays small."""
    n = 5 * precision
    df = _staged_ladder(df, _spread_steps(lonb), "__gh_lon")
    df = _staged_ladder(df, _spread_steps(latb), "__gh_lat")
    if n % 2 == 1:  # odd total: the LAST (least significant) bit is lon's
        g = F.col("__gh_lon").bitwiseOR(F.shiftleft(F.col("__gh_lat"), 1))
    else:
        g = F.shiftleft(F.col("__gh_lon"), 1).bitwiseOR(F.col("__gh_lat"))
    return df.withColumn(out_col, g).drop("__gh_lon", "__gh_lat")


def encode_bits_staged(
    df: DataFrame, lonb: Column, latb: Column, precision: int, out_col: str
) -> DataFrame:
    """Quantized axis bits → base32 cell id via the staged Morton
    ladders (shared by :func:`geohash_encode` and
    :func:`geohash_probe_cells`)."""
    df = interleave_staged(df, lonb, latb, precision, "__gh_g")
    return df.withColumn(out_col, _base32_chars(F.col("__gh_g"), precision)).drop(
        "__gh_g"
    )


@register("geohash_encode")
def geohash_encode(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    precision: int = 7,
    out_col: str = "geohash",
) -> DataFrame:
    """Add a base32 geohash cell id column (EPSG:4326 inputs).

    100 TB shape: map-only, zero shuffle, whole-stage codegen (staged
    shift/mask int64 ladder — no UDF). Downstream grouping/joining on the
    cell id is an ordinary hash shuffle on a low-cardinality-per-cell
    key; coarser zoom levels are ``substr(out_col, 1, k)`` — no
    re-encode pass.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    n = 5 * precision
    lonb = _axis_bits(F.col(lon_col), -180.0, 180.0, (n + 1) // 2)
    latb = _axis_bits(F.col(lat_col), -90.0, 90.0, n // 2)
    return encode_bits_staged(df, lonb, latb, precision, out_col)


@register("geohash_cell_id")
def geohash_cell_id(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    precision: int = 7,
    out_col: str = "cell_id",
) -> DataFrame:
    """Add the int64 Morton cell id (the geohash's integer form: base32
    is just this id rendered 5 bits/char). Use this as the join/group
    key whenever the human-readable string isn't needed — 8-byte hash
    key, and the join stage's generated code stays far from Janino's
    64 KB method limit (see :func:`interleave_staged`)."""
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    n = 5 * precision
    lonb = _axis_bits(F.col(lon_col), -180.0, 180.0, (n + 1) // 2)
    latb = _axis_bits(F.col(lat_col), -90.0, 90.0, n // 2)
    return interleave_staged(df, lonb, latb, precision, out_col)


@register("geohash_probe_cell_ids")
def geohash_probe_cell_ids(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    precision: int = 7,
    out_col: str = "cell_id",
) -> DataFrame:
    """Explode each point to its 3×3 probe cells as int64 Morton ids —
    the integer-key twin of :func:`geohash_probe_cells` (same wrap/clamp
    semantics); pair with :func:`geohash_cell_id` on the build side."""
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    n = 5 * precision
    n_lon, n_lat = (n + 1) // 2, n // 2
    df = df.withColumn(
        "__gh_lonb0", _axis_bits(F.col(lon_col), -180.0, 180.0, n_lon)
    ).withColumn("__gh_latb0", _axis_bits(F.col(lat_col), -90.0, 90.0, n_lat))
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    df = (
        df.withColumn("__gh_o", F.explode(offsets))
        .withColumn(
            "__gh_lonb",
            F.pmod(F.col("__gh_lonb0") + F.col("__gh_o.dx"), F.lit(1 << n_lon)),
        )
        .withColumn("__gh_latb", F.col("__gh_latb0") + F.col("__gh_o.dy"))
        .filter(
            (F.col("__gh_latb") >= 0) & (F.col("__gh_latb") < F.lit(1 << n_lat))
        )
    )
    return interleave_staged(
        df, F.col("__gh_lonb"), F.col("__gh_latb"), precision, out_col
    ).drop("__gh_lonb0", "__gh_latb0", "__gh_o", "__gh_lonb", "__gh_latb")


@register("geohash_probe_cells")
def geohash_probe_cells(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    precision: int = 7,
    out_col: str = "geohash",
) -> DataFrame:
    """Explode each point to its own cell PLUS the 8 neighbors (9 rows;
    fewer at the poles) — the probe side of a geohash radius join: when
    the cell span is ≥ the search radius, ``probe ⋈ geohash_encode(build)
    ON geohash`` is a complete candidate set and the exact distance
    predicate filters inside the join stage. Longitude neighbors WRAP
    across the antimeridian; latitude neighbors clamp (cells beyond the
    poles don't exist → those rows drop).

    All integer: quantize once, ±1 on the axis bits, re-encode via the
    staged ladders — no decode→re-encode float round-trip (and none of
    its optimizer hazards).
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"precision must be in [1, 12], got {precision}")
    n = 5 * precision
    n_lon, n_lat = (n + 1) // 2, n // 2
    df = df.withColumn(
        "__gh_lonb0", _axis_bits(F.col(lon_col), -180.0, 180.0, n_lon)
    ).withColumn("__gh_latb0", _axis_bits(F.col(lat_col), -90.0, 90.0, n_lat))
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    df = (
        df.withColumn("__gh_o", F.explode(offsets))
        .withColumn(
            "__gh_lonb",
            F.pmod(F.col("__gh_lonb0") + F.col("__gh_o.dx"), F.lit(1 << n_lon)),
        )
        .withColumn("__gh_latb", F.col("__gh_latb0") + F.col("__gh_o.dy"))
        .filter(
            (F.col("__gh_latb") >= 0) & (F.col("__gh_latb") < F.lit(1 << n_lat))
        )
    )
    return encode_bits_staged(
        df, F.col("__gh_lonb"), F.col("__gh_latb"), precision, out_col
    ).drop("__gh_lonb0", "__gh_latb0", "__gh_o", "__gh_lonb", "__gh_latb")


@register("geohash_decode")
def geohash_decode(
    df: DataFrame,
    hash_col: str = "geohash",
    lon_out: str = "cell_lon",
    lat_out: str = "cell_lat",
) -> DataFrame:
    """Decode geohash cell ids back to cell-center lon/lat.

    Rebuilds the interleaved integer with an ``aggregate`` fold over the
    base32 chars (``g = g*32 + pos``), Morton-compresses each axis back
    out (staged ladder — see module docstring), and centers:
    ``(bits + 0.5) / 2^k * span - offset``. One length-generic map-only
    pipeline — mixed-precision columns decode without per-length
    branching.
    """
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    h = F.col(hash_col)
    chars = F.filter(F.split(h, ""), lambda c: c != "")
    g = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: acc * F.lit(32) + (F.array_position(alphabet, c) - 1),
    )
    df = df.withColumn("__gh_g", g).withColumn(
        "__gh_odd", (F.length(h) % 2) == 1
    )
    lon_in = F.when(F.col("__gh_odd"), F.col("__gh_g")).otherwise(
        F.shiftright(F.col("__gh_g"), 1)
    )
    lat_in = F.when(F.col("__gh_odd"), F.shiftright(F.col("__gh_g"), 1)).otherwise(
        F.col("__gh_g")
    )
    df = _staged_ladder(df, _compress_steps(lon_in), "__gh_lonb")
    df = _staged_ladder(df, _compress_steps(lat_in), "__gh_latb")
    n = (F.length(h) * 5).cast("int")
    n_lon = F.floor((n + 1) / 2).cast("int")
    n_lat = n - n_lon
    # Exact 2^k as a literal-array lookup (shiftleft needs a static count).
    pow2 = F.array(*[F.lit(float(1 << k)) for k in range(31)])
    scale_lon = F.element_at(pow2, n_lon + 1)
    scale_lat = F.element_at(pow2, n_lat + 1)
    lon = (F.col("__gh_lonb").cast("double") + F.lit(0.5)) / scale_lon * F.lit(
        360.0
    ) - F.lit(180.0)
    lat = (F.col("__gh_latb").cast("double") + F.lit(0.5)) / scale_lat * F.lit(
        180.0
    ) - F.lit(90.0)
    return (
        df.withColumn(lon_out, lon)
        .withColumn(lat_out, lat)
        .drop("__gh_g", "__gh_odd", "__gh_lonb", "__gh_latb")
    )
