"""Spatial aggregation operators (reference A1/A2/A3 + U1/U4/U5).

Geometry model (SURVEY.md §1.1 / §7): point sensors as ``lon``/``lat`` double
columns; zone/vector layers as circle approximations (``center + radius``)
with WKB noted as the upgrade path. The reference's sensors are
point-centroids with circular buffers (``buffer(size, resolution=16)``,
``/root/reference/src/data_preprocessing.py:194,221,260``), so every spatial
predicate it actually evaluates reduces to distance math that Spark runs
JVM-side inside whole-stage codegen — no GIS library, no Python in the hot
path.

Operator → plan shape:

- A2 ``add_buffer_aggregated_data`` (vector, ``:207-235``):
  ``sensors ⋈ layer ON dist(sensor, zone) <= buffer + zone_radius``
  (left) → ``groupBy(sensor_id).agg(...)`` → join stats back. The reference's
  bounding-box pre-filter (``dataset.cx[...]``, ``:222-223``) is emitted here
  as **literal predicates** on the layer scan so parquet min/max row-group
  skipping and partition pruning fire at scale (SURVEY.md §4).
- A3 ``add_aggregated_data_neighbourhood`` (``:238-274``): distance join →
  ``row_number() OVER (PARTITION BY sensor ORDER BY dist, id)`` top-k → agg.
- A1 raster zonal stats (``:156-206``): the raster is an exploded cell table
  ``(band, x, y, value)`` (SURVEY.md §1.2); nodata cells (value==0,
  ``:520,528-530``) are filtered before the distance join; per-band stats via
  conditional aggregation (no pivot pass).

At 100 TB the layer/cell side is the big table: the sensor side broadcasts
(small dim), the bbox literals prune the big scan, and the aggregation is
partial+final. Skewed sensor density is handled by AQE skew-join splitting
(enabled in ``session.py``).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from sensordatapipelines_spark.errors import ColumnException, CRSUnitMismatch, MissingCRS
from sensordatapipelines_spark.operators.aggregates import build_agg_exprs
from sensordatapipelines_spark.registry import register


def check_crs(crs: int | str | None) -> int:
    """CRS guard (reference raises ``MissingCRS`` when a frame lacks one,
    ``src/data_preprocessing.py:184-185,239-240``)."""
    if crs is None:
        raise MissingCRS("spatial operation requires a CRS (EPSG code)")
    return int(str(crs).removeprefix("EPSG:").removeprefix("epsg:"))


# -- engine-carried CRS (SURVEY §1.1) --------------------------------------
#
# The reference keeps CRS as frame state and reprojects to a common CRS
# before every spatial predicate (``:192-193,218-220,257-259``). The Spark
# carrier is COLUMN METADATA on the coordinate columns: metadata rides
# through select/filter/join/rename untouched by Catalyst, needs no wrapper
# class around DataFrame, and survives a round-trip through parquet.

_CRS_META_KEY = "sdp_crs_epsg"


@register("set_crs")
def set_crs(
    df: DataFrame, epsg: int | str, lon_col: str = "lon", lat_col: str = "lat"
) -> DataFrame:
    """Attach an EPSG code to the coordinate columns as column metadata —
    the engine-tracked CRS attribute. Downstream spatial operators read it
    and reproject-or-raise on mismatch instead of silently mixing CRSs."""
    code = check_crs(epsg)
    out = df
    for c in (lon_col, lat_col):
        if c in df.columns:
            out = out.withMetadata(c, {_CRS_META_KEY: code})
    return out


def get_crs(df: DataFrame, lon_col: str = "lon") -> int | None:
    """Read the engine-tracked EPSG code off a frame (None when untagged)."""
    for f in df.schema.fields:
        if f.name == lon_col and f.metadata and _CRS_META_KEY in f.metadata:
            return int(f.metadata[_CRS_META_KEY])
    return None


def _resolve_crs_pair(
    sensors: DataFrame,
    layer: DataFrame,
    crs: int | str | None,
    sensor_lon: str,
    layer_lon: str,
    layer_lat: str,
    radius_col: str | None = None,
) -> DataFrame:
    """Resolve the effective CRS of both sides of a spatial join.

    Column metadata (``set_crs``) wins over the per-call ``crs`` kwarg; a
    side with neither raises ``MissingCRS``. When the two sides disagree,
    the LAYER is reprojected into the sensors' CRS before any distance
    predicate — mirroring the reference's reproject-before-predicate rule —
    so a 4326 sensor table can never silently join a 3857 layer. Returns
    the (possibly reprojected) layer.

    Unit safety: reprojection rewrites coordinates only. If the layer
    carries a per-row ``radius_col`` (units of its ORIGINAL CRS), the
    distance predicate downstream would compare reprojected coordinates
    against stale-unit radii — so that combination raises
    ``CRSUnitMismatch`` instead of silently mixing units. Scalar sizes
    passed by callers (``buffer_size``, ``radius_prefilter``) are by
    contract in the SENSORS' CRS units and are unaffected."""
    s_eff = get_crs(sensors, sensor_lon) if sensors is not None else None
    l_eff = get_crs(layer, layer_lon) if layer is not None else None
    if s_eff is None:
        s_eff = check_crs(crs)  # raises MissingCRS when kwarg is None too
    if l_eff is None:
        l_eff = check_crs(crs)
    if l_eff != s_eff:
        if radius_col and radius_col in layer.columns:
            raise CRSUnitMismatch(
                f"layer is EPSG:{l_eff} but sensors are EPSG:{s_eff}; "
                f"auto-reprojecting the layer would leave its radius column "
                f"{radius_col!r} in EPSG:{l_eff} units (degree/meter scale "
                f"varies with latitude — no linear rescale exists). Supply "
                f"radii in EPSG:{s_eff} units, or reproject the layer "
                f"yourself and recompute the radii."
            )
        layer = set_crs(
            reproject(layer, l_eff, s_eff, lon_col=layer_lon, lat_col=layer_lat),
            s_eff,
            lon_col=layer_lon,
            lat_col=layer_lat,
        )
    return layer


def distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Euclidean distance expression (reference ``euclidian_dist``,
    ``:363-367``) — canonical operand order for cross-engine determinism."""
    dx = x1 - x2
    dy = y1 - y2
    return F.sqrt(dx * dx + dy * dy)


def cell_neighbours(
    df: DataFrame, cx: Column, cy: Column, names: tuple[str, str], reach: int = 1
) -> DataFrame:
    """``df`` with each row repeated once per cell of the (2·reach+1)²
    block around its grid cell ``(cx, cy)``, that cell's index pair in
    columns ``names`` — the probe side of every grid-cell equi-join and
    neighbourhood sum: a row joined on its neighbours against the other
    side's own cell meets every partner within ``reach`` cells exactly
    once. Offsets run dx-major, dy-minor."""
    offs = F.array(*[F.lit(d) for d in range(-reach, reach + 1)])
    return (
        df.select("*", F.explode(offs).alias("__dx"))
        .select("*", F.explode(offs).alias("__dy"))
        .select(
            "*",
            (cx + F.col("__dx")).alias(names[0]),
            (cy + F.col("__dy")).alias(names[1]),
        )
        .drop("__dx", "__dy")
    )


def morton_key_expr(ix: Column, iy: Column, bits: int = 8) -> Column:
    """Z-order (Morton) interleave of two non-negative cell indices — the
    space-filling-curve sort key that makes parquet min/max row-group
    skipping effective for 2-D bbox predicates (SCALE.md: "spatially
    sorted" cell tables; the write-side twin of ``bbox_filter``'s
    read-side pruning).

    Pure integer arithmetic (floor-div + mod, no bitwise builtins), so the
    identical formula runs on any SQL engine for oracle parity: bit ``b`` of
    ``ix`` lands at position ``2b``, of ``iy`` at ``2b+1``.
    """
    key = F.lit(0).cast("long")
    for b in range(bits):
        xbit = F.floor(ix.cast("long") / F.lit(1 << b)) % 2
        ybit = F.floor(iy.cast("long") / F.lit(1 << b)) % 2
        key = key + xbit * F.lit(1 << (2 * b)) + ybit * F.lit(1 << (2 * b + 1))
    return key


def morton_key_sql(ix_sql: str, iy_sql: str, bits: int = 8) -> str:
    """The same Morton formula as ANSI SQL text (for DuckDB oracles)."""
    terms = []
    for b in range(bits):
        terms.append(f"(FLOOR(({ix_sql}) / {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"(FLOOR(({iy_sql}) / {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register("bbox_filter")
def bbox_filter(
    df: DataFrame,
    xmin: float,
    xmax: float,
    ymin: float,
    ymax: float,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """U4 coordinate-window subset (reference ``dataset.cx[...]``,
    ``:222-223,261-262``). Literal range predicates → parquet row-group
    skipping + partition pruning on spatially-partitioned data."""
    return df.filter(
        F.col(lon_col).between(xmin, xmax) & F.col(lat_col).between(ymin, ymax)
    )


@register("drop_invalid_points")
def drop_invalid_points(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    observation: Observation | None = None,
) -> DataFrame:
    """S1 validity filter for the point-geometry model: drop rows with
    null/NaN coordinates (reference warns per dropped invalid geometry,
    ``:478-485``).

    Observability: pass a ``pyspark.sql.Observation`` and the plan emits
    ``n_invalid`` / ``n_total`` metrics (collected by the scan that executes
    the query — zero extra jobs, unlike a separate ``count()``); after any
    action, ``observation.get`` returns the dropped-row count the reference
    surfaces as warnings."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    valid = lon.isNotNull() & lat.isNotNull() & ~F.isnan(lon) & ~F.isnan(lat)
    if observation is not None:
        df = df.observe(
            observation,
            F.sum(F.when(valid, 0).otherwise(1)).alias("n_invalid"),
            F.count(F.lit(1)).alias("n_total"),
        )
    return df.filter(valid)


@register("with_circle_area")
def with_circle_area(
    df: DataFrame, radius_col: str = "radius", out_col: str = "area"
) -> DataFrame:
    """U5 on-demand ``area`` derivation for the circle-geometry model
    (reference derives ``area`` as a pseudo-column, ``:210-217,249-256``)."""
    r = F.col(radius_col)
    return df.withColumn(out_col, F.lit(math.pi) * r * r)


@register("with_circle_bounds")
def with_circle_bounds(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    radius_col: str = "radius",
    prefix: str = "bounds",
) -> DataFrame:
    """U5 on-demand ``bounds`` derivation — documented INTENT of the
    reference's unreachable branch (``col == ['bounds']`` compares a string
    to a list, ``:214,253``, so 'bounds' can never be requested there).
    Emits the envelope as four numeric columns
    ``{prefix}_{minx,miny,maxx,maxy}`` so downstream multi-func aggregation
    works per component."""
    lon, lat, r = F.col(lon_col), F.col(lat_col), F.col(radius_col)
    return df.withColumns(
        {
            f"{prefix}_minx": lon - r,
            f"{prefix}_miny": lat - r,
            f"{prefix}_maxx": lon + r,
            f"{prefix}_maxy": lat + r,
        }
    )


def _total_bounds(
    df: DataFrame, lon_col: str, lat_col: str
) -> tuple[float, float, float, float]:
    """Driver-side bounds of the (small) sensor side — one tiny aggregate job
    whose result becomes literal pruning predicates on the big layer scan
    (the 100 TB-scale payoff of the reference's ``total_bounds`` pre-filter,
    ``:222,261``)."""
    row = df.agg(
        F.min(lon_col).alias("xmin"),
        F.max(lon_col).alias("xmax"),
        F.min(lat_col).alias("ymin"),
        F.max(lat_col).alias("ymax"),
    ).first()
    return (
        float(row["xmin"]),
        float(row["xmax"]),
        float(row["ymin"]),
        float(row["ymax"]),
    )


def _resolve_layer_columns(
    layer: DataFrame, columns: Sequence[str] | None, radius_col: str | None
) -> tuple[DataFrame, list[str]]:
    """Validate/derive requested stat columns (reference ``:208-217``):
    numeric columns pass through; ``area`` is derived on demand for circle
    layers; anything else raises ``ColumnException`` at analysis time."""
    if columns is None:
        numeric = {
            f.name
            for f in layer.schema.fields
            if f.dataType.typeName() in ("double", "float", "long", "integer")
        }
        return layer, sorted(numeric)
    cols = list(columns)
    out_cols: list[str] = []
    for c in cols:
        if c in layer.columns:
            out_cols.append(c)
        elif c == "area" and radius_col and radius_col in layer.columns:
            layer = with_circle_area(layer, radius_col, "area")
            out_cols.append("area")
        elif c == "bounds" and radius_col and radius_col in layer.columns:
            # Documented intent of the reference's unreachable 'bounds' branch
            # (U5 bug, ``:214,253``): expand to the four envelope components.
            layer = with_circle_bounds(layer, radius_col=radius_col)
            out_cols += ["bounds_minx", "bounds_miny", "bounds_maxx", "bounds_maxy"]
        else:
            raise ColumnException(f"column {c!r} absent from layer and not derivable")
    return layer, out_cols


@register("buffer_aggregate")
def buffer_aggregate(
    sensors: DataFrame,
    layer: DataFrame,
    columns: Sequence[str] | None = None,
    buffer_size: float = 0.0025,
    funcs: Sequence[str] = ("mean", "max"),
    source_name: str = "layer",
    sensor_id_col: str = "sensor_id",
    sensor_lon: str = "lon",
    sensor_lat: str = "lat",
    layer_lon: str = "lon",
    layer_lat: str = "lat",
    layer_radius: str | None = None,
    crs: int | str | None = 4326,
    bbox_prefilter: bool = True,
    zero_fill: bool = True,
    bucketed: bool = False,
) -> DataFrame:
    """A2 buffer-intersect aggregation (vector branch of
    ``add_buffer_aggregated_data``, ``:207-235``).

    Circle-circle intersection: a sensor buffer of radius ``buffer_size``
    intersects a zone circle of radius ``layer_radius`` iff
    ``dist(centers) <= buffer_size + radius``. Stats columns are named
    ``{func}_{source_name}_{col}`` (U6). Values are zero-filled before
    aggregation (reference ``fillna(0)`` in ``geometries_interesect``,
    ``:600``); sensors with no intersecting zone keep NULL stats (empty
    intersection → NaN after the index join, ``:507-508``).

    CRS: column metadata (``set_crs``) on either side wins over the ``crs``
    kwarg; mismatched sides reproject the layer into the sensors' CRS
    before the predicate (reference ``:218-220``). Units: ``buffer_size``
    is interpreted in the SENSORS' CRS; a mismatched layer that carries a
    ``layer_radius`` column raises ``CRSUnitMismatch`` instead of silently
    comparing stale-unit radii against reprojected coordinates.

    ``bucketed=True`` switches the theta-join to a GRID-BUCKETED HASH JOIN:
    both sides are assigned to square cells of size ≥ the max reach
    (buffer + max zone radius), the sensor side is exploded to its 3×3 cell
    neighbourhood, the join is an equi-join on the cell id, and the exact
    distance predicate runs as a residual filter. Identical results; the
    plan becomes a shuffled hash/sort-merge join instead of a
    BroadcastNestedLoopJoin — use it when the sensor side outgrows
    broadcast (the remaining scale assumption of the default path)."""
    layer = _resolve_crs_pair(
        sensors, layer, crs, sensor_lon, layer_lon, layer_lat, radius_col=layer_radius
    )
    layer, cols = _resolve_layer_columns(layer, columns, layer_radius)
    reach = F.lit(buffer_size) + (
        F.col(f"__l.{layer_radius}") if layer_radius else F.lit(0.0)
    )
    max_r = 0.0
    if layer_radius and (bbox_prefilter or bucketed):
        # One tiny driver-side aggregate whose result becomes plan literals.
        max_r = float(layer.agg(F.max(layer_radius)).first()[0] or 0.0)
    if bbox_prefilter:
        xmin, xmax, ymin, ymax = _total_bounds(sensors, sensor_lon, sensor_lat)
        # Widen by the max possible reach so no intersecting zone is pruned.
        pad = buffer_size + max_r
        layer = bbox_filter(
            layer, xmin - pad, xmax + pad, ymin - pad, ymax + pad, layer_lon, layer_lat
        )
    s_pre, l_pre = sensors, layer
    if bucketed:
        cell = buffer_size + max_r
        if cell <= 0.0:
            raise ValueError("bucketed=True needs a positive reach (buffer+radius)")
        # A zone's cell is always within one cell of any sensor it can reach
        # (cell size ≥ max reach), so the exploded 3×3 sensor neighbourhood
        # covers every intersecting pair exactly once: the layer row has ONE
        # cell, and the 9 sensor copies target 9 DISTINCT cells.
        s_pre = cell_neighbours(
            s_pre,
            F.floor(F.col(sensor_lon) / F.lit(cell)),
            F.floor(F.col(sensor_lat) / F.lit(cell)),
            ("__jx", "__jy"),
        )
        l_pre = l_pre.select(
            "*",
            F.floor(F.col(layer_lon) / F.lit(cell)).alias("__lx"),
            F.floor(F.col(layer_lat) / F.lit(cell)).alias("__ly"),
        )
    s = s_pre.alias("__s")
    l = l_pre.alias("__l")
    exact = (
        distance(
            F.col(f"__s.{sensor_lon}"),
            F.col(f"__s.{sensor_lat}"),
            F.col(f"__l.{layer_lon}"),
            F.col(f"__l.{layer_lat}"),
        )
        <= reach
    )
    if bucketed:
        cond = (
            (F.col("__s.__jx") == F.col("__l.__lx"))
            & (F.col("__s.__jy") == F.col("__l.__ly"))
            & exact
        )
    else:
        cond = exact
    pairs = s.join(l, on=cond, how="inner")
    stats = pairs.groupBy(F.col(f"__s.{sensor_id_col}").alias("__sid")).agg(
        *build_agg_exprs(cols, funcs, source_name, zero_fill=zero_fill)
    )
    return sensors.join(
        stats, on=sensors[sensor_id_col] == stats["__sid"], how="left"
    ).drop("__sid")


@register("knn_aggregate")
def knn_aggregate(
    sensors: DataFrame,
    layer: DataFrame,
    columns: Sequence[str] | None = None,
    k: int = 1,
    funcs: Sequence[str] = ("mean", "max"),
    source_name: str = "layer",
    sensor_id_col: str = "sensor_id",
    sensor_lon: str = "lon",
    sensor_lat: str = "lat",
    layer_lon: str = "lon",
    layer_lat: str = "lat",
    layer_id_col: str | None = None,
    radius_prefilter: float | None = None,
    crs: int | str | None = 4326,
) -> DataFrame:
    """A3 k-nearest-neighbour aggregation
    (``add_aggregated_data_neighbourhood``, ``:238-274`` + helper
    ``:540-560``): per sensor, aggregate the columns of its ``k`` nearest
    layer rows.

    Plan: distance join (optionally radius-bounded) →
    ``row_number() OVER (PARTITION BY sensor ORDER BY dist, layer_id)`` →
    ``rn <= k`` → groupBy + agg → left join back. Ties break on
    ``layer_id_col`` for determinism (the reference's ``nsmallest`` keeps
    first occurrence, ``:553``).

    ``radius_prefilter`` is the scale knob: with a radius bound the join is a
    range join the optimizer can prune instead of a full cross product; pick a
    radius that conservatively contains ≥ k neighbours (SURVEY.md §4).

    CRS: engine-tracked column metadata wins over the ``crs`` kwarg;
    a mismatched layer reprojects into the sensors' CRS first."""
    layer = _resolve_crs_pair(sensors, layer, crs, sensor_lon, layer_lon, layer_lat)
    layer, cols = _resolve_layer_columns(layer, columns, None)
    s = sensors.select(
        F.col(sensor_id_col).alias("__sid"),
        F.col(sensor_lon).alias("__sx"),
        F.col(sensor_lat).alias("__sy"),
    )
    d = distance(F.col("__sx"), F.col("__sy"), F.col(layer_lon), F.col(layer_lat))
    cond = d <= F.lit(radius_prefilter) if radius_prefilter is not None else F.lit(True)
    # The sensor side broadcasts; spread the streamed layer side across the
    # cluster first — a small layer read as 1-2 parquet splits would otherwise
    # serialize the whole nested-loop join on one task. Widen-only: a layer
    # already read as many splits keeps its parallelism (inputFiles() is a
    # cheap proxy for the scan's split count that doesn't force a plan
    # conversion the way .rdd.getNumPartitions() would).
    floor = max(sensors.sparkSession.sparkContext.defaultParallelism, 16)
    try:
        current = len(layer.inputFiles())
    except Exception:
        current = 0
    if current < floor:
        layer = layer.repartition(floor)
    pairs = F.broadcast(s).join(layer, on=cond, how="inner").withColumn("__dist", d)
    order = [F.col("__dist").asc_nulls_last()]
    if layer_id_col:
        order.append(F.col(layer_id_col).asc_nulls_last())
    w = Window.partitionBy("__sid").orderBy(*order)
    topk = pairs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    stats = topk.groupBy("__sid").agg(*build_agg_exprs(cols, funcs, source_name))
    return sensors.join(
        stats, on=sensors[sensor_id_col] == stats["__sid"], how="left"
    ).drop("__sid")


@register("zonal_stats")
def zonal_stats(
    sensors: DataFrame,
    cells: DataFrame,
    bands: Sequence[int] | None = None,
    buffer_size: float = 0.0025,
    funcs: Sequence[str] = ("mean", "max"),
    source_name: str = "raster",
    sensor_id_col: str = "sensor_id",
    sensor_lon: str = "lon",
    sensor_lat: str = "lat",
    cell_x: str = "x",
    cell_y: str = "y",
    band_col: str = "band",
    value_col: str = "value",
    nodata: float | None = 0.0,
    crs: int | str | None = 4326,
    bbox_prefilter: bool = True,
) -> DataFrame:
    """A1 raster zonal statistics (raster branch of
    ``add_buffer_aggregated_data``, ``:156-206`` + ``get_stats_raster``
    ``:515-538``) over the exploded cell-table raster model.

    Per sensor × band: stats of cell values within ``buffer_size`` of the
    sensor, excluding nodata cells (reference masks with ``nodata=0``,
    ``:520,528-530``). Output columns ``{func}_{source_name}_band{b}`` (U6)
    via conditional aggregation — single pass, no pivot job. Sensors whose
    buffer contains no cells keep NULL stats (out-of-raster → NaN,
    ``:521-526``).

    CRS: engine-tracked column metadata wins over the ``crs`` kwarg;
    a mismatched cell table reprojects into the sensors' CRS first.
    """
    cells = _resolve_crs_pair(sensors, cells, crs, sensor_lon, cell_x, cell_y)
    if bands is None:
        bands = [r[0] for r in cells.select(band_col).distinct().orderBy(F.asc_nulls_last(band_col)).collect()]
    cells = cells.filter(F.col(band_col).isin([int(b) for b in bands]))
    if nodata is not None:
        cells = cells.filter(F.col(value_col) != F.lit(nodata))
    if bbox_prefilter:
        xmin, xmax, ymin, ymax = _total_bounds(sensors, sensor_lon, sensor_lat)
        cells = bbox_filter(
            cells,
            xmin - buffer_size,
            xmax + buffer_size,
            ymin - buffer_size,
            ymax + buffer_size,
            cell_x,
            cell_y,
        )
    s = sensors.select(
        F.col(sensor_id_col).alias("__sid"),
        F.col(sensor_lon).alias("__sx"),
        F.col(sensor_lat).alias("__sy"),
    )
    cond = (
        distance(F.col("__sx"), F.col("__sy"), F.col(cell_x), F.col(cell_y))
        <= F.lit(buffer_size)
    )
    pairs = F.broadcast(s).join(cells, on=cond, how="inner")
    from sensordatapipelines_spark.operators.aggregates import BUILTIN_AGGS, agg_func_name

    exprs = []
    for func in funcs:
        fname = agg_func_name(func)
        builder = BUILTIN_AGGS[fname]
        for b in bands:
            exprs.append(
                builder(
                    F.when(F.col(band_col) == int(b), F.col(value_col))
                ).alias(f"{fname}_{source_name}_band{int(b)}")
            )
    stats = pairs.groupBy("__sid").agg(*exprs)
    return sensors.join(
        stats, on=sensors[sensor_id_col] == stats["__sid"], how="left"
    ).drop("__sid")


@register("intersect_filter")
def intersect_filter(
    layer: DataFrame,
    lon: float,
    lat: float,
    radius: float,
    layer_lon: str = "lon",
    layer_lat: str = "lat",
    fill_zero: bool = True,
) -> DataFrame:
    """U1 ``geometries_interesect`` (``:591-600``): rows of the layer within
    ``radius`` of a point, numeric nulls zero-filled (``fillna(0)``,
    ``:600``)."""
    out = layer.filter(
        distance(F.lit(lon), F.lit(lat), F.col(layer_lon), F.col(layer_lat))
        <= F.lit(radius)
    )
    if fill_zero:
        numeric = [
            f.name
            for f in out.schema.fields
            if f.dataType.typeName() in ("double", "float", "long", "integer")
        ]
        out = out.na.fill(0, subset=numeric)
    return out


# -- CRS / reprojection ----------------------------------------------------

_EARTH_RADIUS_M = 6378137.0

# WGS84 ellipsoid + UTM constants (public: Snyder, "Map Projections — A
# Working Manual", USGS PP 1395, eqs. 8-9..8-25 / 3-21; the standard
# ellipsoidal transverse-Mercator series, accurate to ~mm inside a zone).
_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_WGS84_E2 = _WGS84_F * (2.0 - _WGS84_F)
_WGS84_EP2 = _WGS84_E2 / (1.0 - _WGS84_E2)
_UTM_K0 = 0.9996
_UTM_FALSE_E = 500000.0
_UTM_FALSE_N = 10000000.0


def _utm_zone(epsg: int) -> tuple[int, bool] | None:
    """EPSG 32601-32660 → (zone, north); 32701-32760 → (zone, south)."""
    if 32601 <= epsg <= 32660:
        return epsg - 32600, True
    if 32701 <= epsg <= 32760:
        return epsg - 32700, False
    return None


def _utm_transform_df(
    df: DataFrame, lon_col: str, lat_col: str, zone: int, north: bool, forward: bool
) -> DataFrame:
    """4326 ↔ UTM via the Snyder transverse-Mercator series (eqs. 8-9..8-15
    forward, 8-17..8-25 inverse), evaluated as a VECTORIZED numpy kernel in
    an Arrow-batched pandas UDF.

    Why not pure Column expressions: the series is a ~12-level chain of
    mutually-referencing trig terms. Expressed as (even staged) projections,
    Catalyst's predicate pushdown substitutes the whole chain into every
    pushed predicate — a bbox filter over reprojected coordinates inflated
    the logical plan past driver heap (measured OOM on a 3-row input).
    Pushdown through a reprojection has no scan-pruning value anyway (the
    coordinates are computed, not stored), so the Arrow boundary costs two
    doubles per row and buys a plan Catalyst can actually optimize. The
    kernel itself is numpy-vectorized — no per-row Python."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e2, ep2, a, k0 = _WGS84_E2, _WGS84_EP2, _WGS84_A, _UTM_K0
    lam0 = math.radians(zone * 6 - 183)

    # no type hints: pandas_udf's hint inference can't resolve the
    # function-scoped 'pd' alias; the returnType string is authoritative
    @pandas_udf("x double, y double")
    def _tx(lon_s, lat_s):
        import numpy as np

        if forward:
            phi = np.radians(lat_s.values)
            sin_p, cos_p, tan_p = np.sin(phi), np.cos(phi), np.tan(phi)
            n = a / np.sqrt(1 - e2 * sin_p**2)
            t = tan_p**2
            c = ep2 * cos_p**2
            aa = (np.radians(lon_s.values) - lam0) * cos_p
            m = a * (
                (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
                - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
                + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
                - (35 * e2**3 / 3072) * np.sin(6 * phi)
            )
            x = (
                k0
                * n
                * (
                    aa
                    + (1 - t + c) * aa**3 / 6
                    + (5 - 18 * t + t**2 + 72 * c - 58 * ep2) * aa**5 / 120
                )
                + _UTM_FALSE_E
            )
            y = k0 * (
                m
                + n
                * tan_p
                * (
                    aa**2 / 2
                    + (5 - t + 9 * c + 4 * c**2) * aa**4 / 24
                    + (61 - 58 * t + t**2 + 600 * c - 330 * ep2) * aa**6 / 720
                )
            )
            if not north:
                y = y + _UTM_FALSE_N
            return pd.DataFrame({"x": x, "y": y})
        e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
        xp = lon_s.values - _UTM_FALSE_E
        yp = lat_s.values if north else lat_s.values - _UTM_FALSE_N
        mu = (yp / k0) / (a * (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256))
        phi1 = (
            mu
            + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
            + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
            + (151 * e1**3 / 96) * np.sin(6 * mu)
            + (1097 * e1**4 / 512) * np.sin(8 * mu)
        )
        sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
        c1 = ep2 * cos1**2
        t1 = tan1**2
        den = 1 - e2 * sin1**2
        n1 = a / np.sqrt(den)
        r1 = a * (1 - e2) / den**1.5
        d = xp / (n1 * k0)
        phi = phi1 - (n1 * tan1 / r1) * (
            d**2 / 2
            - (5 + 3 * t1 + 10 * c1 - 4 * c1**2 - 9 * ep2) * d**4 / 24
            + (61 + 90 * t1 + 298 * c1 + 45 * t1**2 - 252 * ep2 - 3 * c1**2)
            * d**6
            / 720
        )
        lam = lam0 + (
            d
            - (1 + 2 * t1 + c1) * d**3 / 6
            + (5 - 2 * c1 + 28 * t1 - 3 * c1**2 + 8 * ep2 + 24 * t1**2) * d**5 / 120
        ) / cos1
        return pd.DataFrame({"x": np.degrees(lam), "y": np.degrees(phi)})

    out = df.withColumn("__xy", _tx(F.col(lon_col), F.col(lat_col)))
    return (
        out.withColumns({lon_col: F.col("__xy.x"), lat_col: F.col("__xy.y")})
        .drop("__xy")
    )



@register("reproject")
def reproject(
    df: DataFrame,
    src_epsg: int,
    dst_epsg: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """CRS reprojection of point coordinates (the reference reprojects layers
    to a common CRS before every spatial predicate, ``:192-193,218-220,
    257-259``).

    EPSG:4326 ↔ EPSG:3857 (web-mercator) is a closed-form JVM expression;
    EPSG:4326 ↔ UTM (EPSG:32601-32660 north / 32701-32760 south) runs the
    Snyder transverse-Mercator series as a VECTORIZED numpy kernel in an
    Arrow-batched pandas UDF (see ``_utm_transform_df`` for why the series
    must not be a Column expression chain); remaining CRS pairs use pyproj
    the same way when installed. UTM↔3857 and UTM↔UTM compose through
    4326.
    """
    src, dst = check_crs(src_epsg), check_crs(dst_epsg)
    if src == dst:
        return df
    lon, lat = F.col(lon_col), F.col(lat_col)
    if _utm_zone(src) and dst != 4326:
        # Compose via 4326: both legs are closed forms.
        return reproject(
            reproject(df, src, 4326, lon_col, lat_col), 4326, dst, lon_col, lat_col
        )
    if _utm_zone(dst) and src != 4326:
        return reproject(
            reproject(df, src, 4326, lon_col, lat_col), 4326, dst, lon_col, lat_col
        )
    if src == 4326 and _utm_zone(dst):
        zone, north = _utm_zone(dst)
        return _utm_transform_df(df, lon_col, lat_col, zone, north, forward=True)
    if _utm_zone(src) and dst == 4326:
        zone, north = _utm_zone(src)
        return _utm_transform_df(df, lon_col, lat_col, zone, north, forward=False)
    if (src, dst) == (4326, 3857):
        x = F.radians(lon) * F.lit(_EARTH_RADIUS_M)
        y = F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / 2)) * F.lit(
            _EARTH_RADIUS_M
        )
        return df.withColumn(lon_col, x).withColumn(lat_col, y)
    if (src, dst) == (3857, 4326):
        lo = F.degrees(lon / F.lit(_EARTH_RADIUS_M))
        la = F.degrees(
            F.atan(F.exp(lat / F.lit(_EARTH_RADIUS_M))) * 2 - F.lit(math.pi / 2.0)
        )
        return df.withColumn(lon_col, lo).withColumn(lat_col, la)
    try:
        from pyproj import Transformer  # optional dependency
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            f"reprojection {src}→{dst} needs pyproj (not installed); "
            "4326↔3857 is available natively"
        ) from exc
    import pandas as pd  # pragma: no cover
    from pyspark.sql.functions import pandas_udf  # pragma: no cover

    transformer = Transformer.from_crs(src, dst, always_xy=True)  # pragma: no cover

    @pandas_udf("x double, y double")  # pragma: no cover
    def _tx(lon_s, lat_s):  # no hints: returnType string is authoritative
        xs, ys = transformer.transform(lon_s.values, lat_s.values)
        return pd.DataFrame({"x": xs, "y": ys})

    out = df.withColumn("__xy", _tx(lon, lat))  # pragma: no cover
    return (
        out.withColumn(lon_col, F.col("__xy.x"))
        .withColumn(lat_col, F.col("__xy.y"))
        .drop("__xy")
    )  # pragma: no cover


def point_in_polygon_predicate(
    vertices: list[tuple[float, float]],
    lon_sql: str = "lon",
    lat_sql: str = "lat",
) -> str:
    """Even-odd ray-cast point-in-polygon as ANSI SQL TEXT over a literal
    vertex ring — the identical string runs in Spark SQL and DuckDB, so the
    predicate is exactly oracle-able. One crossing-count CASE term per edge;
    for a literal polygon the whole predicate constant-folds into the scan
    filter (codegen, no UDF, no geometry library).

    Geometry upgrade path beyond the circle model (SURVEY §1.1): vertices
    ordered either winding, ring implicitly closed. Points exactly on an
    edge follow even-odd half-open semantics (deterministic, engine-equal)."""
    return f"({point_in_polygon_crossings_sql(vertices, lon_sql, lat_sql)}) % 2 = 1"


def point_in_polygon_crossings_sql(
    vertices: list[tuple[float, float]],
    lon_sql: str = "lon",
    lat_sql: str = "lat",
) -> str:
    """The ray-cast CROSSING COUNT as SQL text (one CASE term per
    non-horizontal edge). Exposed separately from the predicate so
    multi-ring (hole-aware) containment can SUM counts across rings and
    test oddness once — even-odd over outer+holes is exactly
    ``(Σ ring crossings) % 2 = 1``."""
    terms = []
    n = len(vertices)
    for i in range(n):
        xi, yi = vertices[i]
        xj, yj = vertices[(i + 1) % n]
        if yi == yj:  # horizontal edge can never satisfy the straddle test
            continue
        terms.append(
            f"(CASE WHEN (({yi!r} > {lat_sql}) <> ({yj!r} > {lat_sql}))"
            f" AND ({lon_sql} < ({xj!r} - {xi!r}) * ({lat_sql} - {yi!r})"
            f" / ({yj!r} - {yi!r}) + {xi!r}) THEN 1 ELSE 0 END)"
        )
    if not terms:
        raise ValueError("degenerate polygon: no non-horizontal edges")
    return "(" + " + ".join(terms) + ")"


@register("polygon_filter")
def polygon_filter(
    df: DataFrame,
    vertices: list[tuple[float, float]],
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Rows whose point lies inside the literal polygon (even-odd ray
    cast). The predicate is plain arithmetic on the coordinate columns —
    it runs inside whole-stage codegen and, combined with the polygon's
    bbox (emitted here as literal range predicates), prunes parquet row
    groups before the exact test runs."""
    xs = [v[0] for v in vertices]
    ys = [v[1] for v in vertices]
    bbox = (
        F.col(lon_col).between(min(xs), max(xs))
        & F.col(lat_col).between(min(ys), max(ys))
    )
    return df.filter(bbox & F.expr(point_in_polygon_predicate(vertices, lon_col, lat_col)))


def haversine_km_sql(
    lat1: str, lon1: str, lat2: str, lon2: str, radius_km: float = 6371.0088
) -> str:
    """Great-circle distance in km as ANSI SQL TEXT (radians/sin/cos/asin
    exist under the same names in Spark SQL and DuckDB, so the identical
    string runs in both — exactly oracle-able). Mean Earth radius
    6371.0088 km. Use when coordinates are geographic degrees and the
    planar Euclidean model (``distance``) would distort: at continental
    scale or high latitudes."""
    dphi = f"RADIANS(({lat2}) - ({lat1}))"
    dlam = f"RADIANS(({lon2}) - ({lon1}))"
    return (
        f"2 * {radius_km!r} * ASIN(SQRT("
        f"SIN({dphi} / 2) * SIN({dphi} / 2)"
        f" + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * SIN({dlam} / 2) * SIN({dlam} / 2)))"
    )


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Column form of ``haversine_km_sql`` — same operation order, so the
    two stay bit-identical."""
    r = 6371.0088
    dphi = F.radians(lat2 - lat1)
    dlam = F.radians(lon2 - lon1)
    h = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.sin(dlam / 2) * F.sin(dlam / 2)
    )
    return F.lit(2 * r) * F.asin(F.sqrt(h))


def polygon_crossings_expr(px: Column, py: Column, xs: Column, ys: Column) -> Column:
    """Ray-cast CROSSING COUNT for one data-driven ring (vertex arrays,
    1-based ``element_at``, ring implicitly closed). Crossing count as an
    integer fold over edge indexes; horizontal edges contribute false
    through the straddle test before the (unchecked) division can matter.
    Pure JVM expressions: no UDF, no geometry lib."""
    n = F.size(xs)
    idx = F.sequence(F.lit(1), n)

    def term(acc: Column, i: Column) -> Column:
        xi, yi = F.element_at(xs, i), F.element_at(ys, i)
        j = (i % n) + F.lit(1)
        xj, yj = F.element_at(xs, j), F.element_at(ys, j)
        straddles = (yi > py) != (yj > py)
        crosses = px < (xj - xi) * (py - yi) / (yj - yi) + xi
        return acc + F.when(straddles & crosses, F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(idx, F.lit(0), term)


def point_in_polygon_expr(px: Column, py: Column, xs: Column, ys: Column) -> Column:
    """Even-odd ray cast where the polygon is DATA — so a polygon LAYER
    can join against points row-by-row."""
    return polygon_crossings_expr(px, py, xs, ys) % 2 == F.lit(1)


def point_in_rings_expr(px: Column, py: Column, rings: Column) -> Column:
    """HOLE-AWARE even-odd containment over a multi-ring polygon part:
    ``rings`` is ``array<struct<xs: array<double>, ys: array<double>>>``
    (outer ring first, then holes — ``parse_wkb_polygons(keep_holes=True)``
    emits exactly this). Even-odd counts crossings over ALL rings and
    tests oddness once, so a point inside the outer ring but also inside a
    hole has an even total and lands OUTSIDE — no special-casing per
    ring."""
    total = F.aggregate(
        rings,
        F.lit(0),
        lambda acc, r: acc + polygon_crossings_expr(px, py, r["xs"], r["ys"]),
    )
    return total % 2 == F.lit(1)


@register("polygon_zonal_aggregate")
def polygon_zonal_aggregate(
    points: DataFrame,
    polygons: DataFrame,
    value_cols: Sequence[str],
    funcs: Sequence[str] = ("mean", "max"),
    source_name: str = "points",
    point_lon: str = "lon",
    point_lat: str = "lat",
    poly_id_col: str = "zone_id",
    poly_xs: str = "xs",
    poly_ys: str = "ys",
    poly_rings: str | None = None,
) -> DataFrame:
    """Per-polygon aggregation of the points inside it (true polygon zonal
    stats — the vector-geometry generalization of the circle-model A2).

    Join shape: the polygon side carries its vertex arrays; a per-row bbox
    (``array_min/max`` of the rings, computed once into columns) runs as
    the cheap first predicate, the exact ray cast as the residual. Points
    stream; polygons broadcast (zone layers are dims). Polygons with no
    points keep NULL stats (left join back), matching A2's empty-
    intersection semantics.

    ``poly_rings`` switches to HOLE-AWARE containment: name a column of
    ``array<struct<xs, ys>>`` (outer + holes, as
    ``parse_wkb_polygons(keep_holes=True)`` emits) and the residual runs
    the multi-ring even-odd cast (``point_in_rings_expr``); the bbox
    derives from the outer ring (holes lie inside it by validity).

    The residual fold pays Catalyst per (pair, edge): measured on 1M
    points, ~2.1 s at ≤12-vertex rings and 3.5 s at a 128-vertex ring
    (SCALE.md "Ray-cast cost"); realistic boundary complexity is where a
    vectorized ray cast would pay."""
    rings_src = poly_rings
    if rings_src is None:
        polygons_r = polygons.withColumn(
            "__rings",
            F.array(
                F.struct(
                    F.col(poly_xs).alias("xs"), F.col(poly_ys).alias("ys")
                )
            ),
        )
        rings_src = "__rings"
    else:
        polygons_r = polygons.withColumn("__rings", F.col(rings_src))
        rings_src = "__rings"
    outer = F.col("__rings")[0]
    p = polygons_r.withColumn("__bxmin", F.array_min(outer["xs"])).withColumn(
        "__bxmax", F.array_max(outer["xs"])
    ).withColumn("__bymin", F.array_min(outer["ys"])).withColumn(
        "__bymax", F.array_max(outer["ys"])
    )
    s = points.select(
        F.col(point_lon).alias("__px"),
        F.col(point_lat).alias("__py"),
        *[F.col(c) for c in value_cols],
    )
    bbox = (
        F.col("__px").between(F.col("__bxmin"), F.col("__bxmax"))
        & F.col("__py").between(F.col("__bymin"), F.col("__bymax"))
    )
    exact = point_in_rings_expr(F.col("__px"), F.col("__py"), F.col("__rings"))
    pairs = F.broadcast(p).join(s, on=bbox & exact, how="inner")
    stats = pairs.groupBy(F.col(poly_id_col).alias("__pid")).agg(
        *build_agg_exprs(list(value_cols), funcs, source_name)
    )
    return (
        polygons.join(
            stats, on=polygons[poly_id_col] == stats["__pid"], how="left"
        )
        .drop("__pid")
    )


@register("parse_wkb_points")
def parse_wkb_points(
    df: DataFrame,
    wkb_col: str = "geometry",
    lon_col: str = "lon",
    lat_col: str = "lat",
    crs: int | str | None = None,
) -> DataFrame:
    """Decode a WKB POINT binary column into lon/lat doubles — the concrete
    first step of SURVEY §1.1's "WKB as the geometry upgrade path": vector
    files exported by GIS tools carry geometry as WKB, and this turns them
    into the engine's native point model (optionally tagging the result
    with an engine-tracked CRS).

    Kernel: Arrow-batched ``pandas_udf`` + numpy byte slicing (IEEE-754
    reassembly from bytes is not expressible in SQL). Handles both byte
    orders; non-POINT or malformed values decode to NULL coordinates
    (callers drop them with ``drop_invalid_points``, keeping S1's
    validate-on-open semantics). Point-with-SRID (EWKB) payloads are
    accepted: the SRID header is skipped."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("x double, y double")
    def _decode(b):
        import numpy as np
        import struct

        xs, ys = [], []
        for v in b:
            try:
                if v is None or len(v) < 21:
                    raise ValueError
                little = v[0] == 1
                fmt = "<" if little else ">"
                gtype = struct.unpack_from(f"{fmt}I", v, 1)[0]
                off = 5
                if gtype & 0x20000000:  # EWKB SRID flag
                    off += 4
                if gtype & 0x0FFF != 1:  # not a POINT
                    raise ValueError
                x, y = struct.unpack_from(f"{fmt}dd", v, off)
                xs.append(x)
                ys.append(y)
            except (ValueError, struct.error):
                xs.append(None)
                ys.append(None)
        return pd.DataFrame({"x": xs, "y": ys})

    out = (
        df.withColumn("__pt", _decode(F.col(wkb_col)))
        .withColumn(lon_col, F.col("__pt.x"))
        .withColumn(lat_col, F.col("__pt.y"))
        .drop("__pt")
    )
    if crs is not None:
        out = set_crs(out, crs, lon_col=lon_col, lat_col=lat_col)
    return out


def encode_wkb_polygon(parts: "list[list[tuple[float, float]]]", srid: int | None = None) -> bytes:
    """Encode outer rings as little-endian WKB — POLYGON for one part,
    MULTIPOLYGON for several; optional EWKB SRID header. Driver-side helper
    for authoring polygon dim tables and round-trip tests (zone layers are
    dims — encoding never runs on the data path)."""
    import struct

    def ring_bytes(ring: "list[tuple[float, float]]") -> bytes:
        pts = list(ring)
        if pts[0] != pts[-1]:
            pts.append(pts[0])  # WKB rings close explicitly
        return struct.pack("<I", len(pts)) + b"".join(
            struct.pack("<dd", x, y) for x, y in pts
        )

    def polygon_bytes(ring, with_srid):
        gtype = 3 | (0x20000000 if with_srid else 0)
        head = struct.pack("<BI", 1, gtype)
        if with_srid:
            head += struct.pack("<I", srid)
        return head + struct.pack("<I", 1) + ring_bytes(ring)

    if len(parts) == 1:
        return polygon_bytes(parts[0], srid is not None)
    gtype = 6 | (0x20000000 if srid is not None else 0)
    head = struct.pack("<BI", 1, gtype)
    if srid is not None:
        head += struct.pack("<I", srid)
    return (
        head
        + struct.pack("<I", len(parts))
        + b"".join(polygon_bytes(p, False) for p in parts)
    )


@register("parse_wkb_polygons")
def parse_wkb_polygons(
    df: DataFrame,
    wkb_col: str = "geometry",
    xs_col: str = "xs",
    ys_col: str = "ys",
    part_col: str = "part",
    keep_holes: bool = False,
    rings_col: str = "rings",
) -> DataFrame:
    """Decode a WKB POLYGON / MULTIPOLYGON binary column into the
    array-of-vertex ring format ``polygon_zonal_aggregate`` consumes —
    closing the reference's real vector-layer ingestion path
    (``gpd.read_file`` at ``/root/reference/src/data_preprocessing.py:471-475``)
    without a geometry library: GIS exports carry polygons as WKB, and this
    turns them into data-driven ring columns.

    One output row PER PART (``posexplode``): a MultiPolygon zone yields
    one ring row per part, sharing the zone's other columns; parts are
    assumed disjoint (standard MultiPolygon validity), so per-zone stats
    downstream aggregate across parts without double counting. By default
    only the OUTER ring surfaces (``xs``/``ys`` — the format the
    single-ring ray cast consumes); ``keep_holes=True`` ADDITIONALLY
    emits ``rings_col`` (outer + holes as an array of ring structs), the
    input of the hole-aware ``point_in_rings_expr`` even-odd cast.
    The explicit WKB closing vertex is dropped: ``point_in_polygon_expr``
    closes rings implicitly. Both byte orders and EWKB SRID headers are
    accepted; malformed / non-polygon values yield a NULL-ring row
    (callers filter ``xs IS NULL``). Arrow-batched ``pandas_udf`` —
    IEEE-754 byte reassembly is not expressible in SQL; doubles round-trip
    bit-exactly, so decoded vertices are oracle-exact."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "array<array<struct<xs: array<double>, ys: array<double>>>>"
    )
    def _decode(col):
        import struct

        def read_ring(buf, off, fmt):
            (npts,) = struct.unpack_from(f"{fmt}I", buf, off)
            off += 4
            coords = struct.unpack_from(f"{fmt}{2 * npts}d", buf, off)
            off += 16 * npts
            xs, ys = list(coords[0::2]), list(coords[1::2])
            if npts > 1 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                xs, ys = xs[:-1], ys[:-1]
            return (xs, ys), off

        def read_polygon_body(buf, off, fmt):
            (nrings,) = struct.unpack_from(f"{fmt}I", buf, off)
            off += 4
            rings = []
            for _ in range(nrings):
                ring, off = read_ring(buf, off, fmt)
                rings.append(ring)
            return rings, off

        def read_header(buf, off):
            fmt = "<" if buf[off] == 1 else ">"
            (gtype,) = struct.unpack_from(f"{fmt}I", buf, off + 1)
            off += 5
            if gtype & 0x20000000:  # EWKB SRID
                off += 4
            return fmt, gtype & 0x0FFF, off

        out = []
        for v in col:
            try:
                if v is None or len(v) < 9:
                    raise ValueError
                fmt, base, off = read_header(v, 0)
                if base == 3:
                    rings, _ = read_polygon_body(v, off, fmt)
                    out.append([rings])
                elif base == 6:
                    (nparts,) = struct.unpack_from(f"{fmt}I", v, off)
                    off += 4
                    parts = []
                    for _ in range(nparts):
                        pfmt, pbase, off = read_header(v, off)
                        if pbase != 3:
                            raise ValueError
                        rings, off = read_polygon_body(v, off, pfmt)
                        parts.append(rings)
                    out.append(parts)
                else:
                    raise ValueError
            except (ValueError, IndexError, struct.error):
                out.append(None)
        return pd.Series(out)

    out = (
        df.withColumn("__parts", _decode(F.col(wkb_col)))
        .select(
            "*",
            F.posexplode_outer("__parts").alias(part_col, "__part_rings"),
        )
        .withColumn(xs_col, F.col("__part_rings")[0]["xs"])
        .withColumn(ys_col, F.col("__part_rings")[0]["ys"])
    )
    if keep_holes:
        out = out.withColumn(rings_col, F.col("__part_rings"))
    return out.drop("__parts", "__part_rings")


def ring_cross_sum_expr(xs: Column, ys: Column) -> Column:
    """Signed shoelace sum ``Σ (x_i·y_{i+1} − x_{i+1}·y_i)`` over an
    implicitly-closed vertex ring (1-based ``element_at``, last vertex
    wraps to the first) — a left fold in index order, so any engine
    reproduces the float sum bit-for-bit. Positive = counter-clockwise."""
    n = F.size(xs)
    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            F.element_at(xs, i)
            * F.element_at(ys, F.when(i == n, F.lit(1)).otherwise(i + 1))
            - F.element_at(xs, F.when(i == n, F.lit(1)).otherwise(i + 1))
            * F.element_at(ys, i)
        ),
    )


def ring_area_expr(xs: Column, ys: Column) -> Column:
    """Planar polygon area of a vertex ring via the shoelace formula —
    winding-independent (absolute value). The 'area' derivation of §1.1
    for REAL polygon geometry, beyond the bbox-derived approximation."""
    return F.abs(ring_cross_sum_expr(xs, ys)) / F.lit(2.0)


def ring_centroid_expr(xs: Column, ys: Column) -> Column:
    """Planar polygon centroid ``struct(cx, cy)`` of a vertex ring (the
    standard signed-area-weighted formula; correct for either winding
    because the signed cross sum cancels in the ratio). Degenerate rings
    (zero area) yield NULLs rather than a division blow-up."""
    n = F.size(xs)
    cross = ring_cross_sum_expr(xs, ys)

    def wrapped(arr: Column, i: Column) -> Column:
        return F.element_at(arr, F.when(i == n, F.lit(1)).otherwise(i + 1))

    cx_sum = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at(xs, i) + wrapped(xs, i))
        * (
            F.element_at(xs, i) * wrapped(ys, i)
            - wrapped(xs, i) * F.element_at(ys, i)
        ),
    )
    cy_sum = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at(ys, i) + wrapped(ys, i))
        * (
            F.element_at(xs, i) * wrapped(ys, i)
            - wrapped(xs, i) * F.element_at(ys, i)
        ),
    )
    safe = F.when(cross != 0.0, cross * F.lit(3.0))
    return F.struct(
        (cx_sum / safe).alias("cx"),
        (cy_sum / safe).alias("cy"),
    )


@register("dbscan_grid")
def dbscan_grid(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int = 3,
) -> DataFrame:
    """Grid-bucketed DBSCAN → ``(id, role, cluster)`` with role ∈
    {core, border, noise}: the density-based spatial clusterer
    (station groupings, hot-zone extraction) in its scalable form.

    Scale shape (100 TB): candidate neighbor pairs come from a 3×3
    CELL-OFFSET EQUI-join on ``floor(coord/eps)`` grid keys — a keyed
    shuffle with fan-out 9 per point, never an all-pairs theta join;
    the exact ``dist² ≤ eps²`` predicate filters inside the join stage.
    Core points (≥ ``min_pts`` neighbors, self excluded) connect into
    clusters via the engine's min-label ``connected_components`` (keyed
    rounds, lineage-truncated); border points attach to their SMALLEST
    core neighbor's cluster (deterministic); everything else is noise.
    Cluster density is the skew knob: a cell holding k points costs
    k² pair candidates — shrink ``eps`` or pre-aggregate stacked
    duplicates if one cell dominates."""
    from sensordatapipelines_spark.operators.dedup import connected_components

    pts = df.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).withColumns(
        {
            "__cx": F.floor(F.col("__x") / F.lit(float(eps))).cast("long"),
            "__cy": F.floor(F.col("__y") / F.lit(float(eps))).cast("long"),
        }
    )
    probe = cell_neighbours(
        pts, F.col("__cx"), F.col("__cy"), ("__px", "__py")
    ).select("__id", "__x", "__y", "__px", "__py")
    right = pts.select(
        F.col("__id").alias("__idb"),
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        F.col("__cx").alias("__px"),
        F.col("__cy").alias("__py"),
    )
    dx = F.col("__x") - F.col("__xb")
    dy = F.col("__y") - F.col("__yb")
    cand = (
        probe.join(right, ["__px", "__py"])
        .filter(F.col("__id") != F.col("__idb"))
        .filter(dx * dx + dy * dy <= F.lit(float(eps) * float(eps)))
        .select("__id", "__idb")
        # the 3×3 probe can pair two points once per shared cell only when
        # they sit in the same cell — each ordered pair survives exactly
        # once because the right side binds to ITS OWN cell
        #
        # Three consumers (degree count, core-core edges, border attach)
        # would each re-run the exploded cell join — materialize once;
        # O(neighbor pairs) rows, the adamic_adar/triangle contract.
        .localCheckpoint()
    )
    neigh = cand.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    core = (
        neigh.filter(F.col("__n") >= F.lit(int(min_pts)))
        .select("__id")
        .localCheckpoint()  # tiny; consumed by three downstream joins
    )
    core_b = core.select(F.col("__id").alias("__idb"))
    core_edges = (
        cand.join(core, "__id", "left_semi")
        .join(core_b, "__idb", "left_semi")
        .filter(F.col("__id") < F.col("__idb"))
        .select(F.col("__id").alias("id_a"), F.col("__idb").alias("id_b"))
    )
    comp = connected_components(core_edges)
    core_clusters = core.join(
        comp.select(F.col("node").alias("__id"), "component"), "__id", "left"
    ).select(
        "__id",
        F.coalesce(F.col("component"), F.col("__id")).alias("cluster"),
    )
    border = (
        cand.join(core, "__id", "left_anti")
        .join(
            core_clusters.select(
                F.col("__id").alias("__idb"), F.col("cluster")
            ),
            "__idb",
        )
        .groupBy("__id")
        .agg(F.min("cluster").alias("cluster"))
    )
    labeled = core_clusters.select(
        "__id", F.lit("core").alias("role"), "cluster"
    ).unionByName(border.select("__id", F.lit("border").alias("role"), "cluster"))
    noise = pts.select("__id").join(labeled.select("__id"), "__id", "left_anti")
    return labeled.unionByName(
        noise.select(
            "__id",
            F.lit("noise").alias("role"),
            F.lit(None).cast("long").alias("cluster"),
        )
    ).select(F.col("__id").alias(id_col), "role", "cluster")


@register("density_grid")
def density_grid(
    sensors: DataFrame,
    cell_size: float = 0.02,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Spatial density heat-map with 3×3 neighborhood smoothing →
    ``(gx, gy, n, n_smooth)``: points bin to FLOOR(coord/cell) grid
    cells, and each cell's smoothed count is the sum of its 3×3
    neighborhood — computed by exploding every cell's count to its nine
    neighbor keys and re-aggregating (two keyed hash aggregates on
    grid-cell keys; the fact table never self-joins, so the plan scales
    with distinct CELLS, not points²). All-integer output; the binning
    doubles are computed identically in the oracle."""
    g = sensors.select(
        F.floor(F.col(lon_col) / F.lit(float(cell_size))).alias("gx"),
        F.floor(F.col(lat_col) / F.lit(float(cell_size))).alias("gy"),
    ).groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
    contrib = cell_neighbours(g, F.col("gx"), F.col("gy"), ("tx", "ty")).select(
        "tx", "ty", F.col("n").alias("cn")
    )
    smooth = contrib.groupBy(
        F.col("tx").alias("gx"), F.col("ty").alias("gy")
    ).agg(F.sum("cn").alias("n_smooth"))
    return (
        g.join(smooth, ["gx", "gy"])
        .select("gx", "gy", "n", "n_smooth")
    )
