"""Grid interpolation operators (reference I1/I2/I3).

- IDW (``inverse_distance_weighting``,
  ``/root/reference/src/data_preprocessing.py:369-389``) is fully declarative:
  grid generation via ``spark.range`` cross-joined lon × lat, a (broadcast)
  cross join against the sensors, and ``groupBy(grid).agg(sum(v·w)/sum(w))``.
  The reference has two defects here (SURVEY.md §2.4 I2): a loop-index bug
  that writes only the first grid value, and no zero-distance guard (∞
  weights). The engine implements the documented intent: every grid point is
  interpolated, and a grid point coinciding with sensors takes the mean of the
  coincident sensor values (exact-hit guard).
- Ordinary kriging (``simple_kriging``, ``:392-421`` — "Implements Ordinary
  Kriging" per its own docstring ``:394``) is the canonical
  **driver-fit / executor-predict** pattern: the variogram is fit and the
  kriging matrix factorized on the driver (sensor count is small), then grid
  prediction is distributed via Arrow-batched ``mapInPandas``. Implemented
  natively with numpy (the reference delegates to pykrige with
  ``variogram_model='linear'``, ``:413-414``).

At scale the grid side is the big relation: it is generated distributed (no
driver materialization), the sensor table broadcasts, and the aggregation is
partial+final. For 100 TB-class grids, bound the work with ``extent`` tiles.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sensordatapipelines_spark.operators.spatial import (
    _total_bounds,
    cell_neighbours,
    distance,
)
from sensordatapipelines_spark.registry import register


def int_power(col: Column, p: int | float) -> Column:
    """``col**p`` via repeated multiplication for small integer ``p`` —
    IEEE-exact and engine-portable (``pow`` with a float exponent is not
    correctly rounded and differs across engines)."""
    if isinstance(p, (int, float)) and float(p).is_integer() and 1 <= int(p) <= 8:
        out = col
        for _ in range(int(p) - 1):
            out = out * col
        return out
    return F.pow(col, F.lit(p))


def make_grid(
    spark: SparkSession,
    extent: tuple[float, float, float, float],
    lon_step: float,
    lat_step: float,
) -> DataFrame:
    """Regular grid over ``extent=(xmin, xmax, ymin, ymax)`` with
    ``np.arange``-compatible semantics (endpoint excluded; reference
    ``:376-377``). Generated distributed: ``range(nx) × range(ny)`` with
    coordinates as ``min + i*step`` (multiplication, not accumulation — exact
    and portable)."""
    xmin, xmax, ymin, ymax = extent
    nx = max(0, math.ceil((xmax - xmin) / lon_step - 1e-12))
    ny = max(0, math.ceil((ymax - ymin) / lat_step - 1e-12))
    gx = spark.range(nx).select(
        (F.lit(xmin) + F.col("id") * F.lit(lon_step)).alias("gx")
    )
    gy = spark.range(ny).select(
        (F.lit(ymin) + F.col("id") * F.lit(lat_step)).alias("gy")
    )
    return gx.crossJoin(gy)


@register("idw")
def idw(
    sensors: DataFrame,
    val_column: str,
    power: float = 2.0,
    lon_step: float = 0.001,
    lat_step: float = 0.001,
    extent: tuple[float, float, float, float] | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """I2 inverse-distance-weighted interpolation onto a regular grid.

    Output: ``(gx, gy, {val_column}_idw)``. Missing sensor values are
    zero-filled before weighting (reference ``fillna(0)``, ``:374``). A grid
    point exactly on ≥1 sensor takes the mean of coincident sensor values
    (zero-distance guard the reference lacks)."""
    spark = sensors.sparkSession
    if extent is None:
        extent = _total_bounds(sensors, lon_col, lat_col)
    grid = make_grid(spark, extent, lon_step, lat_step)
    s = sensors.select(
        F.col(lon_col).alias("__sx"),
        F.col(lat_col).alias("__sy"),
        F.coalesce(F.col(val_column), F.lit(0.0)).alias("__v"),
    )
    pairs = grid.join(F.broadcast(s))  # cross join; sensor side broadcast
    d = distance(F.col("gx"), F.col("gy"), F.col("__sx"), F.col("__sy"))
    dp = int_power(d, power)
    agg = pairs.groupBy("gx", "gy").agg(
        F.sum(F.when(d > 0, F.col("__v") / dp)).alias("__num"),
        F.sum(F.when(d > 0, F.lit(1.0) / dp)).alias("__den"),
        F.avg(F.when(d == 0, F.col("__v"))).alias("__exact"),
    )
    out_col = f"{val_column}_idw"
    return agg.select(
        "gx",
        "gy",
        F.coalesce(F.col("__exact"), F.col("__num") / F.col("__den")).alias(out_col),
    )


def _experimental_variogram(
    coords: np.ndarray, values: np.ndarray, n_lags: int = 6
) -> tuple[np.ndarray, np.ndarray]:
    """Lag-binned experimental semivariogram ``(centers, means)`` — the
    shared input of every model fit. Driver-side: sensor counts are small
    by construction (§1.1)."""
    dx = coords[:, 0][:, None] - coords[:, 0][None, :]
    dy = coords[:, 1][:, None] - coords[:, 1][None, :]
    h = np.sqrt(dx * dx + dy * dy)
    gamma = 0.5 * (values[:, None] - values[None, :]) ** 2
    iu = np.triu_indices(len(values), k=1)
    h, gamma = h[iu], gamma[iu]
    if h.size == 0 or float(h.max()) == 0.0:
        return np.array([]), np.array([])
    bins = np.linspace(0.0, float(h.max()), n_lags + 1)
    centers, means = [], []
    for i in range(n_lags):
        m = (h >= bins[i]) & (h < bins[i + 1]) if i < n_lags - 1 else (h >= bins[i])
        if m.any():
            centers.append(0.5 * (bins[i] + bins[i + 1]))
            means.append(float(gamma[m].mean()))
    return np.array(centers), np.array(means)


def variogram_gamma(model: str, params: tuple, h: np.ndarray) -> np.ndarray:
    """Evaluate the semivariogram model γ(h) (pykrige parameterizations —
    the reference exposes ``variogram_model`` and delegates there,
    ``/root/reference/src/data_preprocessing.py:413-414``):

    - ``linear``: ``params=(nugget, slope)``, γ = nugget + slope·h
    - ``spherical``: ``params=(nugget, sill, range)``,
      γ = nugget + psill·(1.5·h/a − 0.5·(h/a)³) for h < a, sill beyond
    - ``exponential``: ``params=(nugget, sill, range)``,
      γ = nugget + psill·(1 − e^(−3h/a)) (95 % of the sill at h = a)

    where ``psill = sill − nugget``. γ(0) is the nugget by formula; the
    kriging matrices zero their diagonal explicitly, which is what makes
    nugget-0 kriging an exact interpolator."""
    h = np.asarray(h, dtype="float64")
    if model == "linear":
        nugget, slope = params
        return nugget + slope * h
    if model == "spherical":
        nugget, sill, rng = params
        psill, a = sill - nugget, max(float(rng), 1e-300)
        hr = h / a
        return np.where(
            h < a, nugget + psill * (1.5 * hr - 0.5 * hr**3), sill
        )
    if model == "exponential":
        nugget, sill, rng = params
        psill, a = sill - nugget, max(float(rng), 1e-300)
        return nugget + psill * (1.0 - np.exp(-3.0 * h / a))
    raise ValueError(f"unknown variogram model {model!r}")


def fit_variogram(
    coords: np.ndarray,
    values: np.ndarray,
    model: str = "linear",
    n_lags: int = 6,
) -> tuple:
    """Fit the chosen variogram model to the experimental semivariogram.

    ``linear`` solves the 2-parameter least squares directly. The bounded
    models (``spherical`` / ``exponential``) are linear in (nugget, psill)
    GIVEN the range, so the fit is a deterministic grid search over 24
    candidate ranges spanning the lag domain, each solved by 2-parameter
    least squares (clamped non-negative), keeping the lowest-SSE
    candidate — no RNG, no iterative optimizer, reproducible across
    engines."""
    centers, means = _experimental_variogram(coords, values, n_lags)
    if model == "linear":
        if centers.size == 0:
            return 0.0, 0.0
        if centers.size < 2:
            return 0.0, float(means.mean() / max(float(centers.mean()), 1e-300))
        A = np.vstack([np.ones(len(centers)), centers]).T
        sol, *_ = np.linalg.lstsq(A, means, rcond=None)
        return max(float(sol[0]), 0.0), float(sol[1])
    if model not in ("spherical", "exponential"):
        raise ValueError(f"unknown variogram model {model!r}")
    if centers.size == 0:
        return 0.0, 0.0, 1.0
    if centers.size < 2:
        return 0.0, float(means.mean()), float(centers.mean() or 1.0)
    best = None
    hmax = float(centers.max())
    for a in np.linspace(hmax / 24.0, 2.0 * hmax, 24):
        # basis value of the unit-psill model at each lag center
        if model == "spherical":
            hr = np.minimum(centers / a, 1.0)
            base = 1.5 * hr - 0.5 * hr**3
        else:
            base = 1.0 - np.exp(-3.0 * centers / a)
        A = np.vstack([np.ones(len(centers)), base]).T
        sol, *_ = np.linalg.lstsq(A, means, rcond=None)
        nugget, psill = max(float(sol[0]), 0.0), max(float(sol[1]), 0.0)
        resid = means - (nugget + psill * base)
        sse = float(resid @ resid)
        if best is None or sse < best[0]:
            best = (sse, nugget, nugget + psill, float(a))
    _, nugget, sill, rng = best
    return nugget, sill, rng


def kriging_inverse(coords: np.ndarray, model: str, params: tuple) -> np.ndarray:
    """``pinv`` of the ordinary-kriging system ``[[Γ, 1], [1ᵀ, 0]]`` over
    the sensor ``coords`` (Γ the model semivariances, zero diagonal) — the
    factorization both kriging operators solve against. ``pinv`` keeps
    the system solvable when sensors coincide."""
    n = len(coords)
    dx = coords[:, 0][:, None] - coords[:, 0][None, :]
    dy = coords[:, 1][:, None] - coords[:, 1][None, :]
    gamma_ss = variogram_gamma(model, params, np.sqrt(dx * dx + dy * dy))
    np.fill_diagonal(gamma_ss, 0.0)
    K = np.zeros((n + 1, n + 1))
    K[:n, :n] = gamma_ss
    K[n, :n] = 1.0
    K[:n, n] = 1.0
    return np.linalg.pinv(K)


def kriging_predict(
    K_inv: np.ndarray,
    coords: np.ndarray,
    values: np.ndarray,
    model: str,
    params: tuple,
    gxs: np.ndarray,
    gys: np.ndarray,
) -> np.ndarray:
    """Estimates at grid points ``(gxs, gys)``: per point the RHS
    ``[γ(p), 1]``, the weights ``w = K⁻¹·rhs`` and ``Σ wᵢ·vᵢ``."""
    n = len(values)
    ddx = gxs[:, None] - coords[None, :, 0]
    ddy = gys[:, None] - coords[None, :, 1]
    h = np.sqrt(ddx * ddx + ddy * ddy)
    rhs = np.empty((len(gxs), n + 1))
    rhs[:, :n] = variogram_gamma(model, params, h)
    rhs[:, n] = 1.0
    w = rhs @ K_inv.T  # (m, n+1)
    return w[:, :n] @ values


@register("ordinary_kriging")
def ordinary_kriging(
    sensors: DataFrame,
    val_column: str,
    lon_step: float = 0.001,
    lat_step: float = 0.001,
    extent: tuple[float, float, float, float] | None = None,
    variogram: tuple | None = None,
    variogram_model: str = "linear",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_points: int = 1000,
) -> DataFrame:
    """I3 ordinary kriging onto a regular grid → ``(gx, gy, {val}_krig)``.

    Driver: collect sensors (small side by design), fit the variogram of
    ``variogram_model`` — ``linear`` (reference default), ``spherical`` or
    ``exponential`` (the reference exposes the model as a pykrige
    pass-through, ``:413-414``) — or take explicit ``variogram`` params
    ((nugget, slope) linear / (nugget, sill, range) bounded) for
    deterministic tests; build and factorize the ordinary-kriging matrix
    once. Executors: for each Arrow batch of grid points, build the RHS
    semivariance vectors and solve with the shipped factorization — O(n²)
    per point, fully parallel over the grid, no shuffle."""
    spark = sensors.sparkSession
    if extent is None:
        extent = _total_bounds(sensors, lon_col, lat_col)
    # The OK system is dense ((n+1)²): global kriging on >~1000 points is a
    # memory/latency trap (15k sensors → a 1.8 GB matrix). Cap the fitted set
    # deterministically (spatially-ordered subsample); the scale path beyond
    # that is moving-window kriging, which reuses this operator per tile.
    sel = sensors.select(
        F.col(lon_col).alias("x"),
        F.col(lat_col).alias("y"),
        F.coalesce(F.col(val_column), F.lit(0.0)).alias("v"),
    )
    # One collect at or under the cap; only a larger input pays a second,
    # ordered one.
    pdf = sel.limit(max_points + 1).toPandas()
    if len(pdf) > max_points:
        order = [F.asc_nulls_last(c) for c in ("x", "y", "v")]
        pdf = sel.orderBy(*order).limit(max_points).toPandas()
    pts = pdf.to_numpy(dtype="float64")
    coords, values = pts[:, :2], pts[:, 2]
    if variogram is None:
        variogram = fit_variogram(coords, values, variogram_model)
    bc = spark.sparkContext.broadcast(
        {
            "coords": coords,
            "values": values,
            "K_inv": kriging_inverse(coords, variogram_model, variogram),
            "model": variogram_model,
            "params": tuple(variogram),
        }
    )
    grid = make_grid(spark, extent, lon_step, lat_step)
    out_col = f"{val_column}_krig"
    schema = f"gx double, gy double, {out_col} double"

    def predict(batches):
        import pandas as pd

        m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            gxs = pdf["gx"].to_numpy(dtype="float64")
            gys = pdf["gy"].to_numpy(dtype="float64")
            pred = kriging_predict(
                m["K_inv"], m["coords"], m["values"], m["model"], m["params"], gxs, gys
            )
            yield pd.DataFrame({"gx": gxs, "gy": gys, out_col: pred})

    return grid.mapInPandas(predict, schema=schema)


@register("kriging_tiled")
def kriging_tiled(
    sensors: DataFrame,
    val_column: str,
    lon_step: float = 0.001,
    lat_step: float = 0.001,
    extent: tuple[float, float, float, float] | None = None,
    tile_size: float = 0.1,
    halo: float | None = None,
    variogram: tuple | None = None,
    variogram_model: str = "linear",
    lon_col: str = "lon",
    lat_col: str = "lat",
    max_tile_sensors: int = 500,
) -> DataFrame:
    """Moving-window (tiled) ordinary kriging → ``(gx, gy, {val}_krig)`` —
    the scale path past ``ordinary_kriging``'s ``max_points`` cap
    (SCALE.md): the grid is cut into square tiles, each tile is kriged
    against ONLY the sensors inside its halo-expanded window, and the
    per-tile fit+factorize+predict runs INSIDE ``applyInPandas`` — no
    driver-side fit, no global (n+1)² system, tiles fully parallel.

    Plan shape: grid points tag their tile; sensors fan out to every tile
    whose halo window contains them (bounded explode: ≤ (2·ceil(halo/tile)
    + 1)² tiles per sensor); one union + one groupBy(tile) shuffle; the
    dense linear algebra is per-tile and bounded by ``max_tile_sensors``
    (deterministic spatially-ordered subsample, mirroring the global
    operator's cap). At 1000 executors this is embarrassingly parallel in
    tiles. Per-tile variogram fitting is the moving-window point — local
    stationarity instead of one global model; pass ``variogram=(nugget,
    slope)`` to pin it for cross-checks against the global operator.
    Tiles with zero sensors in the window predict NULL.
    """
    spark = sensors.sparkSession
    if extent is None:
        extent = _total_bounds(sensors, lon_col, lat_col)
    if halo is None:
        halo = tile_size / 2.0
    xmin, _xmax, ymin, _ymax = extent
    reach = math.ceil(halo / tile_size - 1e-12)

    grid = make_grid(spark, extent, lon_step, lat_step).select(
        F.floor((F.col("gx") - F.lit(xmin)) / F.lit(tile_size)).alias("__tx"),
        F.floor((F.col("gy") - F.lit(ymin)) / F.lit(tile_size)).alias("__ty"),
        F.col("gx").alias("x"),
        F.col("gy").alias("y"),
        F.lit(None).cast("double").alias("v"),
        F.lit(1).alias("__role"),  # 1 = grid point
    )
    home_tx = F.floor((F.col(lon_col) - F.lit(xmin)) / F.lit(tile_size))
    home_ty = F.floor((F.col(lat_col) - F.lit(ymin)) / F.lit(tile_size))
    s = (
        cell_neighbours(
            sensors.select(
                F.col(lon_col).alias("x"),
                F.col(lat_col).alias("y"),
                F.coalesce(F.col(val_column), F.lit(0.0)).alias("v"),
                home_tx.alias("__htx"),
                home_ty.alias("__hty"),
            ),
            F.col("__htx"),
            F.col("__hty"),
            ("__tx", "__ty"),
            reach,
        )
        .select(
            "__tx",
            "__ty",
            "x",
            "y",
            "v",
            F.lit(0).alias("__role"),  # 0 = sensor
        )
        # keep only fan-out copies whose halo window truly contains the
        # sensor (the corner copies of the 3x3 explode may not)
        .filter(
            (F.col("x") >= F.lit(xmin) + F.col("__tx") * F.lit(tile_size) - F.lit(halo))
            & (F.col("x") < F.lit(xmin) + (F.col("__tx") + 1) * F.lit(tile_size) + F.lit(halo))
            & (F.col("y") >= F.lit(ymin) + F.col("__ty") * F.lit(tile_size) - F.lit(halo))
            & (F.col("y") < F.lit(ymin) + (F.col("__ty") + 1) * F.lit(tile_size) + F.lit(halo))
        )
    )
    out_col = f"{val_column}_krig"
    schema = f"gx double, gy double, {out_col} double"
    vg = variogram

    def krige_tile(pdf):
        import pandas as pd

        gmask = pdf["__role"].to_numpy() == 1
        gpts = pdf.loc[gmask]
        spts = pdf.loc[~gmask]
        gxs = gpts["x"].to_numpy(dtype="float64")
        gys = gpts["y"].to_numpy(dtype="float64")
        if len(spts) == 0 or len(gpts) == 0:
            return pd.DataFrame(
                {"gx": gxs, "gy": gys, out_col: np.full(len(gpts), np.nan)}
            )
        if len(spts) > max_tile_sensors:
            spts = spts.sort_values(["x", "y", "v"], kind="mergesort").head(
                max_tile_sensors
            )
        coords = spts[["x", "y"]].to_numpy(dtype="float64")
        values = spts["v"].to_numpy(dtype="float64")
        params = (
            vg if vg is not None else fit_variogram(coords, values, variogram_model)
        )
        K_inv = kriging_inverse(coords, variogram_model, params)
        pred = kriging_predict(
            K_inv, coords, values, variogram_model, params, gxs, gys
        )
        return pd.DataFrame({"gx": gxs, "gy": gys, out_col: pred})

    return (
        s.unionByName(grid)
        .groupBy("__tx", "__ty")
        .applyInPandas(krige_tile, schema=schema)
    )


#: Cramer polynomials for the 3-point ordinary-kriging bordered system
#: [[0,a,b,1],[a,0,c,1],[b,c,0,1],[1,1,1,0]] · [w1,w2,w3,μ] = [g1,g2,g3,1]
#: with a/b/c the pairwise and g1..g3 the target variogram values —
#: derived by symbolic cofactor expansion (tests re-verify vs numpy
#: solve) and spelled as one shared SQL string per determinant so Spark
#: (F.expr) and the DuckDB oracle evaluate the IDENTICAL integer
#: arithmetic. D1 + D2 + D3 == D (partition of unity) by construction.
KRIGING3_DET_SQL = {
    "d": "a*a - 2*a*b - 2*a*c + b*b - 2*b*c + c*c",
    "d1": "-a*c + a*g2 - a*g3 - b*c - b*g2 + b*g3 + c*c"
          " + 2*c*g1 - c*g2 - c*g3",
    "d2": "-a*b + a*g1 - a*g3 + b*b - b*c - b*g1 + 2*b*g2"
          " - b*g3 - c*g1 + c*g3",
    "d3": "a*a - a*b - a*c - a*g1 - a*g2 + 2*a*g3 + b*g1"
          " - b*g2 - c*g1 + c*g2",
}


#: Grid-cell size for kriging_exact3's ring candidate generation. The
#: gate lattice is 64×64 with ~3-4 samples per lattice point, so a 4-cell
#: ring (≥3 candidates within γ < 16) certifies virtually every target;
#: uncertified targets take the exact BNLJ fallback.
_K3_CELL = 4


@register("kriging_exact3")
def kriging_exact3(
    samples: DataFrame,
    targets: DataFrame,
) -> DataFrame:
    """INTEGER-EXACT ordinary-kriging solve for the 3-nearest-neighbor
    stencil under the power-2 variogram γ(h) = h² on integer
    coordinates: every system entry is an integer, so Cramer's rule
    yields the exact rational solution (w_i = D_i / D) with pure BIGINT
    arithmetic — the strictly-oracle-able twin of the float kriging
    path (``ordinary_kriging`` fits/solves in doubles, which no SQL
    engine replays bit-exactly; this gate proves the SOLVE machinery on
    a case where exactness is possible). γ = h² is the degenerate
    boundary of the power family, so singular stencils (D = 0 —
    e.g. equally-spaced collinear triples) are filtered identically in
    both engines.

    Inputs: ``samples``/``targets`` with integer ``qx, qy`` coords,
    ``zc`` integer value (samples) and ``sensor_id``. Output per
    target: ``(sensor_id, den = D, w1..w3 = D_i numerators, pred_num =
    Σ D_i·zc_i)`` with the sign normalized so ``den > 0``; the exact
    prediction is ``pred_num / den`` cents.

    Scale shape: candidate generation is a ±1 grid-cell ring EQUI-join
    (cell size ``_K3_CELL``) — each target sees only samples in its 3×3
    cell neighborhood instead of the full inequality-BNLJ cross product
    (guide §3: the all-pairs BNLJ emitted |samples|·|targets| rows; the
    ring emits the local density only). Correctness is PROVEN per
    target, not assumed: any sample outside the ring is at Chebyshev
    distance ≥ ``_K3_CELL``, hence γ ≥ ``_K3_CELL²``, so when a target
    finds 3 ring candidates with γ strictly below ``_K3_CELL²`` its
    top-3 by (γ, kid) provably equals the global top-3 (no outside
    sample can tie into the top-3, tiebreaks included). Targets without
    that certificate — sparse rings, NULL coordinates — fall back to
    the exact BNLJ, restricted to just those targets. One keyed window
    for the 3-NN stencil, then a map-side pivot — no all-pairs shuffle
    on the sample side."""
    t = targets.select(
        F.col("sensor_id").alias("tid"),
        F.col("qx").alias("tx"),
        F.col("qy").alias("ty"),
    )
    k = samples.select(
        F.col("sensor_id").alias("kid"), "qx", "qy", "zc"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("tid").orderBy(F.asc_nulls_last("g"), F.asc_nulls_last("kid"))
    gexpr = (
        (F.col("qx") - F.col("tx")) * (F.col("qx") - F.col("tx"))
        + (F.col("qy") - F.col("ty")) * (F.col("qy") - F.col("ty"))
    )
    cell = _K3_CELL
    tcells = cell_neighbours(
        t, F.floor(F.col("tx") / cell), F.floor(F.col("ty") / cell), ("__cx", "__cy")
    )
    ring = k.withColumn("__cx", F.floor(F.col("qx") / cell)).withColumn(
        "__cy", F.floor(F.col("qy") / cell)
    ).join(F.broadcast(tcells), ["__cx", "__cy"]).filter(
        F.col("kid") != F.col("tid")
    ).withColumn("g", gexpr)
    ring_nn = ring.withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
    # Certificate: 3 candidates with γ < cell² ⇒ the ring top-3 is the
    # global top-3 (outside samples all have γ ≥ cell²).
    cert = ring_nn.groupBy("tid").agg(
        F.count(F.lit(1)).alias("__n3"), F.max("g").alias("__gmax")
    ).filter(
        (F.col("__n3") == 3) & (F.col("__gmax") < F.lit(int(cell * cell)))
    ).select("tid")
    nn_fast = ring_nn.join(F.broadcast(cert), "tid", "left_semi").drop(
        "__cx", "__cy"
    )
    t_slow = t.join(F.broadcast(cert), "tid", "left_anti")
    pairs_slow = k.join(
        F.broadcast(t_slow), F.col("kid") != F.col("tid"), "inner"
    ).withColumn("g", gexpr)
    nn_slow = pairs_slow.withColumn("rn", F.row_number().over(w)).filter("rn <= 3")
    nn = nn_fast.unionByName(nn_slow)
    piv = nn.groupBy("tid").agg(
        *[
            F.max(F.when(F.col("rn") == i, F.col(c))).alias(f"{c}{i}")
            for i in (1, 2, 3)
            for c in ("qx", "qy", "zc", "g")
        ]
    )
    gam = piv.select(
        "tid",
        "zc1", "zc2", "zc3",
        F.col("g1").alias("g1"), F.col("g2").alias("g2"),
        F.col("g3").alias("g3"),
        ((F.col("qx1") - F.col("qx2")) * (F.col("qx1") - F.col("qx2"))
         + (F.col("qy1") - F.col("qy2")) * (F.col("qy1") - F.col("qy2"))
         ).alias("a"),
        ((F.col("qx1") - F.col("qx3")) * (F.col("qx1") - F.col("qx3"))
         + (F.col("qy1") - F.col("qy3")) * (F.col("qy1") - F.col("qy3"))
         ).alias("b"),
        ((F.col("qx2") - F.col("qx3")) * (F.col("qx2") - F.col("qx3"))
         + (F.col("qy2") - F.col("qy3")) * (F.col("qy2") - F.col("qy3"))
         ).alias("c"),
    )
    dets = gam.select(
        "tid", "zc1", "zc2", "zc3",
        F.expr(KRIGING3_DET_SQL["d"]).alias("dd"),
        F.expr(KRIGING3_DET_SQL["d1"]).alias("dd1"),
        F.expr(KRIGING3_DET_SQL["d2"]).alias("dd2"),
        F.expr(KRIGING3_DET_SQL["d3"]).alias("dd3"),
    ).filter(F.col("dd") != 0)
    sgn = F.when(F.col("dd") < 0, F.lit(-1)).otherwise(F.lit(1))
    return dets.select(
        F.col("tid").alias("sensor_id"),
        (sgn * F.col("dd")).alias("den"),
        (sgn * F.col("dd1")).alias("w1"),
        (sgn * F.col("dd2")).alias("w2"),
        (sgn * F.col("dd3")).alias("w3"),
        (sgn * (
            F.col("dd1") * F.col("zc1")
            + F.col("dd2") * F.col("zc2")
            + F.col("dd3") * F.col("zc3")
        )).alias("pred_num"),
    )
