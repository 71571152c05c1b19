"""I2/I3 tests: exact-hit guard, boundedness property, kriging exactness."""

import pytest
from pyspark.sql import functions as F

from sensordatapipelines_spark.operators.interpolate import (
    fit_variogram,
    idw,
    make_grid,
    ordinary_kriging,
)


def _sensors(spark):
    return spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0), (2, 1.0, 0.0, 20.0), (3, 0.0, 1.0, 30.0), (4, 1.0, 1.0, 40.0)],
        "sensor_id long, lon double, lat double, v double",
    )


def test_make_grid_arange_semantics(spark):
    g = make_grid(spark, (0.0, 1.0, 0.0, 0.5), 0.25, 0.25)
    pts = sorted((r["gx"], r["gy"]) for r in g.collect())
    xs = sorted({p[0] for p in pts})
    ys = sorted({p[1] for p in pts})
    assert xs == [0.0, 0.25, 0.5, 0.75]  # endpoint excluded (np.arange)
    assert ys == [0.0, 0.25]


def test_idw_exact_hit_guard(spark):
    """Grid point exactly on a sensor takes the sensor value — the guard the
    reference lacks (zero distance → ∞ weight, SURVEY §2.4 I2)."""
    out = idw(_sensors(spark), "v", power=2, lon_step=1.0, lat_step=1.0, extent=(0.0, 2.0, 0.0, 2.0))
    vals = {(r["gx"], r["gy"]): r["v_idw"] for r in out.collect()}
    assert vals[(0.0, 0.0)] == 10.0
    assert vals[(1.0, 1.0)] == 40.0


def test_idw_bounded_by_input_range(spark):
    """Property (SURVEY §5.5): IDW is a convex combination ⇒ min ≤ ŷ ≤ max."""
    out = idw(_sensors(spark), "v", power=2, lon_step=0.3, lat_step=0.3, extent=(-0.5, 1.5, -0.5, 1.5))
    lo, hi = out.agg(F.min("v_idw"), F.max("v_idw")).first()
    assert 10.0 <= lo <= hi <= 40.0


def test_idw_nearer_sensor_dominates(spark):
    out = idw(_sensors(spark), "v", power=2, lon_step=0.25, lat_step=0.25, extent=(0.0, 0.5, 0.0, 0.5))
    vals = {(r["gx"], r["gy"]): r["v_idw"] for r in out.collect()}
    # point (0.25, 0) is nearest sensor1 (v=10): estimate below global mean 25
    assert vals[(0.25, 0.0)] < 25.0


def test_kriging_exact_at_sensor_and_shape(spark):
    out = ordinary_kriging(
        _sensors(spark), "v", lon_step=0.5, lat_step=0.5,
        extent=(0.0, 1.5, 0.0, 1.5), variogram=(0.0, 1.0),
    ).collect()
    assert len(out) == 9
    vals = {(r["gx"], r["gy"]): r["v_krig"] for r in out}
    # kriging is an exact interpolator at data points (nugget 0)
    assert vals[(0.0, 0.0)] == pytest.approx(10.0, abs=1e-6)
    assert vals[(1.0, 1.0)] == pytest.approx(40.0, abs=1e-6)
    # weights sum to 1 ⇒ prediction within a sane envelope
    for v in vals.values():
        assert 0.0 <= v <= 50.0


def _build_jobs(spark, group, build):
    """Spark jobs that ``build()`` starts (the plan is built, not run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build-time jobs")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_kriging_collects_sensors_once(spark):
    """With ``extent`` given, building the kriging plan collects the
    sensors in one job at or under ``max_points`` (no separate count);
    over the cap a second, ordered collect keeps the first ``max_points``
    sensors by (x, y, v), as before."""
    kw = dict(lon_step=0.5, lat_step=0.5, extent=(0.0, 1.5, 0.0, 1.5), variogram=(0.0, 1.0))
    under, n_under = _build_jobs(
        spark, "krig_under_cap", lambda: ordinary_kriging(_sensors(spark), "v", **kw)
    )
    assert n_under == 1
    over, n_over = _build_jobs(
        spark, "krig_over_cap",
        lambda: ordinary_kriging(_sensors(spark), "v", max_points=3, **kw),
    )
    assert n_over == 2
    first3 = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0), (3, 0.0, 1.0, 30.0), (2, 1.0, 0.0, 20.0)],
        "sensor_id long, lon double, lat double, v double",
    )
    first3 = ordinary_kriging(first3, "v", **kw)
    assert sorted(over.collect()) == sorted(first3.collect())
    assert sorted(over.collect()) != sorted(under.collect())


def test_fit_linear_variogram_recovers_slope():
    import numpy as np

    rng = np.random.default_rng(0)
    coords = rng.uniform(0, 1, size=(40, 2))
    # construct values whose semivariance grows ~linearly with distance
    values = 3.0 * coords[:, 0] + 3.0 * coords[:, 1]
    nugget, slope = fit_variogram(coords, values, "linear")
    assert slope > 0
    assert nugget >= 0


def test_kriging_tiled_matches_global_on_smooth_field(spark):
    """Property: on a smooth (planar) field the tiled moving-window fit
    agrees with the global fit to well under 0.1% of the field range —
    tile boundaries introduce no seams — and both track the true plane
    closely (ordinary kriging's constant-mean model reproduces a linear
    drift only approximately, so truth gets a looser bound than
    tiled-vs-global; measured maxima are ~0.0012 and ~0.0063 on a field
    spanning ~2.5)."""
    import numpy as np

    from sensordatapipelines_spark.operators.interpolate import (
        kriging_tiled,
        ordinary_kriging,
    )

    rows = []
    for i in range(12):
        for j in range(12):
            x, y = i * 0.05, j * 0.05
            rows.append((x, y, 2.0 + 3.0 * x - 1.5 * y))
    sensors = spark.createDataFrame(rows, "lon double, lat double, val double")
    extent = (0.012, 0.52, 0.012, 0.52)
    kwargs = dict(
        lon_step=0.05, lat_step=0.05, extent=extent, variogram=(0.0, 1.0)
    )
    tiled = {
        (round(r["gx"], 9), round(r["gy"], 9)): r["val_krig"]
        for r in kriging_tiled(
            sensors, "val", tile_size=0.2, halo=0.15, **kwargs
        ).collect()
    }
    glob = {
        (round(r["gx"], 9), round(r["gy"], 9)): r["val_krig"]
        for r in ordinary_kriging(sensors, "val", **kwargs).collect()
    }
    assert set(tiled) == set(glob) and len(tiled) > 50
    for (gx, gy), v in tiled.items():
        truth = 2.0 + 3.0 * gx - 1.5 * gy
        assert abs(v - truth) < 2e-2, (gx, gy, v, truth)
        assert abs(v - glob[(gx, gy)]) < 5e-3


def test_kriging_tiled_empty_tile_is_null(spark):
    from sensordatapipelines_spark.operators.interpolate import kriging_tiled

    sensors = spark.createDataFrame(
        [(0.0, 0.0, 5.0), (0.01, 0.01, 6.0)], "lon double, lat double, val double"
    )
    out = kriging_tiled(
        sensors,
        "val",
        lon_step=0.5,
        lat_step=0.5,
        extent=(0.0, 2.0, 0.0, 2.0),
        tile_size=0.5,
        halo=0.1,
        variogram=(0.0, 1.0),
    ).collect()
    vals = {(r["gx"], r["gy"]): r["val_krig"] for r in out}
    assert vals[(0.0, 0.0)] is not None
    assert vals[(1.5, 1.5)] is None  # far tile: no sensors in its window


@pytest.mark.parametrize("model", ["spherical", "exponential"])
def test_kriging_bounded_models_exact_at_sensor(spark, model):
    """Spherical/exponential variograms (reference's pykrige
    variogram_model pass-through): nugget-0 kriging stays an exact
    interpolator at data points and bounded on this smooth field."""
    out = ordinary_kriging(
        _sensors(spark), "v", lon_step=0.5, lat_step=0.5,
        extent=(0.0, 1.5, 0.0, 1.5),
        variogram=(0.0, 100.0, 1.5), variogram_model=model,
    ).collect()
    assert len(out) == 9
    vals = {(r["gx"], r["gy"]): r["v_krig"] for r in out}
    assert vals[(0.0, 0.0)] == pytest.approx(10.0, abs=1e-6)
    assert vals[(1.0, 1.0)] == pytest.approx(40.0, abs=1e-6)
    for v in vals.values():
        assert 0.0 <= v <= 50.0


@pytest.mark.parametrize("model", ["spherical", "exponential"])
def test_fit_variogram_bounded_models_recover_sill(model):
    """Deterministic grid-search fit: on data generated FROM the model the
    fit recovers sill/range within the lag-binning tolerance, and the
    fitted curve is non-decreasing with h."""
    import numpy as np

    from sensordatapipelines_spark.operators.interpolate import (
        fit_variogram,
        variogram_gamma,
    )

    rng = np.random.default_rng(3)
    coords = rng.uniform(0, 2, size=(60, 2))
    # a field with bounded spatial variance: independent-ish beyond range
    values = np.sin(coords[:, 0] * 5.0) * 4.0 + rng.normal(0, 0.3, 60)
    nugget, sill, rang = fit_variogram(coords, values, model)
    assert nugget >= 0.0 and sill >= nugget and rang > 0.0
    hs = np.linspace(0, 3, 50)
    g = variogram_gamma(model, (nugget, sill, rang), hs)
    assert (np.diff(g) >= -1e-12).all()       # monotone non-decreasing
    assert g[-1] <= sill + 1e-9               # bounded by the sill


def test_kriging_tiled_bounded_model_matches_global(spark):
    """The tiled scale path accepts the same bounded models: with a pinned
    variogram and a halo covering every sensor the per-tile predictions
    match the global operator."""
    import numpy as np

    from sensordatapipelines_spark.operators.interpolate import kriging_tiled

    rows = [
        (i, 0.1 * (i % 5), 0.1 * (i // 5), 2.0 + 0.1 * (i % 5) + 0.2 * (i // 5))
        for i in range(25)
    ]
    sensors = spark.createDataFrame(rows, "sensor_id long, lon double, lat double, val double")
    kwargs = dict(
        lon_step=0.13, lat_step=0.13, extent=(0.0, 0.4, 0.0, 0.4),
        variogram=(0.0, 50.0, 0.6), variogram_model="spherical",
    )
    tiled = {
        (round(r["gx"], 9), round(r["gy"], 9)): r["val_krig"]
        for r in kriging_tiled(sensors, "val", tile_size=0.5, halo=0.6, **kwargs).collect()
    }
    glob = {
        (round(r["gx"], 9), round(r["gy"], 9)): r["val_krig"]
        for r in ordinary_kriging(sensors, "val", **kwargs).collect()
    }
    assert set(tiled) == set(glob)
    for k in glob:
        assert tiled[k] == pytest.approx(glob[k], abs=1e-8)


def test_kriging_exact3_matches_numpy_solve(spark):
    """The integer Cramer solution equals numpy's float solve of the
    same bordered system (w_i = D_i / D), and the weights always sum to
    1 exactly (D1 + D2 + D3 == D, the partition-of-unity identity)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.interpolate import (
        kriging_exact3,
    )

    rng = np.random.default_rng(13)
    rows = []
    for i in range(40):
        rows.append((i, int(rng.integers(0, 40)), int(rng.integers(0, 40)),
                     int(rng.integers(-5000, 5000))))
    samples = spark.createDataFrame(
        rows, "sensor_id long, qx long, qy long, zc long"
    )
    targets = spark.createDataFrame(
        [(1000, 7, 9), (1001, 22, 31), (1002, 0, 39)],
        "sensor_id long, qx long, qy long",
    ).withColumn("zc", F.lit(0))
    got = {r.sensor_id: r for r in
           kriging_exact3(samples, targets).collect()}
    pts = {r[0]: r[1:] for r in rows}
    for tid, (tx, ty) in [(1000, (7, 9)), (1001, (22, 31)), (1002, (0, 39))]:
        # independent 3-NN + float solve
        cand = sorted(
            ((px - tx) ** 2 + (py - ty) ** 2, sid)
            for sid, (px, py, _z) in pts.items()
        )[:3]
        ids = [sid for _g, sid in cand]
        P = [pts[s][:2] for s in ids]
        gvec = [g for g, _s in cand]

        def gam(p, q):
            return float((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2)

        M = np.array(
            [[gam(P[i], P[j]) for j in range(3)] + [1.0] for i in range(3)]
            + [[1.0, 1.0, 1.0, 0.0]]
        )
        if abs(np.linalg.det(M)) < 1e-9:
            assert tid not in got  # singular stencils are filtered
            continue
        w = np.linalg.solve(M, np.array([*map(float, gvec), 1.0]))
        r = got[tid]
        assert r.den > 0
        assert r.w1 + r.w2 + r.w3 == r.den  # exact partition of unity
        np.testing.assert_allclose(
            [r.w1 / r.den, r.w2 / r.den, r.w3 / r.den], w[:3], atol=1e-9
        )
        pred = sum(wi * pts[s][2] for wi, s in zip(w[:3], ids))
        np.testing.assert_allclose(r.pred_num / r.den, pred, atol=1e-6)
