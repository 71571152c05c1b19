"""Spatial operator tests — A1/A2/A3 corners from SURVEY.md §5.2."""

import math

import pytest
from pyspark.sql import functions as F

from sensordatapipelines_spark.errors import ColumnException, MissingCRS
from sensordatapipelines_spark.operators.spatial import (
    bbox_filter,
    buffer_aggregate,
    drop_invalid_points,
    knn_aggregate,
    reproject,
    with_circle_area,
    zonal_stats,
)


def _sensors(spark):
    return spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 1.0), (3, 50.0, 50.0)],
        "sensor_id long, lon double, lat double",
    )


def _zones(spark):
    # zone 10 near sensor1; zone 11 near sensors 1&2; zone 12 far away
    return spark.createDataFrame(
        [
            (10, 0.1, 0.0, 0.05, 100.0, None),
            (11, 0.5, 0.5, 0.2, 200.0, 4.0),
            (12, 9.0, 9.0, 0.1, 999.0, 9.0),
        ],
        "zone_id long, lon double, lat double, radius double, pop double, height double",
    )


def test_buffer_aggregate_hand_computed(spark):
    # buffer 0.2: sensor1 reaches zone10 (d=0.1 ≤ 0.25) and zone11
    # (d=0.707 ≤ 0.4? no) → only zone10. sensor2 reaches zone11
    # (d=0.707 ≤ 0.2+0.2=0.4? no) → none. sensor3 → none.
    out = buffer_aggregate(
        _sensors(spark),
        _zones(spark),
        columns=["pop"],
        buffer_size=0.2,
        source_name="z",
        layer_radius="radius",
    )
    rows = {r["sensor_id"]: r for r in out.collect()}
    assert rows[1]["mean_z_pop"] == 100.0
    assert rows[2]["mean_z_pop"] is None  # empty intersection → NULL (ref :507-508)
    assert rows[3]["max_z_pop"] is None


def test_buffer_aggregate_zero_fill_before_agg(spark):
    """fillna(0)-before-agg semantics (reference geometries_interesect :600):
    NULL height counts as 0 in the mean."""
    out = buffer_aggregate(
        _sensors(spark),
        _zones(spark),
        columns=["height"],
        buffer_size=0.2,
        source_name="z",
        layer_radius="radius",
        zero_fill=True,
    )
    rows = {r["sensor_id"]: r for r in out.collect()}
    assert rows[1]["mean_z_height"] == 0.0  # zone10 height NULL → 0


def test_buffer_aggregate_missing_crs():
    with pytest.raises(MissingCRS):
        buffer_aggregate(None, None, crs=None)


def test_unknown_column_raises(spark):
    with pytest.raises(ColumnException):
        buffer_aggregate(
            _sensors(spark), _zones(spark), columns=["nope"], source_name="z"
        )


def test_area_derived_on_demand(spark):
    out = with_circle_area(_zones(spark), "radius")
    r = {x["zone_id"]: x["area"] for x in out.collect()}
    assert r[10] == pytest.approx(math.pi * 0.05**2)


def test_knn_k1_and_ties(spark):
    # equidistant zones from sensor: tie broken by zone_id (lowest wins)
    sensors = spark.createDataFrame([(1, 0.0, 0.0)], "sensor_id long, lon double, lat double")
    zones = spark.createDataFrame(
        [(20, 1.0, 0.0, 5.0), (21, -1.0, 0.0, 7.0), (22, 3.0, 0.0, 9.0)],
        "zone_id long, lon double, lat double, v double",
    )
    out = knn_aggregate(
        sensors, zones, columns=["v"], k=1, source_name="z", layer_id_col="zone_id"
    )
    assert out.first()["mean_z_v"] == 5.0  # zone 20 beats 21 on id at d=1
    out2 = knn_aggregate(
        sensors, zones, columns=["v"], k=2, source_name="z", layer_id_col="zone_id"
    )
    assert out2.first()["mean_z_v"] == 6.0  # zones 20,21


def test_zonal_stats_nodata_and_out_of_raster(spark):
    sensors = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 100.0, 100.0)], "sensor_id long, lon double, lat double"
    )
    cells = spark.createDataFrame(
        [
            (1, 0.0, 0.0, 5.0),
            (1, 0.1, 0.0, 7.0),
            (1, 0.0, 0.1, 0.0),   # nodata — excluded (ref :528-530)
            (2, 0.0, 0.0, 40.0),
        ],
        "band int, x double, y double, value double",
    )
    out = zonal_stats(
        sensors, cells, bands=[1, 2], buffer_size=0.5, source_name="r", nodata=0.0
    )
    rows = {r["sensor_id"]: r for r in out.collect()}
    assert rows[1]["mean_r_band1"] == 6.0  # (5+7)/2, nodata 0 excluded
    assert rows[1]["max_r_band2"] == 40.0
    assert rows[2]["mean_r_band1"] is None  # out-of-raster → NULL (ref :521-526)


def test_bbox_filter_and_validity(spark):
    df = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 2.0, 2.0), (3, None, 0.1), (4, float("nan"), 0.2)],
        "id long, lon double, lat double",
    )
    assert bbox_filter(df, 0.0, 1.0, 0.0, 1.0).count() == 1
    assert drop_invalid_points(df).count() == 2


def test_reproject_4326_3857_round_trip(spark):
    df = spark.createDataFrame([(1.4436, 43.6045)], "lon double, lat double")
    m = reproject(df, 4326, 3857)
    row = m.first()
    assert row["lon"] == pytest.approx(160700.0, rel=1e-3)   # Toulouse x
    assert row["lat"] == pytest.approx(5404000.0, rel=1e-3)  # Toulouse y
    back = reproject(m, 3857, 4326).first()
    assert back["lon"] == pytest.approx(1.4436, abs=1e-9)
    assert back["lat"] == pytest.approx(43.6045, abs=1e-9)


def test_set_get_crs_round_trip(spark):
    from sensordatapipelines_spark.operators.spatial import get_crs, set_crs

    df = set_crs(_sensors(spark), 4326)
    assert get_crs(df) == 4326
    # metadata survives projection, filter and rename-through-select
    assert get_crs(df.filter("sensor_id > 0").select("lon", "lat")) == 4326
    assert get_crs(_sensors(spark)) is None
    assert get_crs(set_crs(df, "EPSG:3857")) == 3857


def test_crs_mismatch_auto_reprojects(spark):
    """A 3857-tagged layer joined to 4326-tagged sensors reprojects the
    layer before the predicate — same result as the all-4326 run. (No
    radius column here: coordinates reproject, per-row radii can't — that
    combination raises, covered below.)"""
    from sensordatapipelines_spark.operators.spatial import set_crs

    sensors = set_crs(_sensors(spark), 4326)
    zones4326 = _zones(spark).drop("radius")
    zones3857 = set_crs(reproject(zones4326, 4326, 3857), 3857)
    kwargs = dict(columns=["pop"], buffer_size=0.2, source_name="z")
    expect = sorted(
        (r["sensor_id"], r["mean_z_pop"])
        for r in buffer_aggregate(sensors, set_crs(zones4326, 4326), **kwargs).collect()
    )
    got = sorted(
        (r["sensor_id"], r["mean_z_pop"])
        for r in buffer_aggregate(sensors, zones3857, **kwargs).collect()
    )
    assert got == expect


def test_crs_mismatch_with_radius_column_raises(spark):
    """Auto-reprojection rewrites coordinates only — a layer radius column
    would silently keep its original units (the degree-vs-meter mixing
    failure), so the engine refuses instead."""
    import pytest as _pytest

    from sensordatapipelines_spark.errors import CRSUnitMismatch
    from sensordatapipelines_spark.operators.spatial import set_crs

    sensors = set_crs(_sensors(spark), 4326)
    zones3857 = set_crs(reproject(_zones(spark), 4326, 3857), 3857)
    with _pytest.raises(CRSUnitMismatch, match="radius"):
        buffer_aggregate(
            sensors,
            zones3857,
            columns=["pop"],
            buffer_size=0.2,
            source_name="z",
            layer_radius="radius",
        ).collect()


def test_crs_metadata_beats_kwarg_and_mixing_is_never_silent(spark):
    """Engine-tracked CRS wins over the per-call kwarg: a 3857-tagged layer
    is NOT treated as 4326 just because the kwarg default says so."""
    from sensordatapipelines_spark.operators.spatial import set_crs

    sensors = set_crs(_sensors(spark), 4326)
    # zone at web-mercator coordinates of (0.1, 0.0): if the engine ignored
    # the tag and compared raw coordinates, the zone (x≈11132 m) would be far
    # from every sensor and the stats would be NULL.
    zones_m = set_crs(reproject(_zones(spark).drop("radius"), 4326, 3857), 3857)
    out = buffer_aggregate(
        sensors,
        zones_m,
        columns=["pop"],
        buffer_size=0.2,
        source_name="z",
        crs=4326,  # kwarg says 4326; metadata says 3857 — metadata wins
    )
    rows = {r["sensor_id"]: r for r in out.collect()}
    assert rows[1]["mean_z_pop"] == 100.0


def test_knn_and_zonal_crs_mismatch_reprojects(spark):
    from sensordatapipelines_spark.operators.spatial import set_crs

    sensors = set_crs(
        spark.createDataFrame([(1, 0.0, 0.0)], "sensor_id long, lon double, lat double"),
        4326,
    )
    zones = spark.createDataFrame(
        [(20, 1.0, 0.0, 5.0), (21, -1.0, 0.0, 7.0)],
        "zone_id long, lon double, lat double, v double",
    )
    out = knn_aggregate(
        sensors,
        set_crs(reproject(zones, 4326, 3857), 3857),
        columns=["v"],
        k=1,
        source_name="z",
        layer_id_col="zone_id",
    )
    assert out.first()["mean_z_v"] == 5.0
    cells = spark.createDataFrame(
        [(1, 0.0, 0.0, 5.0), (1, 0.1, 0.0, 7.0)],
        "band int, x double, y double, value double",
    )
    zs = zonal_stats(
        sensors,
        set_crs(reproject(cells, 4326, 3857, lon_col="x", lat_col="y"), 3857, "x", "y"),
        bands=[1],
        buffer_size=0.5,
        source_name="r",
    )
    assert zs.first()["mean_r_band1"] == 6.0


def test_drop_invalid_points_observation_metric(spark):
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 2.0, 2.0), (3, None, 0.1), (4, float("nan"), 0.2)],
        "id long, lon double, lat double",
    )
    obs = Observation("s1_drops")
    out = drop_invalid_points(df, observation=obs)
    assert out.count() == 2  # action materializes the observed metrics
    assert obs.get["n_invalid"] == 2
    assert obs.get["n_total"] == 4


def test_buffer_aggregate_bucketed_matches_broadcast_plan(spark):
    """Grid-bucketed variant: identical result to the theta-join path, and
    the physical plan joins on the cell key (hash/sort-merge), not
    BroadcastNestedLoopJoin."""
    kwargs = dict(
        columns=["pop", "height"],
        buffer_size=0.2,
        source_name="z",
        layer_radius="radius",
        funcs=("mean", "max", "count"),
    )
    base = buffer_aggregate(_sensors(spark), _zones(spark), **kwargs)
    buck = buffer_aggregate(_sensors(spark), _zones(spark), bucketed=True, **kwargs)
    cols = sorted(base.columns)
    assert sorted(buck.columns) == cols
    key = lambda r: r["sensor_id"]  # noqa: E731
    assert sorted(base.select(*cols).collect(), key=key) == sorted(
        buck.select(*cols).collect(), key=key
    )
    plan = buck._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_reproject_utm_anchors_and_round_trip(spark):
    """Native UTM (EPSG:326xx/327xx) closed forms.

    Anchors: (1) the central-meridian equator point maps to exactly
    (500000, 0); (2) the northing of (45°N, central meridian) equals
    k0 × the WGS84 meridian arc to 45° — computed here by INDEPENDENT
    numerical integration of the meridian radius (not the Snyder series
    under test); (3) forward→inverse round-trips to ≤1e-7°; (4) the
    southern false northing applies in 327xx."""
    import numpy as np

    df = spark.createDataFrame(
        [(1, 3.0, 0.0), (2, 3.0, 45.0), (3, 1.4436, 43.6045), (4, 4.9, 52.4)],
        "id long, lon double, lat double",
    )
    utm = {r["id"]: r for r in reproject(df, 4326, 32631).collect()}
    assert utm[1]["lon"] == pytest.approx(500000.0, abs=1e-6)
    assert utm[1]["lat"] == pytest.approx(0.0, abs=1e-6)
    # independent meridian arc: integrate a(1-e2)/(1-e2 sin^2 phi)^{3/2}
    a, f = 6378137.0, 1.0 / 298.257223563
    e2 = f * (2 - f)
    phi = np.linspace(0.0, math.radians(45.0), 2_000_001)
    m45 = np.trapz(a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5, phi)
    assert utm[2]["lat"] == pytest.approx(0.9996 * m45, abs=0.5)
    # round trip all points
    back = {r["id"]: r for r in reproject(reproject(df, 4326, 32631), 32631, 4326).collect()}
    orig = {r["id"]: r for r in df.collect()}
    for i in orig:
        assert back[i]["lon"] == pytest.approx(orig[i]["lon"], abs=1e-7)
        assert back[i]["lat"] == pytest.approx(orig[i]["lat"], abs=1e-7)
    # southern hemisphere: false northing 10,000,000 at (-45, cm of zone 31)
    s = spark.createDataFrame([(1, 3.0, -45.0)], "id long, lon double, lat double")
    srow = reproject(s, 4326, 32731).first()
    assert srow["lat"] == pytest.approx(10000000.0 - 0.9996 * m45, abs=0.5)
    # UTM <-> 3857 composes through 4326 natively
    comp = reproject(reproject(df, 4326, 3857), 3857, 32631).collect()
    direct = {r["id"]: r for r in reproject(df, 4326, 32631).collect()}
    for r in comp:
        assert r["lon"] == pytest.approx(direct[r["id"]]["lon"], abs=1e-4)
        assert r["lat"] == pytest.approx(direct[r["id"]]["lat"], abs=1e-4)


def test_crs_utm_mismatch_reprojects_in_buffer_aggregate(spark):
    """A UTM-tagged layer auto-reprojects into 4326 sensors — exercises the
    engine-carried-CRS path through a non-web-mercator projection."""
    from sensordatapipelines_spark.operators.spatial import set_crs

    sensors = set_crs(_sensors(spark), 4326)
    zones_utm = set_crs(reproject(_zones(spark).drop("radius"), 4326, 32631), 32631)
    out = buffer_aggregate(
        sensors,
        zones_utm,
        columns=["pop"],
        buffer_size=0.2,
        source_name="z",
    )
    rows = {r["sensor_id"]: r for r in out.collect()}
    assert rows[1]["mean_z_pop"] == 100.0


def test_morton_key_matches_reference_interleave(spark):
    """Z-order key: engine expression == bit-interleave reference for the
    full 8×8 grid, and the SQL-text twin stays identical."""
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.spatial import (
        morton_key_expr,
        morton_key_sql,
    )

    def ref(ix, iy, bits=3):
        z = 0
        for b in range(bits):
            z |= ((ix >> b) & 1) << (2 * b)
            z |= ((iy >> b) & 1) << (2 * b + 1)
        return z

    cells = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(cells, "ix long, iy long")
    out = df.select(
        "ix", "iy", morton_key_expr(F.col("ix"), F.col("iy"), bits=3).alias("z")
    )
    got = {(r["ix"], r["iy"]): r["z"] for r in out.collect()}
    assert got == {(x, y): ref(x, y) for x, y in cells}
    # corners of the curve
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    assert got[(7, 7)] == 63

    import duckdb

    sql = morton_key_sql("ix", "iy", bits=3)
    duck = duckdb.sql(
        "SELECT ix, iy, " + sql + " AS z FROM (SELECT UNNEST(range(8)) AS ix), "
        "(SELECT UNNEST(range(8)) AS iy)"
    ).fetchall()
    assert {(r[0], r[1]): r[2] for r in duck} == got


def test_cell_neighbours_block(spark):
    """Each row comes back once per cell of the (2r+1)² block around its
    own cell, dx-major, with its columns kept; r = 0 is the cell itself."""
    from sensordatapipelines_spark.operators.spatial import cell_neighbours

    df = spark.createDataFrame([("a", 5, -3)], "k string, cx long, cy long")
    for reach in (0, 1, 2):
        rows = cell_neighbours(
            df, F.col("cx"), F.col("cy"), ("nx", "ny"), reach
        ).collect()
        offs = range(-reach, reach + 1)
        assert [(r.k, r.cx, r.cy, r.nx, r.ny) for r in rows] == [
            ("a", 5, -3, 5 + dx, -3 + dy) for dx in offs for dy in offs
        ], reach


def test_polygon_filter_ray_cast(spark):
    from sensordatapipelines_spark.operators.spatial import (
        point_in_polygon_predicate,
        polygon_filter,
    )

    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    pts = spark.createDataFrame(
        [
            (1, 0.5, 0.5),    # inside
            (2, 1.5, 0.5),    # outside right
            (3, -0.1, 0.5),   # outside left
            (4, 0.5, 1.5),    # outside above
            (5, 0.25, 0.75),  # inside
        ],
        "id long, lon double, lat double",
    )
    inside = {r["id"] for r in polygon_filter(pts, square).collect()}
    assert inside == {1, 5}
    # concave polygon (notched square): the notch region is OUTSIDE
    notched = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.5, 0.4), (0.0, 1.0)]
    pts2 = spark.createDataFrame(
        [(1, 0.5, 0.7), (2, 0.1, 0.2), (3, 0.9, 0.2)],
        "id long, lon double, lat double",
    )
    assert {r["id"] for r in polygon_filter(pts2, notched).collect()} == {2, 3}
    # the same predicate text evaluates identically in DuckDB
    import duckdb

    pred = point_in_polygon_predicate(notched, "lon", "lat")
    duck = duckdb.sql(
        "SELECT id FROM (VALUES (1, 0.5, 0.7), (2, 0.1, 0.2), (3, 0.9, 0.2))"
        f" t(id, lon, lat) WHERE {pred}"
    ).fetchall()
    assert {r[0] for r in duck} == {2, 3}
    # degenerate polygon raises
    import pytest as _pytest

    with _pytest.raises(ValueError):
        point_in_polygon_predicate([(0.0, 0.0), (1.0, 0.0)])


def test_polygon_zonal_aggregate_data_driven_rings(spark):
    from sensordatapipelines_spark.operators.spatial import (
        point_in_polygon_expr,
        polygon_zonal_aggregate,
    )

    pts = spark.createDataFrame(
        [(0.5, 0.5, 10.0), (0.5, 0.7, 20.0), (2.5, 0.5, 99.0), (1.4, 0.2, 7.0)],
        "lon double, lat double, v double",
    )
    polys = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),        # unit square
            (2, [1.2, 1.8, 1.5], [0.0, 0.0, 0.9]),                  # triangle
            (3, [5.0, 6.0, 6.0, 5.0], [5.0, 5.0, 6.0, 6.0]),        # empty
        ],
        "zone_id long, xs array<double>, ys array<double>",
    )
    out = {r["zone_id"]: r for r in polygon_zonal_aggregate(
        pts, polys, value_cols=["v"], funcs=("mean", "max"), source_name="p"
    ).collect()}
    assert out[1]["mean_p_v"] == 15.0 and out[1]["max_p_v"] == 20.0
    assert out[2]["mean_p_v"] == 7.0
    assert out[3]["mean_p_v"] is None  # no points -> NULL stats (A2 semantics)
    # expression-level: concave ring, notch excluded
    notched = spark.createDataFrame(
        [(1, 0.5, 0.7), (2, 0.1, 0.2)], "id long, px double, py double"
    ).withColumn("xs", F.expr("array(0.0D, 1.0D, 1.0D, 0.5D, 0.0D)")).withColumn(
        "ys", F.expr("array(0.0D, 0.0D, 1.0D, 0.4D, 1.0D)")
    )
    got = {
        r["id"]: r["inside"]
        for r in notched.select(
            "id",
            point_in_polygon_expr(
                F.col("px"), F.col("py"), F.col("xs"), F.col("ys")
            ).alias("inside"),
        ).collect()
    }
    assert got == {1: False, 2: True}


def test_parse_wkb_points_both_orders_and_garbage(spark):
    import struct

    from sensordatapipelines_spark.operators.spatial import (
        get_crs,
        parse_wkb_points,
    )

    def wkb(x, y, little=True, srid=None):
        bo = b"\x01" if little else b"\x00"
        fmt = "<" if little else ">"
        gtype = 1 | (0x20000000 if srid else 0)
        out = bo + struct.pack(f"{fmt}I", gtype)
        if srid:
            out += struct.pack(f"{fmt}I", srid)
        return out + struct.pack(f"{fmt}dd", x, y)

    rows = [
        (1, wkb(1.5, 2.5)),                      # little-endian point
        (2, wkb(-3.0, 4.0, little=False)),       # big-endian point
        (3, wkb(9.0, 9.0, srid=4326)),           # EWKB with SRID header
        (4, b"\x01\x02\x00\x00\x00garbage"),     # linestring type -> NULL
        (5, None),                               # NULL payload
    ]
    df = spark.createDataFrame(rows, "id long, geometry binary")
    out = {r["id"]: r for r in parse_wkb_points(df, crs=4326).collect()}
    assert (out[1]["lon"], out[1]["lat"]) == (1.5, 2.5)
    assert (out[2]["lon"], out[2]["lat"]) == (-3.0, 4.0)
    assert (out[3]["lon"], out[3]["lat"]) == (9.0, 9.0)
    assert out[4]["lon"] is None and out[5]["lon"] is None
    assert get_crs(parse_wkb_points(df, crs=4326)) == 4326


def test_wkb_polygon_roundtrip_and_decode(spark):
    """WKB Polygon/MultiPolygon outer rings decode bit-exactly back to the
    authored vertices (IEEE-754 doubles round-trip through WKB); EWKB SRID
    headers are skipped, holes are dropped, the explicit closing vertex is
    removed, malformed payloads yield a NULL ring row."""
    import struct

    from sensordatapipelines_spark.operators.spatial import (
        encode_wkb_polygon,
        parse_wkb_polygons,
    )

    tri = [(0.02, 0.01), (0.28, 0.05), (0.15, 0.31)]
    sq1 = [(0.0, 0.0), (0.1, 0.0), (0.1, 0.1), (0.0, 0.1)]
    sq2 = [(0.5, 0.5), (0.7, 0.5), (0.7, 0.8), (0.5, 0.8)]
    rows = [
        (1, encode_wkb_polygon([tri])),
        (2, encode_wkb_polygon([sq1, sq2])),          # MultiPolygon, 2 parts
        (3, encode_wkb_polygon([tri], srid=4326)),    # EWKB
        (4, b"\x01\x07\x00\x00\x00garbage"),          # wrong geometry type
        (5, None),
    ]
    df = spark.createDataFrame(rows, "zone_id long, geometry binary")
    got = {
        (r["zone_id"], r["part"]): (r["xs"], r["ys"])
        for r in parse_wkb_polygons(df).collect()
    }
    assert got[(1, 0)] == ([v[0] for v in tri], [v[1] for v in tri])
    assert got[(2, 0)] == ([v[0] for v in sq1], [v[1] for v in sq1])
    assert got[(2, 1)] == ([v[0] for v in sq2], [v[1] for v in sq2])
    assert got[(3, 0)] == got[(1, 0)]  # SRID header skipped
    assert got[(4, None)] == (None, None)
    assert got[(5, None)] == (None, None)

    # a polygon WITH a hole: only the outer ring survives
    hole = [(0.04, 0.04), (0.06, 0.04), (0.06, 0.06), (0.04, 0.06)]
    outer_pts = sq1 + [sq1[0]]
    hole_pts = hole + [hole[0]]
    body = struct.pack("<BII", 1, 3, 2)
    for ring in (outer_pts, hole_pts):
        body += struct.pack("<I", len(ring)) + b"".join(
            struct.pack("<dd", x, y) for x, y in ring
        )
    holed = spark.createDataFrame([(9, body)], "zone_id long, geometry binary")
    r = parse_wkb_polygons(holed).first()
    assert r["xs"] == [v[0] for v in sq1] and r["part"] == 0

    # big-endian payload decodes identically
    be = struct.pack(">BII", 0, 3, 1) + struct.pack(">I", len(outer_pts)) + b"".join(
        struct.pack(">dd", x, y) for x, y in outer_pts
    )
    rbe = parse_wkb_polygons(
        spark.createDataFrame([(10, be)], "zone_id long, geometry binary")
    ).first()
    assert rbe["xs"] == [v[0] for v in sq1]


def test_wkb_polygon_feeds_zonal_aggregate(spark):
    """Decoded WKB rings drive polygon_zonal_aggregate end-to-end; a
    2-part MultiPolygon zone aggregates points from BOTH parts without
    double counting."""
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.spatial import (
        encode_wkb_polygon,
        parse_wkb_polygons,
        polygon_zonal_aggregate,
    )

    sq1 = [(0.0, 0.0), (0.1, 0.0), (0.1, 0.1), (0.0, 0.1)]
    sq2 = [(0.5, 0.5), (0.7, 0.5), (0.7, 0.8), (0.5, 0.8)]
    zones = parse_wkb_polygons(
        spark.createDataFrame(
            [(1, encode_wkb_polygon([sq1, sq2]))], "zone_id long, geometry binary"
        )
    )
    pts = spark.createDataFrame(
        [(0.05, 0.05, 10.0), (0.6, 0.6, 30.0), (0.9, 0.9, 99.0)],
        "lon double, lat double, v double",
    )
    out = polygon_zonal_aggregate(
        pts, zones, value_cols=["v"], funcs=("mean", "sum"), source_name="p"
    )
    per_zone = (
        out.groupBy("zone_id")
        .agg(F.first("mean_p_v").alias("m"), F.first("sum_p_v").alias("s"))
        .first()
    )
    # one point in each part, the outside point excluded
    assert per_zone["s"] == 40.0 and per_zone["m"] == 20.0


def test_polygon_with_hole_even_odd(spark):
    """Hole-aware containment: a donut zone (square outer, square hole)
    excludes points inside the hole — even-odd over outer+holes, no
    per-ring special-casing. Encoded as real WKB with an interior ring."""
    import struct

    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.spatial import (
        parse_wkb_polygons,
        polygon_zonal_aggregate,
    )

    outer = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    hole = [(0.4, 0.4), (0.6, 0.4), (0.6, 0.6), (0.4, 0.6)]
    body = struct.pack("<BII", 1, 3, 2)
    for ring in (outer + [outer[0]], hole + [hole[0]]):
        body += struct.pack("<I", len(ring)) + b"".join(
            struct.pack("<dd", x, y) for x, y in ring
        )
    zones = parse_wkb_polygons(
        spark.createDataFrame([(1, body)], "zone_id long, geometry binary"),
        keep_holes=True,
    )
    r = zones.first()
    assert len(r["rings"]) == 2  # outer + hole surface
    assert r["xs"] == [v[0] for v in outer]  # xs/ys stay the outer ring

    pts = spark.createDataFrame(
        [(0.2, 0.2, 10.0), (0.5, 0.5, 99.0), (0.9, 0.1, 30.0), (1.5, 1.5, 7.0)],
        "lon double, lat double, v double",
    )
    out = polygon_zonal_aggregate(
        pts, zones, value_cols=["v"], funcs=("sum",), source_name="p",
        poly_rings="rings",
    ).first()
    # the hole point (0.5,0.5) and the outside point are excluded
    assert out["sum_p_v"] == 40.0


def test_ring_area_and_centroid_known_shapes(spark):
    """Unit square: area 1, centroid (0.5, 0.5) either winding; translated
    diamond of 'radius' r: area 2r^2, centroid at the center."""
    import pytest
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.spatial import (
        ring_area_expr,
        ring_centroid_expr,
    )

    rows = [
        (1, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),   # ccw square
        (2, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0]),   # cw square
        (3, [5.0, 5.2, 5.0, 4.8], [2.8, 3.0, 3.2, 3.0]),   # diamond r=0.2
    ]
    df = spark.createDataFrame(rows, "rid long, xs array<double>, ys array<double>")
    cent = ring_centroid_expr(F.col("xs"), F.col("ys"))
    out = {
        r["rid"]: r
        for r in df.select(
            "rid",
            ring_area_expr(F.col("xs"), F.col("ys")).alias("a"),
            cent["cx"].alias("cx"),
            cent["cy"].alias("cy"),
        ).collect()
    }
    assert out[1]["a"] == pytest.approx(1.0)
    assert out[2]["a"] == pytest.approx(1.0)  # winding-independent
    assert (out[1]["cx"], out[1]["cy"]) == (pytest.approx(0.5), pytest.approx(0.5))
    assert (out[2]["cx"], out[2]["cy"]) == (pytest.approx(0.5), pytest.approx(0.5))
    assert out[3]["a"] == pytest.approx(2 * 0.2 * 0.2)
    assert (out[3]["cx"], out[3]["cy"]) == (pytest.approx(5.0), pytest.approx(3.0))


def test_dbscan_grid_roles_and_clusters(spark):
    from sensordatapipelines_spark.operators.spatial import dbscan_grid

    # two 2×2 blocks 1 apart internally, 10 apart from each other, plus
    # one isolated point; eps=1.5 → blocks are 4-cliques (3 neighbors
    # each → all core), isolate is noise
    rows = [
        (1, 0.0, 0.0), (2, 1.0, 0.0), (3, 0.0, 1.0), (4, 1.0, 1.0),
        (11, 20.0, 20.0), (12, 21.0, 20.0), (13, 20.0, 21.0), (14, 21.0, 21.0),
        (99, 50.0, 50.0),
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r.id: r for r in dbscan_grid(df, "id", "x", "y", eps=1.5, min_pts=3).collect()}
    assert all(out[i].role == "core" and out[i].cluster == 1 for i in (1, 2, 3, 4))
    assert all(out[i].role == "core" and out[i].cluster == 11 for i in (11, 12, 13, 14))
    assert out[99].role == "noise" and out[99].cluster is None


def test_dbscan_grid_border_attachment(spark):
    from sensordatapipelines_spark.operators.spatial import dbscan_grid

    # a dense 5-point plus shape around (0,0) makes the center core;
    # a pendant at (2,0) touches only the arm point (1,0) → border iff
    # the arm is core; with min_pts=3 the arm (neighbors: center, two
    # diagonal-ish arms? here: center + pendant = 2) is NOT core, so the
    # pendant is noise while the plus-center clusters
    rows = [
        (0, 0.0, 0.0), (1, 1.0, 0.0), (2, -1.0, 0.0), (3, 0.0, 1.0), (4, 0.0, -1.0),
        (5, 2.0, 0.0),
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = {r.id: r for r in dbscan_grid(df, "id", "x", "y", eps=1.2, min_pts=3).collect()}
    assert out[0].role == "core"          # 4 neighbors
    assert out[1].role == "border"        # neighbors: center + pendant = 2
    assert out[5].role == "noise"         # only non-core neighbor
    assert out[1].cluster == out[0].cluster
