"""Source/sink tests (S1-S6): fallback chain, dir union + tagging, nested
flattening, GeoJSON escape hatch."""

import contextlib
import json
from pathlib import Path

import pytest

from sensordatapipelines_spark.errors import DataIOError
from sensordatapipelines_spark.operators.utility import flatten_structs
from sensordatapipelines_spark.sources import (
    open_data,
    open_dir_of_data,
    open_sensor_records,
    open_spatial_data,
    write_geojson,
)


def test_open_data_csv_json_fallback(spark, tmp_path):
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,2\n3,4\n")
    df = open_data(spark, str(csv))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}

    jf = tmp_path / "t.json"
    jf.write_text('{"a": 1, "b": {"c": 2}}\n{"a": 3, "b": {"c": 4}}\n')
    df2 = open_data(spark, str(jf))
    assert df2.count() == 2

    bad = tmp_path / "t.bin"
    bad.write_bytes(b"\x00\x01\x02nonsense")
    with pytest.raises(DataIOError):
        open_data(spark, str(bad))


def test_open_sensor_records_flattens_nested(spark, tmp_path):
    """Nested JSON → dotted paths ≙ json_normalize (reference :610-612)."""
    jf = tmp_path / "rec.json"
    jf.write_text(
        '[{"id": 1, "fields": {"ts": "2024-01-01", "pm25": 12.5}},'
        ' {"id": 2, "fields": {"ts": "2024-01-02", "pm25": 9.1}}]'
    )
    df = open_sensor_records(spark, str(jf))
    assert set(df.columns) == {"id", "fields.ts", "fields.pm25"}
    assert df.count() == 2


def test_open_dir_union_with_sensor_tagging(spark, tmp_path):
    """Directory union + per-file sensor id (reference S4 :429-442; its
    len(df)-vs-len(df2) tagging bug replaced by input_file_name mapping)."""
    d = tmp_path / "sensors"
    d.mkdir()
    (d / "s1.json").write_text('{"v": 1}\n{"v": 2}\n')
    (d / "s2.json").write_text('{"v": 3}\n')
    df = open_dir_of_data(spark, str(d), sensor_ids={"s1": 101, "s2": 102})
    rows = {(r["v"], r["sensor_id"]) for r in df.collect()}
    assert rows == {(1, 101), (2, 101), (3, 102)}


def test_flatten_structs_recursive(spark):
    df = spark.createDataFrame(
        [(1, {"b": {"c": 5}, "d": "x"})],
        "a long, n struct<b: struct<c: long>, d: string>",
    )
    out = flatten_structs(df)
    assert set(out.columns) == {"a", "n.b.c", "n.d"}
    assert out.first()["n.b.c"] == 5


def test_open_spatial_data_drops_invalid(spark, tmp_path):
    csv = tmp_path / "pts.csv"
    csv.write_text("id,lon,lat\n1,0.5,0.5\n2,,0.1\n3,1.5,2.5\n")
    df = open_spatial_data(spark, str(csv))
    assert df.count() == 2


def test_write_geojson_small_result(spark, tmp_path):
    df = spark.createDataFrame([(1, 1.5, 43.5, "a")], "id long, lon double, lat double, name string")
    out = tmp_path / "o.geojson"
    write_geojson(df, str(out))
    gj = json.loads(out.read_text())
    assert gj["type"] == "FeatureCollection"
    assert gj["features"][0]["geometry"]["coordinates"] == [1.5, 43.5]
    assert gj["features"][0]["properties"] == {"id": 1, "name": "a"}


def test_custom_datasource_partitioned_and_deterministic(spark):
    """PySpark 4 Python DataSource: correct row grid, value formula, and
    the requested partition split (parallel scan, not a driver loop)."""
    from sensordatapipelines_spark.sources.synthetic import (
        _value,
        register_sensor_synth,
    )

    register_sensor_synth(spark)
    df = (
        spark.read.format("sensor_synth")
        .option("n_sensors", 10)
        .option("n_readings", 5)
        .option("n_partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == 50
    got = {(r["sensor_id"], r["reading_no"]): r["value"] for r in rows}
    assert got[(3, 2)] == _value(3, 2) == float((3 * 31 + 2 * 17) % 1000) / 10.0


def test_grouped_zscore_matches_window_formulation(spark):
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.operators.utility import grouped_zscore

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, "b", 10.0), (5, "b", 30.0)],
        "id long, g string, value double",
    )
    out = {r["id"]: r["z"] for r in grouped_zscore(df, ["g"], "value").collect()}
    assert abs(out[1] - (-1.0)) < 1e-12 and abs(out[2]) < 1e-12
    assert abs(out[4] - (-2 ** -0.5)) < 1e-12


def test_write_zordered_tightens_file_footprints(spark, tmp_path):
    """Z-order clustering measurably improves bbox prunability: the share
    of files whose lon/lat min-max stats intersect a small query window is
    far lower than in a hash-scattered layout of the same data."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.sources.sinks import write_zordered

    pts = spark.range(4096).select(
        (F.col("id") % 64 * 0.01).alias("lon"),
        (F.floor(F.col("id") / 64) * 0.01).alias("lat"),
        F.col("id").alias("v"),
    )
    plain_dir, z_dir = str(tmp_path / "plain"), str(tmp_path / "zord")
    pts.repartition(16).write.parquet(plain_dir)  # hash-scattered baseline
    write_zordered(pts, z_dir, cell_size=0.01, bits=6, n_files=16)

    def touched(d):
        hit, total = 0, 0
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                stats = {
                    row.column(i).path_in_schema: row.column(i).statistics
                    for i in range(row.num_columns)
                }
                total += 1
                if (
                    stats["lon"].min <= 0.05
                    and stats["lon"].max >= 0.0
                    and stats["lat"].min <= 0.05
                    and stats["lat"].max >= 0.0
                ):
                    hit += 1
        return hit, total

    ph, pt = touched(plain_dir)
    zh, zt = touched(z_dir)
    assert ph == pt  # hash layout: every file spans the whole extent
    assert zh <= zt // 4  # z-order: the 6x6-cell window hits few tiles
    # same data back
    assert spark.read.parquet(z_dir).count() == 4096


def test_write_zordered_real_world_coordinates(spark, tmp_path):
    """Negative, wide-range coordinates (a real-world extent far beyond
    2^bits cells at the default cell_size) must not wrap or alias: indices
    rebase to a non-negative origin and bits grow to cover the actual
    range, so distant tiles keep distinct keys and bbox prunability
    survives."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sensordatapipelines_spark.sources.sinks import write_zordered

    # a grid spanning [-122.4, -121.76) x [37.0, 37.64) — indices ~ -24480
    # and ~7400 at cell_size=0.005: negative AND far beyond 8-bit range
    pts = spark.range(4096).select(
        (F.lit(-122.4) + F.col("id") % 64 * 0.01).alias("lon"),
        (F.lit(37.0) + F.floor(F.col("id") / 64) * 0.01).alias("lat"),
        F.col("id").alias("v"),
    )
    z_dir = str(tmp_path / "zneg")
    write_zordered(pts, z_dir, cell_size=0.005, bits=8, n_files=16)
    hit, total = 0, 0
    for f in glob.glob(f"{z_dir}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            stats = {
                row.column(i).path_in_schema: row.column(i).statistics
                for i in range(row.num_columns)
            }
            total += 1
            if (
                stats["lon"].min <= -122.35
                and stats["lon"].max >= -122.4
                and stats["lat"].min <= 37.05
                and stats["lat"].max >= 37.0
            ):
                hit += 1
    # with mod-256 wrapping/negative keys the tiles alias and most files
    # span the window; with the rebase only a few do
    assert hit <= total // 4
    assert spark.read.parquet(z_dir).count() == 4096


def test_compact_dir_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from sensordatapipelines_spark.sources.sinks import compact_dir

    d = str(tmp_path / "many")
    spark.range(1000).repartition(20).write.parquet(d)
    assert len(glob.glob(f"{d}/part-*.parquet")) == 20
    compact_dir(spark, d, target_files=3)
    assert len(glob.glob(f"{d}/part-*.parquet")) == 3
    assert spark.read.parquet(d).count() == 1000


def test_union_evolving_schema_drift(spark, tmp_path):
    from sensordatapipelines_spark.sources.readers import union_evolving

    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(p1)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(p2)
    out = union_evolving(spark, [p1, p2])
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["score"] is None          # old data: NULL for new column
    assert rows[2]["score"] == 9.5
    assert set(out.columns) == {"id", "name", "score"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        union_evolving(spark, [])


def test_excel_fallback_raises_dataio_without_engine(spark, tmp_path):
    """The S2 chain's Excel tail: a .xlsx that no columnar format decodes
    reaches the pandas fallback; without an excel engine installed the
    typed DataIOError surfaces (not a bare ImportError)."""
    import pytest as _pytest

    from sensordatapipelines_spark.errors import DataIOError
    from sensordatapipelines_spark.sources.readers import open_data

    fake = tmp_path / "report.xlsx"
    fake.write_bytes(b"PK\x03\x04 not really a workbook")
    with _pytest.raises(DataIOError):
        open_data(spark, str(fake))


def test_sensor_synth_streaming_source(spark):
    """Streaming face of the custom Python DataSource: offsets advance by
    reading_no, rows are a pure function of the offset range (deterministic
    replay = exactly-once), and the stream output matches the generator."""
    from sensordatapipelines_spark.sources.synthetic import (
        SensorSynthStreamReader,
        _value,
        register_sensor_synth,
    )

    register_sensor_synth(spark)
    stream = (
        spark.readStream.format("sensor_synth")
        .option("n_sensors", 3)
        .option("batch_readings", 5)
        .load()
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("synth_stream_t").collect()
    assert len(rows) == 15  # one micro-batch: 3 sensors x 5 readings
    assert all(
        r["value"] == _value(r["sensor_id"], r["reading_no"]) for r in rows
    )
    # offset/replay contract, directly on the reader
    r = SensorSynthStreamReader({"n_sensors": 2, "batch_readings": 3})
    assert r.initialOffset() == {"reading_no": 0}
    batch, nxt = r.read({"reading_no": 0})
    assert nxt == {"reading_no": 3}
    assert list(batch) == list(r.readBetweenOffsets({"reading_no": 0}, nxt))


def _write_tiny_xlsx(path):
    """Author a minimal real xlsx with stdlib zipfile (no Excel engine in
    this container): shared-string, inline-string, float, int and empty
    cells — the shapes the fallback reader must handle."""
    import zipfile

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    ct = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{m}" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    ss = (
        f'<?xml version="1.0"?><sst xmlns="{m}" count="3" uniqueCount="3">'
        "<si><t>sensor</t></si><si><t>value</t></si><si><t>s1</t></si></sst>"
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{m}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>1.5</v></c></row>'
        '<row r="3"><c r="A3" t="inlineStr"><is><t>s2</t></is></c><c r="B3"><v>7</v></c></row>'
        '<row r="4"><c r="A4" t="inlineStr"><is><t>s3</t></is></c><c r="B4"/></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", ss)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_open_data_excel_fallback_chain(spark, tmp_path):
    """S2's Excel branch, exercised with a real xlsx through open_data:
    pandas.read_excel when an engine exists, else the stdlib minimal
    reader — either way the chain ends in a DataFrame, not an error
    (reference open_data :444-458). Garbage with an .xlsx extension still
    raises DataIOError."""
    import pytest as _pytest

    from sensordatapipelines_spark.errors import DataIOError
    from sensordatapipelines_spark.sources.readers import open_data

    p = str(tmp_path / "tiny.xlsx")
    _write_tiny_xlsx(p)
    df = open_data(spark, p)
    assert df.columns == ["sensor", "value"]
    rows = {r["sensor"]: r["value"] for r in df.collect()}
    assert rows == {"s1": 1.5, "s2": 7, "s3": None}

    bad = str(tmp_path / "junk.xlsx")
    with open(bad, "wb") as f:
        f.write(b"\x00\x01\x02 not a zip at all")
    with _pytest.raises(DataIOError):
        open_data(spark, bad)


def test_open_binary_dir_reads_payloads(spark, tmp_path):
    """binaryFile ingestion: content bytes round-trip exactly, glob
    pruning filters at listing time."""
    from sensordatapipelines_spark.sources.readers import open_binary_dir

    (tmp_path / "a.bin").write_bytes(b"\x00\x01\xfe")
    (tmp_path / "b.bin").write_bytes(b"payload")
    (tmp_path / "skip.txt").write_bytes(b"nope")
    df = open_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = {r["path"].split("/")[-1]: bytes(r["content"]) for r in df.collect()}
    assert rows == {"a.bin": b"\x00\x01\xfe", "b.bin": b"payload"}
    assert {r["length"] for r in df.collect()} == {3, 7}


def test_open_text_logs_parses_and_nulls_unparseable(spark, tmp_path):
    from sensordatapipelines_spark.operators import utility  # noqa: F401
    from sensordatapipelines_spark.sources.readers import open_text_logs

    (tmp_path / "x.log").write_text(
        "evt=1 user=10 type=click\n"
        "evt=2 user=20 type=view\n"
        "GARBAGE LINE\n"
    )
    df = open_text_logs(
        spark,
        str(tmp_path),
        r"^evt=(\d+) user=(\d+) type=(\w+)$",
        [("event_id", "long"), ("user_id", "long"), ("event_type", "string")],
    )
    rows = df.collect()
    assert len(rows) == 3  # unparseable line survives as NULLs
    parsed = {r["event_id"]: r for r in rows if r["event_id"] is not None}
    assert parsed[1]["event_type"] == "click" and parsed[2]["user_id"] == 20
    assert df.filter("event_id IS NULL").count() == 1


def test_open_geojson_mixed_geometries_and_validity(spark, tmp_path):
    """Native GeoJSON FeatureCollection reader: Polygon and MultiPolygon in
    ONE file (different coordinate nesting depths), closing vertices
    dropped, holes surfaced via keep_holes, and the S1 validity filter
    dropping non-polygonal / degenerate features."""
    import json

    from sensordatapipelines_spark.sources.readers import open_geojson

    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[0.0, 0.0], [1.0, 0.0], [0.5, 1.0], [0.0, 0.0]],
                        [[0.2, 0.2], [0.8, 0.2], [0.5, 0.7], [0.2, 0.2]],
                    ],
                },
                "properties": {"zone_id": 1, "name": "donut"},
            },
            {
                "type": "Feature",
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [[[2.0, 2.0], [3.0, 2.0], [2.5, 3.0]]],
                        [[[4.0, 4.0], [5.0, 4.0], [4.5, 5.0]]],
                    ],
                },
                "properties": {"zone_id": 2},
            },
            {
                "type": "Feature",
                "geometry": {"type": "LineString", "coordinates": [[0, 0], [1, 1]]},
                "properties": {"zone_id": 98},
            },
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
                },
                "properties": {"zone_id": 99},
            },
        ],
    }
    p = tmp_path / "zones.geojson"
    p.write_text(json.dumps(fc))

    out = open_geojson(spark, str(p), keep_holes=True)
    rows = {(r["feature_idx"], r["part"]): r for r in out.collect()}
    # 1 polygon part + 2 multipolygon parts; invalid features dropped
    assert set(rows) == {(0, 0), (1, 0), (1, 1)}
    donut = rows[(0, 0)]
    assert donut["xs"] == [0.0, 1.0, 0.5]          # closing vertex dropped
    assert donut["properties"]["name"] == "donut"
    assert donut["properties"]["zone_id"] == "1"   # raw-text map
    assert len(donut["rings"]) == 2                # hole kept
    assert donut["rings"][1]["xs"] == [0.2, 0.8, 0.5]
    mp = rows[(1, 1)]
    assert mp["geom_type"] == "MultiPolygon" and mp["xs"] == [4.0, 5.0, 4.5]
    # validate=False keeps the degraded rows as NULL/short rings
    raw = open_geojson(spark, str(p), validate=False)
    assert raw.count() == 5  # 3 valid parts + LineString NULL + 2-vertex


def test_open_ascii_grid_decode(spark, tmp_path):
    """ESRI ASCII-grid decode: header fields parsed, top row first
    (py = nrows-1-row), corner vs center origin arithmetic, nodata
    surfaced as a column, all JVM-side."""
    from sensordatapipelines_spark.sources.readers import open_ascii_grid

    p = tmp_path / "g.asc"
    p.write_text(
        "ncols 3\nnrows 2\nxllcorner 10.0\nyllcorner 20.0\n"
        "cellsize 0.5\nNODATA_value -9\n"
        "1 2 3\n4 -9 6\n"
    )
    rows = {(r["px"], r["py"]): r for r in open_ascii_grid(spark, str(p), band=7).collect()}
    assert len(rows) == 6
    # first data line is the TOP row -> py = 1
    assert rows[(0, 1)]["value"] == 1.0 and rows[(2, 1)]["value"] == 3.0
    assert rows[(1, 0)]["value"] == -9.0  # nodata kept in the decode
    r = rows[(2, 0)]
    assert r["band"] == 7 and r["nodata"] == -9.0
    assert r["x"] == 10.0 + 2 * 0.5 and r["y"] == 20.0
    c = {
        (r["px"], r["py"]): r
        for r in open_ascii_grid(spark, str(p), origin="center").collect()
    }
    assert c[(0, 0)]["x"] == 10.0 + 0.25 and c[(0, 0)]["y"] == 20.0 + 0.25


@contextlib.contextmanager
def _decode_cap(max_bytes):
    """Run the file readers (``open_shapefile``, ``open_geopackage``) with
    their shared driver-decode size cap at ``max_bytes`` (``None`` keeps
    the default, under which every test input decodes on the driver; -1
    sends every input to mapInPandas)."""
    from sensordatapipelines_spark import runtime

    saved = runtime._DRIVER_DECODE_MAX_BYTES
    if max_bytes is not None:
        runtime._DRIVER_DECODE_MAX_BYTES = max_bytes
    try:
        yield
    finally:
        runtime._DRIVER_DECODE_MAX_BYTES = saved


# both sides of the readers' size rule: driver decode, mapInPandas
_DECODE_CAPS = (None, -1)


def test_shapefile_roundtrip_multipart_holes_points(spark, tmp_path):
    """Pure-python ESRI Shapefile round-trip: multi-part record (two outer
    rings), donut record (outer + hole, grouped by winding), .dbf
    attributes joined by record index; degenerate record dropped by the
    validity filter. Checked on both sides of the reader's size rule."""
    from sensordatapipelines_spark.sources.shapefile import (
        open_shapefile,
        parse_dbf,
        parse_shp,
        write_dbf,
        write_shp_polygons,
    )

    shapes = [
        # record 1: MultiPolygon — two single-ring parts
        [
            [([0.0, 1.0, 0.5], [0.0, 0.0, 1.0])],
            [([5.0, 6.0, 5.5], [5.0, 5.0, 6.0])],
        ],
        # record 2: donut — one part, outer + hole
        [[
            ([2.0, 4.0, 4.0, 2.0], [2.0, 2.0, 4.0, 4.0]),
            ([2.5, 3.5, 3.5, 2.5], [2.5, 2.5, 3.5, 3.5]),
        ]],
        # record 3: degenerate 2-vertex ring — the validity filter drops it
        [[([7.0, 8.0], [7.0, 8.0])]],
    ]
    write_shp_polygons(str(tmp_path / "z.shp"), shapes)
    write_dbf(
        str(tmp_path / "z.dbf"),
        ["zone_id", "name"],
        [["1", "multi"], ["2", "donut"], ["3", "sliver"]],
    )

    names, rows = parse_dbf((tmp_path / "z.dbf").read_bytes())
    assert names == ["zone_id", "name"]
    assert rows == [["1", "multi"], ["2", "donut"], ["3", "sliver"]]
    recs = parse_shp((tmp_path / "z.shp").read_bytes())
    assert [r[0] for r in recs] == [1, 2, 3]
    assert len(recs[0][2]) == 2 and len(recs[1][2]) == 2  # flat ring counts

    for cap in _DECODE_CAPS:
        with _decode_cap(cap):
            df = open_shapefile(spark, str(tmp_path))
            out = {(r["fid"], r["part"]): r for r in df.collect()}
        assert set(out) == {(1, 0), (1, 1), (2, 0)}, cap
        assert out[(1, 0)]["properties"]["name"] == "multi"
        # multipart: both rings are OUTER (two parts, one ring each)
        assert len(out[(1, 0)]["rings"]) == 1 and len(out[(1, 1)]["rings"]) == 1
        assert sorted(out[(1, 1)]["xs"]) == [5.0, 5.5, 6.0]
        # donut: one part with outer + hole
        donut = out[(2, 0)]
        assert len(donut["rings"]) == 2
        assert sorted(donut["rings"][1]["xs"]) == [2.5, 2.5, 3.5, 3.5]
        assert donut["properties"]["zone_id"] == "2"


def test_shapefile_point_polyline_writers_roundtrip(spark, tmp_path):
    """Type-1 (POINT — the reference's DEFAULT sensor export,
    data_preprocessing.py:201-206) and type-3 (POLYLINE) writers
    round-trip bit-exact through open_shapefile, and a deleted .dbf
    record keeps later attributes aligned to their geometry. Checked on
    both sides of the reader's size rule."""
    import struct

    from sensordatapipelines_spark.sources.shapefile import (
        open_shapefile,
        parse_dbf,
        parse_shp,
        write_dbf,
        write_shp_points,
        write_shp_polylines,
    )

    pts = [(0.125, 51.5), (-73.98, 40.75), (139.69, 35.68)]
    d = tmp_path / "ptlayer"
    d.mkdir()
    write_shp_points(str(d / "sensors.shp"), pts)
    write_dbf(
        str(d / "sensors.dbf"),
        ["sensor_id", "val"],
        [["s1", "1.25"], ["s2", "2.5"], ["s3", "3.75"]],
    )
    # polylines: a 2-part record + a single-part record
    lines = [
        [([0.0, 1.0, 2.0], [0.0, 1.0, 0.0]), ([5.0, 6.0], [5.0, 5.0])],
        [([-1.0, -2.0], [3.0, 4.0])],
    ]
    d2 = tmp_path / "lnlayer"
    d2.mkdir()
    write_shp_polylines(str(d2 / "roads.shp"), lines)
    recs = parse_shp((d2 / "roads.shp").read_bytes())
    assert [(r[0], r[1], len(r[2])) for r in recs] == [
        (1, "polyline", 2), (2, "polyline", 1)
    ]
    assert recs[0][2][0] == ([0.0, 1.0, 2.0], [0.0, 1.0, 0.0])
    # closed polyline parts keep their repeated endpoint (real geometry)
    d3 = tmp_path / "looplayer"
    d3.mkdir()
    write_shp_polylines(
        str(d3 / "loop.shp"), [[([0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0])]]
    )
    (loop,) = parse_shp((d3 / "loop.shp").read_bytes())
    assert len(loop[2][0][0]) == 5

    for cap in _DECODE_CAPS:
        with _decode_cap(cap):
            got = (
                open_shapefile(spark, str(d))
                .select("fid", "geom_type", "properties", "xs", "ys")
                .collect()
            )
            rows = (
                open_shapefile(spark, str(d2))
                .select("fid", "part", "geom_type", "xs")
                .collect()
            )
            (loop_row,) = open_shapefile(spark, str(d3)).collect()
        assert [(r.fid, r.geom_type) for r in got] == [
            (1, "point"), (2, "point"), (3, "point")
        ], cap
        assert [(r.xs[0], r.ys[0]) for r in got] == pts  # doubles bit-exact
        assert got[1].properties == {"sensor_id": "s2", "val": "2.5"}
        assert [(r.fid, r.part, r.geom_type) for r in rows] == [
            (1, 0, "polyline"), (1, 1, "polyline"), (2, 0, "polyline")
        ]
        assert loop_row.xs == [0.0, 1.0, 1.0, 0.0, 0.0] and loop_row.properties == {}

    # deleted dbf record: flag row 2 deleted; row 3's attrs must stay on
    # geometry 3 (positional pairing), not shift onto geometry 2
    raw = bytearray((d / "sensors.dbf").read_bytes())
    header_size, record_size = struct.unpack_from("<HH", raw, 8)
    raw[header_size + record_size] = 0x2A  # b'*'
    (d / "sensors.dbf").write_bytes(bytes(raw))
    names, rows2 = parse_dbf((d / "sensors.dbf").read_bytes())
    assert rows2[1] is None and rows2[2] == ["s3", "3.75"]
    for cap in _DECODE_CAPS:
        with _decode_cap(cap):
            got2 = {
                r.fid: r.properties
                for r in open_shapefile(spark, str(d)).collect()
            }
        assert got2[2] == {} and got2[3] == {"sensor_id": "s3", "val": "3.75"}, cap


def test_shapefile_driver_and_executor_decode_agree(spark, tmp_path):
    """A layer at or under the size cap is decoded once on the driver into
    a local relation (no Python node in the executed plan); a larger one
    keeps the file-parallel mapInPandas decode. Both give the same rows and
    schema for a .shp without .dbf and a two-layer directory, and the cap
    compares against the exact .shp + .dbf bytes."""
    from sensordatapipelines_spark.sources.shapefile import (
        open_shapefile,
        write_dbf,
        write_shp_points,
        write_shp_polylines,
    )

    no_dbf = tmp_path / "no_dbf"
    no_dbf.mkdir()
    write_shp_points(str(no_dbf / "bare.shp"), [(4.0, 5.0), (6.0, 7.0)])
    two = tmp_path / "two_layers"
    two.mkdir()
    write_shp_points(str(two / "a.shp"), [(1.0, 2.0), (3.0, 4.0)])
    write_dbf(str(two / "a.dbf"), ["k"], [["a1"], ["a2"]])
    write_shp_polylines(str(two / "b.shp"), [[([0.0, 1.0], [0.0, 1.0])]])
    write_dbf(str(two / "b.dbf"), ["k"], [["b1"]])

    def opened(path, cap):
        with _decode_cap(cap):
            df = open_shapefile(spark, str(path))
            rows = sorted(df.collect(), key=lambda r: (r.layer, r.fid, r.part))
        return rows, df.schema, df._jdf.queryExecution().executedPlan().toString()

    for path in (no_dbf, two):
        d_rows, d_schema, d_plan = opened(path, None)
        e_rows, e_schema, e_plan = opened(path, -1)
        assert d_rows == e_rows and d_schema == e_schema, path.name
        assert "MapInPandas" not in d_plan and "MapInPandas" in e_plan, path.name
        if path == no_dbf:
            assert [(r.properties, r.xs, r.ys) for r in d_rows] == [
                ({}, [4.0], [5.0]), ({}, [6.0], [7.0])
            ]
        else:
            assert [(r.layer, r.fid, r.properties) for r in d_rows] == [
                ("a", 1, {"k": "a1"}), ("a", 2, {"k": "a2"}), ("b", 1, {"k": "b1"})
            ]

    two_bytes = sum(f.stat().st_size for f in two.iterdir())
    assert "MapInPandas" not in opened(two, two_bytes)[2]
    assert "MapInPandas" in opened(two, two_bytes - 1)[2]


def test_shapefile_small_layer_errors_at_open(spark, tmp_path):
    """A small layer is read when ``open_shapefile`` is called, so a
    truncated .shp raises ValueError there; the executor path defers the
    same failure to the first action."""
    from sensordatapipelines_spark.sources.shapefile import open_shapefile, write_shp_points

    write_shp_points(str(tmp_path / "s.shp"), [(1.0, 2.0), (3.0, 4.0)])
    raw = (tmp_path / "s.shp").read_bytes()
    (tmp_path / "s.shp").write_bytes(raw[:100 + 8 + 10])  # cut inside record 1
    with pytest.raises(ValueError, match="corrupt shapefile"):
        open_shapefile(spark, str(tmp_path))

    with _decode_cap(-1):
        df = open_shapefile(spark, str(tmp_path))
        with pytest.raises(Exception, match="corrupt shapefile"):
            df.collect()


def _new_gpkg(path, tables, wal=False):
    """Open a SQLite connection on a fresh .gpkg at ``path`` with the OGC
    registry tables and one feature table per ``{name: create_sql}`` of
    ``tables``, each with geometry column ``geom``."""
    import sqlite3

    con = sqlite3.connect(str(path))
    if wal:
        con.execute("PRAGMA journal_mode=WAL")
    con.execute("CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)")
    con.execute(
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT)"
    )
    for name, create_sql in tables.items():
        con.execute("INSERT INTO gpkg_contents VALUES (?, 'features')", (name,))
        con.execute("INSERT INTO gpkg_geometry_columns VALUES (?, 'geom')", (name,))
        con.execute(create_sql)
    return con


def _point_gpb(x, y):
    import struct

    from sensordatapipelines_spark.sources.geopackage import wrap_gpb

    return wrap_gpb(b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", x, y))


def test_geopackage_roundtrip(spark, tmp_path):
    """GPB wrap/strip symmetry, gpkg_contents discovery, attribute map,
    MultiPolygon part fan-out through the WKB decode, on both sides of
    the size rule; a second feature table makes discovery ambiguous
    until ``table=`` names one."""
    from sensordatapipelines_spark.operators.spatial import encode_wkb_polygon
    from sensordatapipelines_spark.sources.geopackage import (
        open_geopackage,
        strip_gpb_header,
        wrap_gpb,
    )

    wkb = encode_wkb_polygon([[(0.0, 0.0), (1.0, 0.0), (0.5, 1.0)]])
    assert strip_gpb_header(wrap_gpb(wkb)) == wkb

    p = tmp_path / "z.gpkg"
    con = _new_gpkg(p, {"zones": "CREATE TABLE zones (zone_id INTEGER, name TEXT, geom BLOB)"})
    con.execute(
        "INSERT INTO zones VALUES (1, 'tri', ?)",
        (wrap_gpb(encode_wkb_polygon([[(0.0, 0.0), (1.0, 0.0), (0.5, 1.0)]])),),
    )
    con.execute(
        "INSERT INTO zones VALUES (2, 'multi', ?)",
        (wrap_gpb(encode_wkb_polygon(
            [[(2.0, 2.0), (3.0, 2.0), (2.5, 3.0)],
             [(4.0, 4.0), (5.0, 4.0), (4.5, 5.0)]]
        )),),
    )
    con.commit()
    con.close()

    for cap in _DECODE_CAPS:
        with _decode_cap(cap):
            out = {
                (r["properties"]["zone_id"], r["part"]): r
                for r in open_geopackage(spark, str(p)).collect()
            }
        assert set(out) == {("1", 0), ("2", 0), ("2", 1)}, cap
        assert out[("1", 0)]["properties"]["name"] == "tri"
        assert out[("1", 0)]["xs"] == [0.0, 1.0, 0.5]
        assert out[("2", 1)]["xs"] == [4.0, 5.0, 4.5]

    two = tmp_path / "two" / "t.gpkg"
    two.parent.mkdir()
    con = _new_gpkg(two, {
        "a": "CREATE TABLE a (k TEXT, geom BLOB)",
        "b": "CREATE TABLE b (k TEXT, geom BLOB)",
    })
    con.execute("INSERT INTO a VALUES ('a1', ?)", (_point_gpb(1.0, 2.0),))
    con.execute("INSERT INTO b VALUES ('b1', ?)", (_point_gpb(3.0, 4.0),))
    con.commit()
    con.close()
    with pytest.raises(ValueError, match=r"2 feature tables \['a', 'b'\]"):
        open_geopackage(spark, str(two), geometry_kind="point")
    (row,) = open_geopackage(spark, str(two), table="b", geometry_kind="point").collect()
    assert (row["properties"], row["lon"], row["lat"]) == ({"k": "b1"}, 3.0, 4.0)


def test_geopackage_cap_boundary_and_errors_at_open(spark, tmp_path):
    """The size rule compares the exact .gpkg bytes: at the cap the file
    decodes on the driver (no Python node in the executed plan beyond
    the WKB UDF), one byte under it in a mapInPandas task. A corrupt
    small file raises ValueError at the call; above the cap the same
    failure waits for the first action."""
    from sensordatapipelines_spark.sources.geopackage import open_geopackage

    p = tmp_path / "pts.gpkg"
    con = _new_gpkg(p, {"pts": "CREATE TABLE pts (name TEXT, geom BLOB)"})
    con.execute("INSERT INTO pts VALUES ('a', ?)", (_point_gpb(1.0, 2.0),))
    con.commit()
    con.close()

    def plan(cap):
        with _decode_cap(cap):
            df = open_geopackage(spark, str(p), geometry_kind="point")
            assert [tuple(r) for r in df.select("lon", "lat").collect()] == [(1.0, 2.0)]
        return df._jdf.queryExecution().executedPlan().toString()

    size = p.stat().st_size
    assert "MapInPandas" not in plan(size)
    assert "MapInPandas" in plan(size - 1)

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "cut.gpkg").write_bytes(p.read_bytes()[:1500])
    with pytest.raises(ValueError, match="cut.gpkg"):
        open_geopackage(spark, str(bad))
    (bad / "cut.gpkg").write_bytes(b"not a database" * 8)
    with pytest.raises(ValueError, match="not a SQLite database"):
        open_geopackage(spark, str(bad))
    with _decode_cap(-1):
        df = open_geopackage(spark, str(bad))
        with pytest.raises(Exception, match="not a SQLite database"):
            df.collect()


def test_geopackage_uncheckpointed_wal_raises(spark, tmp_path):
    """The parser reads the main file only, so commits still in a
    non-empty ``-wal`` log would be missed: the reader raises, naming the
    log, for a file path and for its directory. Once the writer closes
    (SQLite checkpoints and removes the log), every row reads."""
    from sensordatapipelines_spark.sources.geopackage import open_geopackage

    p = tmp_path / "w.gpkg"
    con = _new_gpkg(p, {"pts": "CREATE TABLE pts (name TEXT, geom BLOB)"}, wal=True)
    for i in range(10):
        con.execute("INSERT INTO pts VALUES (?, ?)", (f"p{i}", _point_gpb(float(i), 0.0)))
    con.commit()
    con.execute("PRAGMA wal_checkpoint(TRUNCATE)")
    for i in range(10, 60):
        con.execute("INSERT INTO pts VALUES (?, ?)", (f"p{i}", _point_gpb(float(i), 0.0)))
    con.commit()
    assert (tmp_path / "w.gpkg-wal").stat().st_size > 0
    try:
        for path in (p, tmp_path):
            with pytest.raises(ValueError, match=r"w\.gpkg-wal"):
                open_geopackage(spark, str(path), geometry_kind="point")
    finally:
        con.close()
    assert not (tmp_path / "w.gpkg-wal").exists()
    for path in (p, tmp_path):
        got = open_geopackage(spark, str(path), geometry_kind="point")
        assert sorted(r["lon"] for r in got.collect()) == [float(i) for i in range(60)]


def test_geotiff_roundtrip_dtypes_and_cell_table(spark, tmp_path):
    """write_geotiff -> parse_geotiff is value-exact for every supported
    dtype, and open_geotiff emits the same cell table as the equivalent
    ASCII grid (the conventions contract that lets oracles transfer)."""
    import numpy as np

    from sensordatapipelines_spark.sources.geotiff import (
        open_geotiff,
        parse_geotiff,
        write_geotiff,
    )

    rng = np.random.RandomState(11)
    for dtype, gen in [
        ("u1", lambda s: rng.randint(0, 256, s)),
        ("i2", lambda s: rng.randint(-(2**15), 2**15, s)),
        ("i4", lambda s: rng.randint(-(2**31), 2**31, s)),
        ("f4", lambda s: rng.randn(*s).astype("f4")),
        ("f8", lambda s: rng.randn(*s)),
    ]:
        a = np.asarray(gen((3, 5, 7)))
        p = str(tmp_path / f"rt_{dtype}.tif")
        write_geotiff(p, a, pixel_scale=(0.5, 0.25), upper_left=(10.0, 20.0),
                      nodata=-1, dtype=dtype)
        cube, meta = parse_geotiff(open(p, "rb").read())
        assert cube.shape == (3, 5, 7)
        assert np.array_equal(cube, a.astype(np.float64))
        assert (meta["sx"], meta["sy"]) == (0.5, 0.25)
        assert (meta["ulx"], meta["uly"]) == (10.0, 20.0)
        assert meta["nodata"] == -1.0

    # Spark path: 2-band file -> cell table rows = 2 * nrows * ncols, and
    # corner-origin coords reproduce xll + px*sx / yll + py*sy bit-exactly
    vals = np.arange(2 * 4 * 6).reshape(2, 4, 6).astype(np.float64)
    gp = str(tmp_path / "cells.tif")
    write_geotiff(gp, vals, pixel_scale=(0.005, 0.005),
                  upper_left=(0.0, 4 * 0.005), nodata=0, dtype="f8")
    cells = open_geotiff(spark, str(tmp_path), pattern="cells.tif").collect()
    assert len(cells) == 2 * 4 * 6
    for r in cells:
        row = 4 - 1 - (r.py)  # top row first in the file
        assert r.value == vals[r.band - 1, row, r.px]
        assert r.x == r.px * 0.005 and r.y == r.py * 0.005
        assert r.nodata == 0.0
    # band selection keeps only that sample
    b2 = open_geotiff(spark, str(tmp_path), band=2, pattern="cells.tif")
    assert b2.count() == 4 * 6 and b2.select("band").distinct().collect()[0][0] == 2


def test_geotiff_jpeg_compression_roundtrip(tmp_path):
    """TIFF compression 7 (new-style JPEG, TTN2 shared JPEGTables):
    constant 8×8 blocks survive the DCT path exactly, the abbreviated
    strip + tag-347 merge reassembles valid streams, ragged final strips
    trim, and the other codecs are unaffected by the strip chain."""
    import numpy as np

    from sensordatapipelines_spark.sources.geotiff import (
        _TAG_JPEG_TABLES,
        _read_ifd,
        parse_geotiff,
        write_geotiff,
    )

    rng = np.random.RandomState(23)
    v = rng.randint(0, 256, (4, 4)).astype(np.uint8)
    px = np.repeat(np.repeat(v, 8, 0), 8, 1)
    p = str(tmp_path / "jpeg.tif")
    write_geotiff(p, px.astype(np.float64), dtype="u1", compression="jpeg")
    payload = open(p, "rb").read()
    cube, meta = parse_geotiff(payload)
    assert np.array_equal(cube[0].astype(np.uint8), px)
    # the shared-tables tag really is present (abbreviated strips)
    import struct

    (ifd_off,) = struct.unpack_from("<I", payload, 4)
    tags = _read_ifd(payload, "<", ifd_off)
    assert _TAG_JPEG_TABLES in tags and tags[_TAG_JPEG_TABLES][:2] == [0xFF, 0xD8]

    # ragged height: strips of 8, 8, 4 rows
    px2 = np.repeat(np.repeat(rng.randint(0, 256, (3, 2)).astype(np.uint8), 8, 0), 8, 1)[:20]
    p2 = str(tmp_path / "jpeg20.tif")
    write_geotiff(p2, px2.astype(np.float64), dtype="u1", compression="jpeg")
    cube2, meta2 = parse_geotiff(open(p2, "rb").read())
    assert meta2["nrows"] == 20
    assert np.array_equal(cube2[0].astype(np.uint8), px2)

    # lossy-but-bounded on arbitrary content (quantizer 1)
    noisy = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    p3 = str(tmp_path / "jpegnoisy.tif")
    write_geotiff(p3, noisy.astype(np.float64), dtype="u1", compression="jpeg")
    cube3, _ = parse_geotiff(open(p3, "rb").read())
    assert np.abs(cube3[0] - noisy.astype(np.float64)).max() <= 2

    # guard: multi-band / non-u1 refuse the profile
    import pytest as _pytest

    with _pytest.raises(ValueError, match="single-band u1"):
        write_geotiff(str(tmp_path / "x.tif"), np.zeros((2, 8, 8)),
                      dtype="u1", compression="jpeg")
    with _pytest.raises(ValueError, match="single-band u1"):
        write_geotiff(str(tmp_path / "x.tif"), np.zeros((8, 8)),
                      dtype="f8", compression="jpeg")


def test_geotiff_ccitt_bilevel_roundtrip(tmp_path):
    """TIFF compressions 4 (T.6 G4) and 2 (T.4 MH): bilevel masks
    round-trip exactly, photometric WhiteIsZero maps black flags to
    sample values, and non-bilevel input is refused."""
    import numpy as np
    import pytest as _pytest

    from sensordatapipelines_spark.sources.geotiff import (
        parse_geotiff,
        write_geotiff,
    )

    rng = np.random.RandomState(31)
    for compname in ("ccitt-g4", "ccitt-mh"):
        mask = (rng.rand(12, 37) < 0.4).astype(np.float64)
        p = str(tmp_path / f"{compname}.tif")
        write_geotiff(p, mask, dtype="u1", compression=compname)
        cube, meta = parse_geotiff(open(p, "rb").read())
        assert (meta["ncols"], meta["nrows"]) == (37, 12)
        assert np.array_equal(cube[0], mask)
    with _pytest.raises(ValueError, match="0/1"):
        write_geotiff(str(tmp_path / "x.tif"), np.full((4, 4), 7.0),
                      dtype="u1", compression="ccitt-g4")
    with _pytest.raises(ValueError, match="single-band"):
        write_geotiff(str(tmp_path / "x.tif"), np.zeros((2, 4, 4)),
                      dtype="u1", compression="ccitt-g4")


def test_jpeg_split_tables_inverse():
    """sources.jpeg.split_tables ∘ geotiff._jpeg_tables_merge is identity
    up to decoded pixels."""
    import numpy as np

    from sensordatapipelines_spark.sources.geotiff import _jpeg_tables_merge
    from sensordatapipelines_spark.sources.jpeg import (
        decode_jpeg,
        encode_jpeg,
        split_tables,
    )

    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    full = encode_jpeg(px)
    tables, abbrev = split_tables(full)
    assert tables[:2] == b"\xff\xd8" and tables[-2:] == b"\xff\xd9"
    assert b"\xff\xc4" not in abbrev[:20]  # DHT moved out
    merged = _jpeg_tables_merge(tables, abbrev)
    a, *_ = decode_jpeg(merged)
    b, *_ = decode_jpeg(full)
    assert np.array_equal(a, b)


def test_geotiff_big_endian_and_tiled_parse(tmp_path):
    """parse_geotiff handles MM byte order and tile-organized layouts
    (hand-built files — the writer only emits II strips)."""
    import struct

    import numpy as np

    from sensordatapipelines_spark.sources.geotiff import parse_geotiff

    def build(order, tiled):
        bo = "<" if order == b"II" else ">"
        ncols, nrows = 6, 5
        data = np.arange(nrows * ncols, dtype=np.dtype(bo + "i2"))
        if tiled:
            # one 8x8 tile padded with zeros
            tile = np.zeros((8, 8), dtype=np.dtype(bo + "i2"))
            tile[:nrows, :ncols] = data.reshape(nrows, ncols)
            payload_data = tile.tobytes()
            layout_tags = [
                (322, 3, [8]), (323, 3, [8]),
                (324, 4, None),  # tile offsets filled below
                (325, 4, [len(payload_data)]),
            ]
        else:
            payload_data = data.tobytes()
            layout_tags = [
                (273, 4, None), (278, 4, [nrows]),
                (279, 4, [len(payload_data)]),
            ]
        tags = [
            (256, 4, [ncols]), (257, 4, [nrows]), (258, 3, [16]),
            (259, 3, [1]), (277, 3, [1]), (339, 3, [2]),
        ] + layout_tags
        tags.sort(key=lambda t: t[0])
        ifd_off = 8
        ifd_size = 2 + 12 * len(tags) + 4
        data_off = ifd_off + ifd_size
        out = bytearray()
        out += struct.pack(bo + "2sHI", order, 42, ifd_off)
        out += struct.pack(bo + "H", len(tags))
        for tag, ftype, vals in tags:
            if vals is None:
                vals = [data_off]
            fmt = {3: "H", 4: "I"}[ftype]
            packed = struct.pack(bo + str(len(vals)) + fmt, *vals)
            out += struct.pack(bo + "HHI", tag, ftype, len(vals))
            out += packed.ljust(4, b"\x00")[:4]
        out += struct.pack(bo + "I", 0)
        out += payload_data
        return bytes(out), data.astype(np.float64).reshape(nrows, ncols)

    for order in (b"II", b"MM"):
        for tiled in (False, True):
            payload, expect = build(order, tiled)
            cube, meta = parse_geotiff(payload)
            assert cube.shape == (1, 5, 6), (order, tiled)
            assert np.array_equal(cube[0], expect), (order, tiled)


def test_geotiff_tiled_compressed_with_predictor(tmp_path):
    """Tile-organized layouts share the strip decode path: a hand-built
    deflate-compressed 2-tile file with horizontal predictor must
    reconstruct exactly (the writer only emits strips, so this is the
    one layout x codec combination only a synthetic file can cover)."""
    import struct
    import zlib

    import numpy as np

    from sensordatapipelines_spark.sources.geotiff import parse_geotiff

    ncols, nrows, tw, th = 12, 8, 8, 8
    data = (np.arange(nrows * ncols, dtype=np.int64) * 7 % 251).reshape(
        nrows, ncols
    )
    tiles = []
    for c0 in (0, 8):
        tile = np.zeros((th, tw), dtype=np.uint8)
        take = min(tw, ncols - c0)
        tile[:nrows, :take] = data[:, c0 : c0 + take]
        # horizontal differencing per row, modulo 256
        wide = tile.astype(np.int64)
        wide[:, 1:] -= wide[:, :-1].copy()
        tiles.append(zlib.compress(wide.astype(np.uint8).tobytes()))
    tags = [
        (256, 4, [ncols]), (257, 4, [nrows]), (258, 3, [8]),
        (259, 3, [8]),              # deflate
        (277, 3, [1]), (317, 3, [2]),  # predictor=2
        (322, 3, [tw]), (323, 3, [th]),
        (324, 4, None),             # tile offsets filled below
        (325, 4, [len(t) for t in tiles]),
        (339, 3, [1]),
    ]
    tags.sort(key=lambda t: t[0])
    ifd_off = 8
    ifd_size = 2 + 12 * len(tags) + 4
    # out-of-line area: tile offsets (2 longs) + tile counts (2 longs)
    overflow_off = ifd_off + ifd_size
    data_off = overflow_off + 8 + 8
    offsets = [data_off, data_off + len(tiles[0])]
    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, ifd_off)
    out += struct.pack("<H", len(tags))
    overflow = b""
    cur = overflow_off
    for tag, ftype, vals in tags:
        if vals is None:
            vals = offsets
        fmt = {3: "H", 4: "I"}[ftype]
        packed = struct.pack("<" + str(len(vals)) + fmt, *vals)
        if len(packed) <= 4:
            out += struct.pack("<HHI", tag, ftype, len(vals))
            out += packed.ljust(4, b"\x00")
        else:
            out += struct.pack("<HHII", tag, ftype, len(vals), cur)
            overflow += packed
            cur += len(packed)
    out += struct.pack("<I", 0)
    out += overflow
    assert len(out) == data_off
    for t in tiles:
        out += t
    cube, _meta = parse_geotiff(bytes(out))
    assert cube.shape == (1, nrows, ncols)
    assert np.array_equal(cube[0], data.astype(np.float64))


def test_geotiff_rejects_compressed_and_bigtiff(tmp_path):
    import struct

    import numpy as np
    import pytest

    from sensordatapipelines_spark.sources.geotiff import (
        parse_geotiff,
        write_geotiff,
    )

    p = str(tmp_path / "c.tif")
    write_geotiff(p, np.zeros((2, 2)), dtype="u1")
    raw = bytearray(open(p, "rb").read())
    # flip the Compression tag value to JPEG (7): still undecodable
    (n,) = struct.unpack_from("<H", raw, 8)
    for i in range(n):
        base = 10 + 12 * i
        (tag,) = struct.unpack_from("<H", raw, base)
        if tag == 259:
            struct.pack_into("<I", raw, base + 8, 7)
    with pytest.raises(ValueError, match="JPEG"):
        parse_geotiff(bytes(raw))
    with pytest.raises(ValueError, match="BigTIFF"):
        parse_geotiff(struct.pack("<2sHH", b"II", 43, 0) + b"\x00" * 8)


def test_geotiff_compressed_profiles_roundtrip(tmp_path):
    """Deflate / TIFF-LZW / PackBits strips (± horizontal predictor)
    decode value-exact. The LZW width schedule and the predictor math are
    pinned against the JDK ImageIO TIFF codec (both directions) — see the
    interop note in sources/geotiff.py."""
    import numpy as np
    import pytest

    from sensordatapipelines_spark.sources.geotiff import (
        _lzw_decode,
        _lzw_encode,
        _packbits_decode,
        _packbits_encode,
        parse_geotiff,
        write_geotiff,
    )

    rng = np.random.default_rng(7)
    for style in range(3):
        n = 5000
        if style == 0:
            data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        elif style == 1:
            data = bytes(
                np.repeat(rng.integers(0, 4, n // 7 + 1, dtype=np.uint8), 7)[:n]
            )
        else:
            data = bytes(n)  # all zeroes: max-compression path
        assert _lzw_decode(_lzw_encode(data)) == data
        assert _packbits_decode(_packbits_encode(data)) == data
    # force the 9->10->11->12-bit width growth and a mid-stream CLEAR
    big = bytes(rng.integers(0, 256, 300_000, dtype=np.uint8))
    assert _lzw_decode(_lzw_encode(big)) == big

    # EOI-at-width-boundary regression: a stream whose adjacent byte pairs
    # are ALL distinct emits exactly one data code per input byte, so the
    # byte length dials in the decoder's table size precisely. At 254/766/
    # 1790 data codes the decoder's early-change check fires right after
    # the LAST data code (next_code hits 2^w - 1), so EOI must be written
    # at the bumped width — the encoder previously flushed it one bit
    # short and strict readers (and our own decoder, modulo truncation)
    # misparsed the tail.
    def unique_pair_stream(n: int) -> bytes:
        seq = bytearray()
        sep = 0
        while len(seq) < n:
            for k in range(sep + 1, 256):
                seq += bytes((sep, k))
            sep += 1
        return bytes(seq[:n])

    for m in (253, 254, 255, 765, 766, 767, 1789, 1790, 1791):
        s = unique_pair_stream(m)
        enc = _lzw_encode(s)
        assert _lzw_decode(enc) == s, f"LZW round-trip broken at {m} codes"

    px = np.arange(64)[None, :]
    py = np.arange(64)[:, None]
    cube = np.stack([(px * 31 + py * 17 + b * 7) % 101 for b in (1, 2)]).astype(
        np.float64
    )
    for compression in ("deflate", "lzw", "packbits"):
        for dtype, pred in (("u1", True), ("i2", True), ("f8", False)):
            p = str(tmp_path / f"{compression}_{dtype}_{pred}.tif")
            write_geotiff(
                p, cube, pixel_scale=(0.005, 0.005), upper_left=(0.0, 0.32),
                nodata=0, dtype=dtype, compression=compression, predictor=pred,
            )
            got, meta = parse_geotiff(open(p, "rb").read())
            assert np.array_equal(got, cube), (compression, dtype, pred)
            assert meta["nodata"] == 0.0 and meta["n_bands"] == 2
    # predictor on float samples is a typed refusal, both ways
    with pytest.raises(ValueError, match="predictor"):
        write_geotiff(
            str(tmp_path / "fp.tif"), cube, dtype="f8",
            compression="deflate", predictor=True,
        )


def test_geotiff_roundtrip_hypothesis():
    """Property: write->parse is value- and geo-exact for arbitrary small
    rasters across every supported dtype (no Spark; pure parser)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sensordatapipelines_spark.sources.geotiff import (
        parse_geotiff,
        write_geotiff,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        bands=st.integers(1, 3),
        h=st.integers(1, 9),
        w=st.integers(1, 9),
        dtype=st.sampled_from(["u1", "i2", "i4", "f4", "f8"]),
        seed=st.integers(0, 2**31 - 1),
        sx=st.floats(0.001, 10, allow_nan=False),
        ulx=st.floats(-1000, 1000, allow_nan=False),
    )
    def check(bands, h, w, dtype, seed, sx, ulx):
        import tempfile

        rng = np.random.RandomState(seed)
        if dtype[0] == "f":
            a = rng.randn(bands, h, w)
        else:
            info = np.iinfo(np.dtype(dtype))
            a = rng.randint(info.min, int(info.max) + 1, (bands, h, w))
        with tempfile.NamedTemporaryFile(suffix=".tif") as f:
            write_geotiff(
                f.name, a, pixel_scale=(sx, sx), upper_left=(ulx, 0.0),
                dtype=dtype,
            )
            cube, meta = parse_geotiff(open(f.name, "rb").read())
        expect = np.asarray(a).astype(
            np.dtype("<" + dtype)
        ).astype(np.float64)
        assert cube.shape == (bands, h, w)
        assert np.array_equal(cube, expect)
        assert (meta["n_bands"], meta["nrows"], meta["ncols"]) == (bands, h, w)
        assert meta["sx"] == sx and meta["ulx"] == ulx

    check()


def test_geotiff_corrupt_input_raises_valueerror_only():
    """Truncated/bit-flipped/garbage payloads raise ValueError (or
    NotImplementedError for legitimately unsupported profiles) — never a
    raw struct.error/KeyError leaking out of an executor task."""
    import random
    import tempfile

    import numpy as np

    from sensordatapipelines_spark.sources.geotiff import (
        parse_geotiff,
        write_geotiff,
    )

    rng = random.Random(7)
    p = tempfile.mktemp(suffix=".tif")
    write_geotiff(p, np.arange(12.0).reshape(3, 4))
    raw = open(p, "rb").read()
    for trial in range(200):
        b = bytearray(raw)
        mode = trial % 3
        if mode == 0:
            b = b[: rng.randrange(1, len(b))]
        elif mode == 1:
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        else:
            b = bytes(rng.randrange(256) for _ in range(rng.randrange(8, 200)))
        try:
            parse_geotiff(bytes(b))
        except (ValueError, NotImplementedError):
            pass


def test_binary_parsers_corrupt_input_typed_errors():
    """Fuzz: shp/dbf/wav parsers raise only ValueError (or
    NotImplementedError) on truncated/flipped/garbage payloads."""
    import random
    import struct

    from sensordatapipelines_spark.operators.multimodal import decode_wav
    from sensordatapipelines_spark.sources.shapefile import parse_dbf, parse_shp

    rng = random.Random(5)
    shp = struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(">i", 64)
    shp += b"\x00" * 72 + struct.pack(">ii", 1, 10)
    shp += struct.pack("<i", 1) + struct.pack("<2d", 1.0, 2.0)
    dbf = bytes([3, 24, 1, 1]) + struct.pack("<IHH", 1, 65, 12) + b"\x00" * 20
    dbf += (b"name\x00\x00\x00\x00\x00\x00\x00C\x00\x00\x00\x00"
            + bytes([11]) + b"\x00" * 15 + b"\x0d" + b" hello      ")
    wav = (b"RIFF" + struct.pack("<I", 52) + b"WAVE" + b"fmt "
           + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
           + b"data" + struct.pack("<I", 16) + bytes(16))
    for fn, seed in ((parse_shp, shp), (parse_dbf, dbf), (decode_wav, wav)):
        for trial in range(150):
            b = bytearray(seed)
            mode = trial % 3
            if mode == 0:
                b = b[: rng.randrange(1, len(b))]
            elif mode == 1:
                for _ in range(rng.randrange(1, 5)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
            else:
                b = bytes(rng.randrange(256) for _ in range(rng.randrange(4, 100)))
            try:
                fn(bytes(b))
            except (ValueError, NotImplementedError):
                pass


def test_geotiff_float_predictor3_roundtrip(tmp_path):
    """Floating-point predictor (tag 317 = 3, TIFF TechNote 3 — the GDAL
    ``PREDICTOR=3`` float DEM profile): byte-plane deinterleave
    (MSB-plane first, the libtiff ``tif_predict.c`` convention) +
    byte-wise horizontal differencing. The JDK TIFF codec rejects
    predictor 3 outright, so the layout is pinned two ways: value-exact
    round-trips across dtypes/codecs, and a hand-computed on-disk byte
    check — [1.0f, -2.5f] is BE ``3F800000 C0200000``, planes
    ``3F C0 80 20 00 00 00 00``, differenced ``3F 81 C0 A0 E0 00 00 00``."""
    import struct

    import numpy as np
    import pytest

    from sensordatapipelines_spark.sources.geotiff import (
        _read_ifd,
        parse_geotiff,
        write_geotiff,
    )

    tiny = str(tmp_path / "tiny_fp3.tif")
    write_geotiff(
        tiny, np.array([[1.0, -2.5]], dtype="<f4"),
        dtype="f4", compression="none", predictor=3,
    )
    payload = open(tiny, "rb").read()
    (off,) = struct.unpack_from("<I", payload, 4)
    tags = _read_ifd(payload, "<", off)
    assert tags[317] == [3]
    soff, scnt = tags[273][0], tags[279][0]
    assert payload[soff : soff + scnt] == bytes.fromhex("3f81c0a0e0000000")
    arr, _meta = parse_geotiff(payload)
    assert np.array_equal(arr, np.array([[[1.0, -2.5]]]))

    rng = np.random.default_rng(3)
    for dtype in ("f4", "f8"):
        for comp in ("none", "deflate", "lzw", "packbits"):
            cube = rng.normal(size=(2, 37, 53)).astype("<" + dtype)
            path = str(tmp_path / f"fp3_{dtype}_{comp}.tif")
            write_geotiff(
                path, cube, pixel_scale=(0.5, 0.25), upper_left=(10.0, 20.0),
                nodata=-9999.0, dtype=dtype, compression=comp, predictor=3,
            )
            arr, meta = parse_geotiff(open(path, "rb").read())
            assert arr.shape == (2, 37, 53)
            assert np.array_equal(arr, cube.astype(np.float64)), (dtype, comp)
            assert (meta["sx"], meta["sy"]) == (0.5, 0.25)

    # predictor/dtype compatibility is validated both directions
    with pytest.raises(ValueError, match="float"):
        write_geotiff(
            str(tmp_path / "bad.tif"), np.zeros((2, 2)),
            dtype="i2", compression="deflate", predictor=3,
        )
    with pytest.raises(ValueError, match="integer"):
        write_geotiff(
            str(tmp_path / "bad2.tif"), np.zeros((2, 2)),
            dtype="f4", compression="deflate", predictor=2,
        )


def test_geopackage_distributed_matches_driver_side(spark, tmp_path):
    """The mapInPandas decode and the driver decode give identical rows,
    and both match what SQLite itself reads, on a fixture that exercises
    the file format's hard parts: multi-page b-trees (interior pages),
    payload overflow chains (big geometry blobs), INTEGER PRIMARY KEY
    rowid aliasing (stored as NULL), REAL-affinity integral values
    (stored as INTEGER on disk), NULL attributes and NULL geometry."""
    from sensordatapipelines_spark.operators.spatial import encode_wkb_polygon
    from sensordatapipelines_spark.sources.geopackage import (
        open_geopackage,
        wrap_gpb,
    )

    p = tmp_path / "big.gpkg"
    con = _new_gpkg(p, {"feat": (
        "CREATE TABLE feat (fid INTEGER PRIMARY KEY AUTOINCREMENT, "
        "name TEXT, score REAL, cnt INTEGER, geom BLOB)"
    )})
    rings = {}
    for i in range(800):  # forces interior b-tree pages
        # every 7th: a many-vertex ring -> record overflows the page
        nv = 700 if i % 7 == 0 else 3
        ring = [
            (float(i % 50) + 0.001 * k, float(i % 40) + 0.002 * k)
            for k in range(nv)
        ]
        blob = wrap_gpb(encode_wkb_polygon([ring])) if i % 11 else None
        if blob is not None:
            rings[i] = ring
        con.execute(
            "INSERT INTO feat (name, score, cnt, geom) VALUES (?,?,?,?)",
            (
                f"n{i}" * (i % 5 + 1),
                float(i) if i % 3 else None,  # integral REALs stored as INT
                i if i % 5 else None,
                blob,
            ),
        )
    con.commit()
    cur = con.execute("SELECT fid, name, score, cnt FROM feat ORDER BY fid")
    names = [d[0] for d in cur.description]
    want = {
        i: {n: (None if v is None else str(v)) for n, v in zip(names, r)}
        for i, r in enumerate(cur.fetchall())
        if i in rings
    }
    con.close()

    def rows(cap):
        with _decode_cap(cap):
            df = open_geopackage(spark, str(tmp_path))
            return sorted(
                (r["fid"], r["part"], sorted(r["properties"].items()), r["xs"], r["ys"])
                for r in df.collect()
            )

    drv, dst = rows(None), rows(-1)
    assert drv == dst and len(drv) == len(want) > 600
    for fid, part, props, xs, ys in drv:
        assert part == 0 and dict(props) == want[fid], fid
        assert list(zip(xs, ys)) == rings[fid], fid


def test_geopackage_point_layer_both_paths(spark, tmp_path):
    """GPKG point layers decode on both sides of the size rule with
    identical (fid, properties, lon, lat) output; bad kinds raise."""
    from sensordatapipelines_spark.sources.geopackage import open_geopackage

    p = tmp_path / "pts.gpkg"
    con = _new_gpkg(p, {"pts": "CREATE TABLE pts (name TEXT, geom BLOB)"})
    coords = [(-122.41, 37.77), (2.3522, 48.8566), (139.69, 35.68)]
    for i, (x, y) in enumerate(coords):
        con.execute("INSERT INTO pts VALUES (?, ?)", (f"city{i}", _point_gpb(x, y)))
    con.execute("INSERT INTO pts VALUES ('nogeom', NULL)")  # dropped
    con.commit()
    con.close()

    def rows(cap):
        with _decode_cap(cap):
            df = open_geopackage(spark, str(tmp_path), geometry_kind="point")
            return sorted(
                (r["fid"], r["properties"]["name"], r["lon"], r["lat"])
                for r in df.collect()
            )

    drv = rows(None)
    assert drv == rows(-1)
    assert drv == [(i, f"city{i}", x, y) for i, (x, y) in enumerate(coords)]

    with pytest.raises(ValueError, match="geometry_kind"):
        open_geopackage(spark, str(p), geometry_kind="line")


def test_jsonl_sink_datasource_roundtrip(spark, tmp_path):
    """Custom Python DataSource WRITER (PySpark 4): per-partition part
    files, two-phase temp+rename commit, overwrite semantics, and a
    value-exact round-trip through spark.read.json."""
    import glob

    from pyspark.sql import functions as F

    from sensordatapipelines_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "sink")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
    ).repartition(4)
    df.write.format("jsonl_sink").option("path", out).mode("append").save()
    parts = sorted(glob.glob(f"{out}/part-*.jsonl"))
    assert len(parts) == 4
    assert not glob.glob(f"{out}/.tmp-*")  # temps renamed away
    back = spark.read.json(out)
    assert back.count() == 100
    got = {(r["id"], r["grp"], r["name"]) for r in back.collect()}
    want = {(i, i % 7, f"name-{i}") for i in range(100)}
    assert got == want

    # overwrite mode replaces prior parts instead of accumulating
    df2 = spark.range(10).select(
        F.col("id"), F.lit(0).alias("grp"), F.lit("x").alias("name")
    ).repartition(2)
    df2.write.format("jsonl_sink").option("path", out).mode("overwrite").save()
    assert spark.read.json(out).count() == 10


def test_jsonl_sink_append_accumulates(spark, tmp_path):
    """Round-6 advice: a second append must CONTINUE part numbering, not
    os.replace() over the first write's files."""
    import glob

    from pyspark.sql import functions as F

    from sensordatapipelines_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    out = str(tmp_path / "sink_app")
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id"), F.lit("x").alias("name")
    ).repartition(2)
    mk(0, 50).write.format("jsonl_sink").option("path", out).mode("append").save()
    mk(50, 80).write.format("jsonl_sink").option("path", out).mode("append").save()
    parts = sorted(glob.glob(f"{out}/part-*.jsonl"))
    assert len(parts) == 4  # 2 + 2, no collisions
    got = {r["id"] for r in spark.read.json(out).collect()}
    assert got == set(range(80))


def test_compact_dir_refuses_unmeasurable_sizes(spark, tmp_path, monkeypatch):
    """Round-6 advice: when no input file size can be read, compact_dir
    must raise instead of silently compacting into ONE file."""
    import pytest as _pytest

    from sensordatapipelines_spark.errors import DataIOError
    from sensordatapipelines_spark.sources.sinks import compact_dir

    d = str(tmp_path / "cd")
    spark.range(100).repartition(5).write.parquet(d)
    import os as _os

    real_getsize = _os.path.getsize

    def boom(p):
        raise OSError("unreadable")

    monkeypatch.setattr("os.path.getsize", boom)
    with _pytest.raises(DataIOError, match="cannot size"):
        compact_dir(spark, d, target_bytes=1 << 20)
    monkeypatch.setattr("os.path.getsize", real_getsize)
    # explicit target_files still works without sizing
    compact_dir(spark, d, target_files=2)
    assert spark.read.parquet(d).count() == 100


def test_jsonl_stream_writer_batch_scoped_idempotent(spark, tmp_path):
    """Custom DataSourceStreamWriter: micro-batches land as
    part-b{batch}-{i}.jsonl with two-phase temp+rename, and a stream
    restart over the same source (same batch ids) replaces rather than
    duplicates batch output."""
    import glob

    from sensordatapipelines_spark.sources.jsonl_sink import register_jsonl_sink

    register_jsonl_sink(spark)
    src = str(tmp_path / "src")
    spark.range(40).repartition(4).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.format("jsonl_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    parts = sorted(glob.glob(f"{out}/part-b*.jsonl"))
    assert parts and all("/part-b" in p for p in parts)
    assert not glob.glob(f"{out}/.tmp-*")
    got = {r["id"] for r in spark.read.json(out).collect()}
    assert got == set(range(40))
    # multiple micro-batches actually happened (batch-scoped names differ)
    batches = {p.split("part-b")[1].split("-")[0] for p in parts}
    assert len(batches) >= 2
