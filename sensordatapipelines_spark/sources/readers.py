"""Scans / sources (reference S1-S4).

Canonical format is Parquet (columnar, predicate/projection pushdown — the
scan the 100 TB path reads); CSV and JSON (incl. nested + directory unions)
cover the reference's ingestion surface. Excel is driver-side pandas, kept
only as a small-data escape hatch, matching the reference's fallback chain
(``/root/reference/src/data_preprocessing.py:444-458``).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sensordatapipelines_spark.errors import DataIOError
from sensordatapipelines_spark.operators.spatial import drop_invalid_points
from sensordatapipelines_spark.operators.utility import flatten_structs


def read_table(spark: SparkSession, path: str, fmt: str | None = None, **options) -> DataFrame:
    """Read one table; format inferred from the extension when not given."""
    if fmt is None:
        suffix = Path(path).suffix.lower().lstrip(".")
        fmt = {"pq": "parquet"}.get(suffix, suffix) or "parquet"
    reader = spark.read
    if fmt == "csv":
        options.setdefault("header", True)
        options.setdefault("inferSchema", True)
    return reader.format(fmt).options(**options).load(path)


def open_data(spark: SparkSession, path: str) -> DataFrame:
    """S2 fallback chain (reference ``open_data``, ``:444-458``):
    parquet → csv → json → excel(driver pandas); ``DataIOError`` when nothing
    decodes. Format dispatch prefers the extension, then brute-forces."""
    suffix = Path(path).suffix.lower()
    order = {
        ".parquet": ["parquet", "csv", "json"],
        ".csv": ["csv", "json", "parquet"],
        ".json": ["json", "csv", "parquet"],
    }.get(suffix, ["parquet", "csv", "json"])
    for fmt in order:
        try:
            df = read_table(spark, path, fmt=fmt)
            df.schema  # force analysis
            if fmt in ("csv", "json") and len(df.columns) == 1 and df.columns[0].startswith("_c"):
                continue  # mis-parsed single-column read
            if fmt == "csv" and any(
                not c.isprintable() or c == "" for c in df.columns
            ):
                continue  # binary garbage "parsed" as a CSV header
            return df
        except Exception:
            continue
    if suffix in (".xls", ".xlsx"):
        try:
            import pandas as pd

            return spark.createDataFrame(pd.read_excel(path))
        except ImportError:
            # no excel engine (openpyxl/xlsxwriter) installed — fall back to
            # the stdlib minimal reader below
            pass
        except Exception as exc:
            raise DataIOError(f"could not read excel file {path}") from exc
        try:
            return spark.createDataFrame(_read_xlsx_minimal(path))
        except Exception as exc:
            raise DataIOError(f"could not read excel file {path}") from exc
    raise DataIOError(f"could not load {path} as parquet/csv/json")


def _read_xlsx_minimal(path: str):
    """Dependency-free xlsx reader (driver-side, small-data escape hatch —
    mirrors the reference's pandas Excel fallback when no Excel engine is
    installed). XLSX is a zip of XML: parse ``xl/sharedStrings.xml`` +
    the first worksheet with stdlib ``zipfile`` + ``ElementTree``; first
    row is the header, numbers come back as floats (ints when integral),
    shared/inline strings as str. Full-fidelity Excel (formulas, dates,
    multiple sheets) still goes through ``pandas.read_excel`` when an
    engine is present — this covers plain tabular exports only."""
    import zipfile
    import xml.etree.ElementTree as ET

    import pandas as pd

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{ns['m']}}}t")))
        sheet_name = next(
            n for n in z.namelist() if n.startswith("xl/worksheets/sheet")
        )
        root = ET.fromstring(z.read(sheet_name))
        rows: list[list] = []
        for row in root.iter(f"{{{ns['m']}}}row"):
            vals: list = []
            for c in row.findall("m:c", ns):
                t = c.get("t")
                v = c.find("m:v", ns)
                ins = c.find("m:is", ns)
                if t == "s" and v is not None:
                    vals.append(shared[int(v.text)])
                elif t == "inlineStr" and ins is not None:
                    vals.append(
                        "".join(x.text or "" for x in ins.iter(f"{{{ns['m']}}}t"))
                    )
                elif v is None or v.text is None:
                    vals.append(None)
                else:
                    f = float(v.text)
                    vals.append(int(f) if f.is_integer() else f)
            rows.append(vals)
    if not rows:
        raise DataIOError(f"empty xlsx {path}")
    header = [str(h) for h in rows[0]]
    body = [r + [None] * (len(header) - len(r)) for r in rows[1:]]
    return pd.DataFrame(body, columns=header)


def _read_json_auto(spark: SparkSession, path: str) -> DataFrame:
    """JSON read handling both NDJSON (line-per-record) and multi-line
    array/object documents: try NDJSON first (the scalable layout — splittable
    per line), fall back to multiLine when records come back corrupt."""
    df = spark.read.json(path)
    if "_corrupt_record" in df.columns or len(df.columns) == 0:
        df = spark.read.option("multiLine", True).json(path)
    return df


def open_sensor_records(
    spark: SparkSession, path: str, flatten: bool = True, sep: str = "."
) -> DataFrame:
    """S3 (reference ``open_sensor_records``, ``:602-613``): one CSV or JSON
    file of sensor records. JSON nests are flattened to dotted column paths
    (≙ ``pd.json_normalize``, ``:612``); CSV drops ``unnamed*`` columns."""
    suffix = Path(path).suffix.lower()
    if suffix == ".csv":
        df = read_table(spark, path, fmt="csv")
        keep = [c for c in df.columns if not c.lower().startswith("unnamed")]
        return df.select(*keep)
    df = _read_json_auto(spark, path)
    return flatten_structs(df, sep=sep) if flatten else df


def open_dir_of_data(
    spark: SparkSession,
    directory: str,
    pattern: str = "*.json",
    sensor_ids: dict[str, int] | None = None,
    id_col: str = "sensor_id",
) -> DataFrame:
    """S4 (reference ``open_dir_of_data``, ``:429-442``): union every matching
    file in a directory (one distributed read, not a loop of appends).

    ``sensor_ids`` maps file *stem* → sensor id; the tag comes from
    ``input_file_name()`` + a broadcast mapping join — the distributed
    replacement for the reference's positional ``sensor_index_list`` (whose
    second branch is buggy: tags with ``len(df)`` not ``len(df2)``, ``:440``;
    the engine tags every row with its own file's id)."""
    df = _read_json_auto(spark, str(Path(directory) / pattern))
    df = df.withColumn(
        "__stem",
        F.regexp_extract(F.input_file_name(), r"([^/\\]+)\.[A-Za-z0-9]+$", 1),
    )
    if sensor_ids is not None:
        mapping = spark.createDataFrame(
            [(k, int(v)) for k, v in sensor_ids.items()], ["__stem", id_col]
        )
        df = df.join(F.broadcast(mapping), on="__stem", how="left")
    return df.drop("__stem")


def open_spatial_data(
    spark: SparkSession,
    path: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    validate: bool = True,
    crs: int | str | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """S1 (reference ``open_spatial_data``, ``:462-492``) for the point-model:
    read a spatial table and drop rows with invalid coordinates (reference
    drops empty/invalid geometries with warnings, ``:478-485``). Raster
    datasets are cell tables (SURVEY.md §1.2) and load through the same path.

    ``crs`` tags the frame with an engine-tracked EPSG code (``set_crs``) so
    downstream spatial operators verify/reproject instead of trusting a
    per-call kwarg. ``observation`` (a ``pyspark.sql.Observation``) surfaces
    the dropped-invalid-row count the reference emits as warnings."""
    df = open_data(spark, path)
    if validate and lon_col in df.columns and lat_col in df.columns:
        df = drop_invalid_points(df, lon_col, lat_col, observation=observation)
    if crs is not None:
        from sensordatapipelines_spark.operators.spatial import set_crs

        df = set_crs(df, crs, lon_col=lon_col, lat_col=lat_col)
    return df


def union_evolving(spark: SparkSession, paths: list[str], fmt: str = "parquet") -> DataFrame:
    """Union datasets whose schemas have DRIFTED (columns added/removed over
    time — the normal state of a long-lived ingest directory): read each
    path, align by column NAME, and fill columns absent from a side with
    NULL (``unionByName(allowMissingColumns=True)``). The schema-evolution
    counterpart of ``open_dir_of_data``'s same-schema union.

    Order of paths fixes the output column order (first occurrence wins),
    so re-runs are deterministic."""
    if not paths:
        raise ValueError("union_evolving needs at least one path")
    dfs = [read_table(spark, p, fmt=fmt) for p in paths]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def open_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Raw media ingestion: read a directory of opaque binary payloads
    (images/audio/video blobs) through Spark's built-in ``binaryFile``
    source → ``(path, modificationTime, length, content)``. This is the
    ingest edge of the multimodal pipeline (SURVEY §2.7): payloads land
    as one ``binary`` column plus file metadata, partition-parallel over
    files, and flow straight into ``operators.multimodal``'s Arrow
    feature/decode kernels.

    ``glob`` maps to ``pathGlobFilter`` (e.g. ``"*.png"``) — file pruning
    happens at listing time, before any bytes are read. At 100 TB the
    source parallelizes by file; pack small objects into larger archives
    upstream (small-file problem) — this reader is for payloads, not
    millions of tiny sidecars."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def open_text_logs(
    spark: SparkSession,
    path: str,
    pattern: str,
    fields: "Sequence[tuple[str, str]]",
) -> DataFrame:
    """Log-file ingestion: read raw lines through the built-in ``text``
    source and parse them with ONE regex — ``fields`` is an ordered list
    of ``(column_name, cast_type)``, one per capture group. Unparseable
    lines survive as NULL-columned rows (filter on a required field to
    drop them) — the standard semi-structured ETL edge.

    Everything is JVM-side (``regexp_extract`` per group over the same
    pattern — Catalyst dedupes the regex compile); the text source splits
    by line and parallelizes by file block, so at 100 TB this scales with
    scan bandwidth like any other columnar read, just with the parse in
    the scan stage instead of the footer."""
    df = spark.read.text(path)
    # try_cast, not cast: an unmatched group extracts '' and ANSI mode
    # would fail the whole job on one bad log line — NULL is the contract.
    cols = [
        F.regexp_extract(F.col("value"), pattern, i + 1).try_cast(t).alias(name)
        for i, (name, t) in enumerate(fields)
    ]
    return df.select(*cols)


_GEOJSON_FC_SCHEMA = (
    "type string, features array<struct<"
    "type string, "
    "geometry struct<type string, coordinates string>, "
    "properties map<string,string>>>"
)


def open_geojson(
    spark: SparkSession,
    path: str,
    keep_holes: bool = False,
    validate: bool = True,
) -> DataFrame:
    """Native GeoJSON FeatureCollection → ring-format vector layer — the
    reference's real vector-file ingestion path (``gpd.read_file``,
    ``/root/reference/src/data_preprocessing.py:471-475``) with zero
    geometry-library dependencies: GeoJSON is plain JSON (RFC 7946), so
    the built-in JSON source does the scan and Catalyst does the rest.

    The depth trick: Polygon coordinates are 3-deep arrays,
    MultiPolygon 4-deep — one inferred schema can't hold both, and a
    mismatched explicit schema would null sibling fields. So
    ``geometry.coordinates`` reads as a STRING column (the JSON source
    returns the raw token text for non-string schemas), and a per-row
    ``from_json`` with the depth chosen by ``geometry.type`` parses it —
    all JVM-side, no Python. Output matches ``parse_wkb_polygons``: one
    row per polygon PART (``posexplode``) carrying ``feature_idx``,
    ``geom_type``, ``properties`` (raw-text map — numeric props arrive as
    their JSON literals; callers cast), ``part``, outer-ring ``xs``/``ys``
    and, with ``keep_holes``, the full ``rings`` struct array for the
    even-odd cast. Explicit closing vertices are dropped (ray casts close
    implicitly); doubles round-trip JSON text bit-exactly, so ingested
    vertices are oracle-exact.

    ``validate`` applies the S1 validity filter (reference drops invalid
    geometries with warnings, ``:478-485``): non-polygonal / malformed
    features and rings with fewer than 3 vertices are dropped. At scale
    the JSON source parallelizes by file, the normal shape for vector
    layers (many files, each modest) — and the layer is the broadcast dim
    side of every downstream zonal join anyway."""
    raw = spark.read.option("multiLine", "true").schema(_GEOJSON_FC_SCHEMA).json(path)
    feats = raw.select(F.posexplode_outer("features").alias("feature_idx", "__f"))
    gtype = F.col("__f.geometry.type")
    poly = F.from_json(
        F.col("__f.geometry.coordinates"), "array<array<array<double>>>"
    )
    mpoly = F.from_json(
        F.col("__f.geometry.coordinates"), "array<array<array<array<double>>>>"
    )
    parts = (
        F.when(gtype == "Polygon", F.array(poly))
        .when(gtype == "MultiPolygon", mpoly)
        .otherwise(F.lit(None).cast("array<array<array<array<double>>>>"))
    )

    def ring_struct(ring):
        n = F.size(ring)
        closed = (
            (n > 1)
            & (F.element_at(ring, 1)[0] == F.element_at(ring, -1)[0])
            & (F.element_at(ring, 1)[1] == F.element_at(ring, -1)[1])
        )
        pts = F.when(closed, F.slice(ring, 1, n - 1)).otherwise(ring)
        return F.struct(
            F.transform(pts, lambda p: p[0]).alias("xs"),
            F.transform(pts, lambda p: p[1]).alias("ys"),
        )

    out = (
        feats.select(
            "feature_idx",
            gtype.alias("geom_type"),
            F.col("__f.properties").alias("properties"),
            F.transform(parts, lambda part: F.transform(part, ring_struct)).alias(
                "__parts"
            ),
        )
        .select("*", F.posexplode_outer("__parts").alias("part", "__part_rings"))
        .withColumn("xs", F.col("__part_rings")[0]["xs"])
        .withColumn("ys", F.col("__part_rings")[0]["ys"])
    )
    if keep_holes:
        out = out.withColumn("rings", F.col("__part_rings"))
    out = out.drop("__parts", "__part_rings")
    if validate:
        out = out.filter(F.size("xs") >= 3)
    return out


def open_ascii_grid(
    spark: SparkSession,
    path: str,
    band: int = 1,
    origin: str = "corner",
) -> DataFrame:
    """ESRI ASCII-grid raster file(s) → the exploded cell table
    ``(band, px, py, x, y, value, nodata, grid_file)`` that ``zonal_stats``
    consumes — the raster half of the reference's file ingestion
    (``rasterio.open`` at ``/root/reference/src/data_preprocessing.py:471``,
    consumed ``:515-538``) with zero raster-library dependencies: the .asc
    format is plain text (``ncols/nrows/xllcorner/yllcorner/cellsize/
    NODATA_value`` header + row-major values, top row first).

    Entirely JVM-side: ``wholetext`` read (one row per file), header
    fields regex-extracted per file, data rows ``posexplode``d to
    ``(row, line)`` then ``(col, token)``. Grid row 0 is the TOP row, so
    ``py = nrows − 1 − row`` (y grows upward like the cell-table model).
    ``origin='corner'`` puts cell (0,0) at ``(xllcorner, yllcorner)``
    exactly (``x = xll + px·cellsize``); ``origin='center'`` adds the
    half-cell offset — the rasterio ``xy()`` center convention.

    Scale shape: one task per FILE (wholetext) — the normal layout for
    big rasters is tiles-as-files, which this parallelizes naturally; the
    per-cell explode then redistributes. A single monolithic .asc is
    bounded by the 2 GB row limit — tile it first (any GIS tool exports
    tiled). ``nodata`` surfaces as a column; pass it to ``zonal_stats``
    (which filters nodata cells) rather than pre-filtering here, so the
    cell table stays a faithful decode of the file."""
    if origin not in ("corner", "center"):
        raise ValueError(f"origin must be 'corner' or 'center', got {origin!r}")
    # NOTE: wholetext must be the reader kwarg — .option("wholetext", ...)
    # is silently ignored by the text source and yields per-line rows.
    txt = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("grid_file"), "value"
    )

    def hdr(key: str):
        return F.nullif(
            F.regexp_extract(
                F.col("value"), rf"(?i)\b{key}\s+(-?[0-9.eE+]+)", 1
            ),
            F.lit(""),
        ).cast("double")

    data_lines = F.filter(
        F.split("value", r"\r?\n"),
        lambda l: (F.trim(l) != "") & ~F.trim(l).rlike("^[A-Za-z]"),
    )
    rows = txt.select(
        "grid_file",
        hdr("nrows").cast("int").alias("__nrows"),
        hdr("xllcorner").alias("__xll"),
        hdr("yllcorner").alias("__yll"),
        hdr("cellsize").alias("__cs"),
        hdr("NODATA_value").alias("nodata"),
        F.posexplode(data_lines).alias("__row", "__line"),
    ).select("*", F.posexplode(F.split(F.trim("__line"), "[ \\t\\n\\x0b\\f\\r]+")).alias("px", "__tok"))
    py = F.col("__nrows") - 1 - F.col("__row")
    x = F.col("__xll") + F.col("px").cast("double") * F.col("__cs")
    y = F.col("__yll") + py.cast("double") * F.col("__cs")
    if origin == "center":
        x = x + F.col("__cs") / F.lit(2.0)
        y = y + F.col("__cs") / F.lit(2.0)
    return rows.select(
        F.lit(int(band)).alias("band"),
        F.col("px"),
        py.alias("py"),
        x.alias("x"),
        y.alias("y"),
        F.col("__tok").cast("double").alias("value"),
        "nodata",
        "grid_file",
    )
