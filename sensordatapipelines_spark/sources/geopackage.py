"""GeoPackage (.gpkg) ingestion via the python stdlib — no GDAL.

A GeoPackage is a SQLite database (OGC 12-128r19) whose feature tables
store geometry as a GeoPackageBinary (GPB) blob: an 8-byte header
(``GP`` magic, version, flags, srs_id) + optional envelope + standard
WKB. The .gpkg payloads arrive through the built-in ``binaryFile``
source, a pure-Python SQLite b-tree parse (``sources/sqlite_reader``)
reads the feature table, and WKB decode already exists
(``parse_wkb_polygons``), so the reference's third vector format
(``gpd.read_file`` accepts .gpkg, the reference's
``src/data_preprocessing.py:471-475``) closes with ~100 lines of glue.

Where the decode runs follows the size rule the Shapefile reader uses
(``runtime.place_decode``): up to 8 MiB of .gpkg bytes the files decode
once on the driver into a ``LocalRelation``; above it, one .gpkg decodes
in one ``mapInPandas`` task (SQLite is a single-file format), so a
directory of .gpkg tiles parallelizes file-per-task.

WAL rule: the parser reads the main database file only. A write-ahead
log (``<name>.gpkg-wal``) that is not empty holds commits the main file
does not have yet, so ``open_geopackage`` raises ``ValueError`` naming it
rather than return a stale table. A cleanly closed WAL-mode database
leaves no log (SQLite checkpoints it on close) and reads in full.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensordatapipelines_spark.runtime import listed_bytes, place_decode
from sensordatapipelines_spark.sources.sqlite_reader import read_table


def strip_gpb_header(blob: bytes) -> bytes:
    """GeoPackageBinary → the embedded standard WKB. Envelope size is
    keyed by flag bits 1-3 (0 none, 1 XY, 2 XYZ, 3 XYM, 4 XYZM)."""
    if len(blob) < 8 or blob[:2] != b"GP":
        raise ValueError("not a GeoPackageBinary blob")
    flags = blob[3]
    envelope_ind = (flags >> 1) & 0x07
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(envelope_ind)
    if env_len is None:
        raise ValueError(f"invalid GPB envelope indicator {envelope_ind}")
    return blob[8 + env_len :]


def wrap_gpb(wkb: bytes, srs_id: int = 4326) -> bytes:
    """Standard WKB → a minimal GPB blob (no envelope, little-endian) —
    the staging/export twin of ``strip_gpb_header``."""
    return b"GP" + bytes([0, 0x01]) + struct.pack("<i", srs_id) + wkb


def open_geopackage(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    keep_holes: bool = False,
    geometry_kind: str = "polygon",
) -> DataFrame:
    """Read one feature table of each .gpkg under ``path`` (one file or a
    directory of them) into the engine's vector model — the same output
    contract as ``open_geojson`` / ``open_shapefile``: ``polygon`` layers
    give one row per polygon part with ``fid``, ``properties`` (raw-text
    map), ``part``, outer ``xs``/``ys`` and, with ``keep_holes``, the full
    ``rings`` array; ``point`` layers give ``(fid, properties, lon, lat)``.
    ``fid`` enumerates each file's rows in rowid order. Geometry flows
    GPB → WKB → ``parse_wkb_polygons``/``parse_wkb_points``, so
    MultiPolygons and interior rings come for free; invalid geometries
    drop, per the S1 validate-on-open contract.

    ``table`` defaults to the single feature table registered in each
    file's ``gpkg_contents`` (ambiguity raises, naming the candidates).
    A non-empty ``.gpkg-wal`` beside an input raises ``ValueError`` here.
    Where the decode runs follows ``runtime.place_decode``: up to 8 MiB of
    .gpkg bytes the files are read and decoded when this is called (a
    corrupt file raises ``ValueError`` here), larger inputs decode lazily
    one file per ``mapInPandas`` task."""
    if geometry_kind not in ("polygon", "point"):
        raise ValueError(
            f"geometry_kind must be 'polygon' or 'point', got {geometry_kind!r}"
        )
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.gpkg").load(path)
    )
    _check_no_wal(spark, files)
    payloads = files.select(F.col("path").alias("__path"), F.col("content").alias("__db"))
    schema = "fid long, properties map<string,string>, geometry binary"

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for file, payload in zip(pdf["__path"], pdf["__db"]):
                try:
                    rows.extend(_feature_rows(bytes(payload), table))
                except (ValueError, struct.error, IndexError, KeyError) as exc:
                    raise ValueError(f"GeoPackage {file}: {exc!r}") from exc
            yield pd.DataFrame(rows, columns=["fid", "properties", "geometry"])

    df = place_decode(spark, [files], payloads, decode, schema)
    from sensordatapipelines_spark.operators.spatial import (
        parse_wkb_points,
        parse_wkb_polygons,
    )

    if geometry_kind == "point":
        out = parse_wkb_points(df)
        return out.filter(out["lon"].isNotNull()).drop("geometry")
    out = parse_wkb_polygons(df, keep_holes=keep_holes)
    return out.filter(out["xs"].isNotNull())


def _check_no_wal(spark: SparkSession, files: DataFrame) -> None:
    """Raise ``ValueError`` naming each non-empty ``-wal`` log of a listed
    .gpkg. The logs are listed in the inputs' directories and sized from
    plan statistics, as the Shapefile reader sizes its .dbf files: no job
    runs."""
    inputs = set(files.inputFiles())
    if not inputs:
        return
    listing = spark.read.format("binaryFile").option("pathGlobFilter", "*.gpkg-wal")
    wal = listing.load(sorted({f.rsplit("/", 1)[0] for f in inputs}))
    if listed_bytes(wal) == 0:
        return
    stale = [
        w
        for w in sorted(wal.inputFiles())
        if w[: -len("-wal")] in inputs and listed_bytes(listing.load(w)) > 0
    ]
    if stale:
        raise ValueError(
            f"GeoPackage write-ahead log not checkpointed: {stale}; close "
            "the writer (or run PRAGMA wal_checkpoint) before reading"
        )


def _feature_rows(payload: bytes, table: str | None) -> list[dict]:
    """One .gpkg payload → ``{fid, properties, geometry}`` rows of its
    feature table, ``geometry`` the WKB inside the GPB blob."""
    gcols, git = read_table(payload, "gpkg_geometry_columns")
    geom_by_table = {}
    for _rid, vals in git:
        d = dict(zip(gcols, vals))
        geom_by_table[d["table_name"]] = d["column_name"]
    if table is None:
        ccols, cit = read_table(payload, "gpkg_contents")
        feats = [
            d["table_name"]
            for d in (dict(zip(ccols, v)) for _r, v in cit)
            if d.get("data_type") == "features"
        ]
        if len(feats) != 1:
            raise ValueError(
                f"gpkg has {len(feats)} feature tables {feats}; pass table="
            )
        table = feats[0]
    cols, it = read_table(payload, table)
    gi = cols.index(geom_by_table[table])
    rows = []
    for fid, (_rowid, vals) in enumerate(it):
        props = {
            n: (None if v is None else str(v))
            for i, (n, v) in enumerate(zip(cols, vals))
            if i != gi
        }
        blob = vals[gi]
        wkb = strip_gpb_header(bytes(blob)) if blob is not None else None
        rows.append(
            {
                "fid": fid,
                "properties": props,
                "geometry": bytearray(wkb) if wkb else None,
            }
        )
    return rows
