"""ESRI Shapefile ingestion/export without a geometry library.

The reference's vector-file surface is ``gpd.read_file`` (which accepts
Shapefiles) and ``gdf.to_file(driver='ESRI Shapefile')`` — the DEFAULT
export driver (``/root/reference/src/data_preprocessing.py:126-128,
471-475``). The .shp/.dbf formats are fixed-layout binary (ESRI Shapefile
Technical Description, 1998; dBASE III), so a pure-python struct parse
covers the polygon/point layers a pipeline actually exchanges:

- ``parse_shp`` — main-file records: Point (type 1) and Polygon (type 5,
  multi-part with holes). Big-endian file header, little-endian shape
  payloads, ring layout identical to WKB minus the closing-vertex rule.
- ``parse_dbf`` — dBASE III attribute table: fixed-width records, field
  descriptors until the 0x0D terminator; values surface as TEXT (the
  same raw-string convention as ``open_geojson``'s properties map —
  callers cast).
- ``open_shapefile`` — Spark entry: the .shp and .dbf arrive through the
  built-in ``binaryFile`` source (one row per file), pair by path stem,
  and one ``decode`` kernel emits the engine's standard ring format:
  one row per polygon PART with outer ``xs``/``ys`` plus the full
  ``rings`` array (holes included) and a ``properties`` map. Point layers
  emit single-vertex rows with ``lon``/``lat`` semantics via ``xs[0]``.
  A small layer is decoded on the driver, a larger one in an Arrow
  ``mapInPandas`` task per file (see the scale note).
- ``write_shp_polygons`` / ``write_dbf`` — the export half (S5 sink
  parity): driver-side writers for a collected (small) layer, the same
  contract as the GeoJSON sink's ``max_rows``-guarded collect.

Scale note: where the decode runs follows the input's file bytes (all
.shp + .dbf under ``path``), under the size rule every Python file decode
shares (``runtime.place_decode``, SCALE.md): up to 8 MiB the payloads are
collected in one job, decoded on the driver, and returned as a
``LocalRelation``. A lazy ``mapInPandas`` plan would re-run the decode as
a Python task on every plan reference (operators join their stats back
onto the input and take its bounds), and that task's fixed cost (~0.25 s
on 4 cores) dwarfs decoding a dim layer (~2 ms for 500 points). Above the
cap, ONE shapefile decodes in one task (the format is not splittable),
file-parallel across layers; a layer too big for one task should be
ingested once and persisted as WKB parquet (``parse_wkb_polygons`` path)
— the same advice any engine gives for shapefiles at scale.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sensordatapipelines_spark.runtime import place_decode

SHP_POINT = 1
SHP_POLYLINE = 3
SHP_POLYGON = 5


def parse_shp(payload: bytes) -> list[tuple[int, str, list[tuple[list, list]]]]:
    """Typed-error entry: corrupt/truncated payloads raise ValueError, never
    a raw struct.error/IndexError out of an executor task."""
    try:
        return _parse_shp(payload)
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError(f"corrupt shapefile structure: {exc!r}") from exc


def _parse_shp(payload: bytes) -> list[tuple[int, str, list[tuple[list, list]]]]:
    """Parse a .shp main file → ``[(record_no, kind, parts)]`` where
    ``parts`` is ``[(xs, ys), ...]`` — one entry per ring for polygons
    (outer ring first per ESRI winding; explicit closing vertex dropped),
    a single one-vertex entry for points. Null shapes (type 0) and
    unsupported types yield ``(record_no, 'unsupported', [])``."""
    if len(payload) < 100:
        raise ValueError("not a shapefile: truncated header")
    (magic,) = struct.unpack_from(">i", payload, 0)
    if magic != 9994:
        raise ValueError("not a shapefile: bad magic")
    (file_len_words,) = struct.unpack_from(">i", payload, 24)
    end = min(file_len_words * 2, len(payload))
    out = []
    pos = 100
    while pos + 8 <= end:
        rec_no, content_words = struct.unpack_from(">ii", payload, pos)
        pos += 8
        rec_end = pos + content_words * 2
        (stype,) = struct.unpack_from("<i", payload, pos)
        if stype == SHP_POINT:
            x, y = struct.unpack_from("<2d", payload, pos + 4)
            out.append((rec_no, "point", [([x], [y])]))
        elif stype in (SHP_POLYGON, SHP_POLYLINE):
            num_parts, num_points = struct.unpack_from("<2i", payload, pos + 36)
            parts_off = pos + 44
            part_idx = list(
                struct.unpack_from(f"<{num_parts}i", payload, parts_off)
            )
            pts_off = parts_off + 4 * num_parts
            coords = struct.unpack_from(f"<{2 * num_points}d", payload, pts_off)
            rings = []
            bounds = part_idx + [num_points]
            closed_ring = stype == SHP_POLYGON
            for i in range(num_parts):
                xs = list(coords[2 * bounds[i] : 2 * bounds[i + 1] : 2])
                ys = list(coords[2 * bounds[i] + 1 : 2 * bounds[i + 1] : 2])
                # polygons drop the explicit closing vertex; polylines are
                # open paths whose equal endpoints are real geometry
                if (
                    closed_ring
                    and len(xs) > 1
                    and xs[0] == xs[-1]
                    and ys[0] == ys[-1]
                ):
                    xs, ys = xs[:-1], ys[:-1]
                rings.append((xs, ys))
            out.append(
                (rec_no, "polygon" if closed_ring else "polyline", rings)
            )
        else:
            out.append((rec_no, "unsupported", []))
        pos = rec_end
    return out


def parse_dbf(payload: bytes) -> tuple[list[str], list[list[str]]]:
    """Typed-error entry: corrupt/truncated payloads raise ValueError, never
    a raw struct.error/IndexError out of an executor task."""
    try:
        return _parse_dbf(payload)
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError) as exc:
        raise ValueError(f"corrupt dbf structure: {exc!r}") from exc


def _parse_dbf(payload: bytes) -> tuple[list[str], list[list[str] | None]]:
    """Parse a dBASE III .dbf attribute table → ``(field_names, rows)``
    with every value as stripped TEXT (raw-string convention; callers
    cast). Deleted records (flag ``*``) yield a ``None`` placeholder —
    .dbf rows pair POSITIONALLY with .shp records, so dropping them
    would silently shift every later feature's attributes onto the
    wrong geometry."""
    if len(payload) < 32:
        raise ValueError("not a dbf: truncated header")
    n_records, header_size, record_size = struct.unpack_from(
        "<IHH", payload, 4
    )
    fields = []
    pos = 32
    while pos < header_size - 1 and payload[pos] != 0x0D:
        raw_name = payload[pos : pos + 11].split(b"\x00")[0]
        length = payload[pos + 16]
        fields.append((raw_name.decode("ascii", "replace"), length))
        pos += 32
    rows = []
    pos = header_size
    for _ in range(n_records):
        if pos + record_size > len(payload):
            break
        if payload[pos : pos + 1] != b"*":  # not deleted
            vals, off = [], pos + 1
            for _name, length in fields:
                vals.append(
                    payload[off : off + length].decode("ascii", "replace").strip()
                )
                off += length
            rows.append(vals)
        else:  # deleted: keep the slot so positional pairing holds
            rows.append(None)
        pos += record_size
    return [f[0] for f in fields], rows


def open_shapefile(
    spark: SparkSession,
    path: str,
    validate: bool = True,
) -> DataFrame:
    """Read Shapefile layer(s) into the engine's ring-format vector model —
    the same output contract as ``open_geojson``/``parse_wkb_polygons``:
    one row per polygon part carrying ``(layer, fid, geom_type,
    properties, part, xs, ys, rings)``; point records carry their
    coordinate as a 1-vertex ring (``xs[0]``/``ys[0]``).

    ``path`` is a directory (or glob base) holding ``*.shp`` with optional
    same-stem ``*.dbf`` attribute tables; both arrive via the built-in
    ``binaryFile`` source and pair by stem. Attributes surface as a
    raw-text map (the ``open_geojson`` properties convention). ``validate``
    drops unsupported/degenerate records (< 3 vertices for polygons) — the
    S1 validity filter.

    Where the decode runs follows ``runtime.place_decode``: when the .shp
    + .dbf files under ``path`` total at most 8 MiB, they are read and
    decoded on the driver when this is called (a corrupt file raises
    ``ValueError`` here); larger inputs keep the lazy file-per-task
    ``mapInPandas`` decode, which raises at the first action."""
    shp_files = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.shp").load(path)
    )
    dbf_files = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.dbf").load(path)
    )
    shp = shp_files.select(
        F.regexp_replace(F.col("path"), r"\.shp$", "").alias("__stem"),
        F.col("content").alias("__shp"),
    )
    dbf = dbf_files.select(
        F.regexp_replace(F.col("path"), r"\.dbf$", "").alias("__stem"),
        F.col("content").alias("__dbf"),
    )
    schema = (
        "layer string, fid int, geom_type string, "
        "properties map<string,string>, part int, "
        "xs array<double>, ys array<double>, "
        "rings array<struct<xs: array<double>, ys: array<double>>>"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                layer = r["__stem"].rsplit("/", 1)[-1]
                shapes = parse_shp(bytes(r["__shp"]))
                names: list[str] = []
                attrs: list[list[str]] = []
                if r["__dbf"] is not None:
                    names, attrs = parse_dbf(bytes(r["__dbf"]))
                for idx, (rec_no, kind, rings) in enumerate(shapes):
                    props = (
                        dict(zip(names, attrs[idx]))
                        if idx < len(attrs) and attrs[idx] is not None
                        else {}
                    )
                    if kind == "point" and rings:
                        rows.append(
                            {
                                "layer": layer,
                                "fid": rec_no,
                                "geom_type": kind,
                                "properties": props,
                                "part": 0,
                                "xs": rings[0][0],
                                "ys": rings[0][1],
                                "rings": [
                                    {"xs": rings[0][0], "ys": rings[0][1]}
                                ],
                            }
                        )
                    elif kind == "polyline":
                        # open paths: one row per part, no hole grouping
                        for part_no, (xs, ys) in enumerate(rings):
                            rows.append(
                                {
                                    "layer": layer,
                                    "fid": rec_no,
                                    "geom_type": kind,
                                    "properties": props,
                                    "part": part_no,
                                    "xs": xs,
                                    "ys": ys,
                                    "rings": [{"xs": xs, "ys": ys}],
                                }
                            )
                    elif kind == "polygon":
                        # ESRI polygons store all rings flat; outer rings are
                        # clockwise, holes counter-clockwise. Group each outer
                        # ring with the holes that FOLLOW it (writer
                        # convention) — one output row per outer part.
                        part_no = 0
                        current = None
                        for xs, ys in rings:
                            if _is_clockwise(xs, ys) or current is None:
                                if current is not None:
                                    rows.append(current)
                                current = {
                                    "layer": layer,
                                    "fid": rec_no,
                                    "geom_type": kind,
                                    "properties": props,
                                    "part": part_no,
                                    "xs": xs,
                                    "ys": ys,
                                    "rings": [{"xs": xs, "ys": ys}],
                                }
                                part_no += 1
                            else:
                                current["rings"].append({"xs": xs, "ys": ys})
                        if current is not None:
                            rows.append(current)
                    else:
                        rows.append(
                            {
                                "layer": layer,
                                "fid": rec_no,
                                "geom_type": kind,
                                "properties": props,
                                "part": 0,
                                "xs": None,
                                "ys": None,
                                "rings": None,
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "layer", "fid", "geom_type", "properties",
                    "part", "xs", "ys", "rings",
                ],
            )

    paired = shp.join(F.broadcast(dbf), "__stem", "left")
    out = place_decode(spark, [shp_files, dbf_files], paired, decode, schema)
    if validate:
        # degeneracy floor per type: polygons need a ring (3+), polylines
        # a segment (2+), points are 1-vertex by construction
        out = out.filter(
            (F.col("geom_type") == "point")
            | (
                (F.col("geom_type") == "polyline")
                & F.col("xs").isNotNull()
                & (F.size("xs") >= 2)
            )
            | (
                (F.col("geom_type") == "polygon")
                & F.col("xs").isNotNull()
                & (F.size("xs") >= 3)
            )
        )
    return out


def _is_clockwise(xs: list, ys: list) -> bool:
    """Signed shoelace sum < 0 ⇔ clockwise (ESRI outer-ring winding)."""
    n = len(xs)
    s = 0.0
    for i in range(n):
        j = (i + 1) % n
        s += xs[i] * ys[j] - xs[j] * ys[i]
    return s < 0.0


def _ring_cw(xs: list, ys: list) -> tuple[list, list]:
    if not _is_clockwise(xs, ys):
        return list(reversed(xs)), list(reversed(ys))
    return list(xs), list(ys)


def _ring_ccw(xs: list, ys: list) -> tuple[list, list]:
    if _is_clockwise(xs, ys):
        return list(reversed(xs)), list(reversed(ys))
    return list(xs), list(ys)


def write_shp_polygons(
    shp_path: str,
    shapes: list[list[list[tuple[list, list]]]],
) -> None:
    """Write a polygon .shp main file (type 5). ``shapes`` is one entry per
    record: a list of PARTS, each part a list of ``(xs, ys)`` rings whose
    FIRST ring is that part's outer boundary and the rest its holes — the
    same nesting as the engine's WKB fixtures, so a MultiPolygon is simply
    several single-ring parts (NOT outer+hole, which windings would
    otherwise imply). Windings are normalized to the ESRI spec (outer CW,
    holes CCW) and rings are explicitly closed. Driver-side by contract —
    the export escape hatch for small layers (S5), symmetric with the
    GeoJSON sink."""
    records = []
    gxmin = gymin = float("inf")
    gxmax = gymax = float("-inf")
    for rec_no, parts in enumerate(shapes, start=1):
        norm = [
            _ring_cw(xs, ys) if i == 0 else _ring_ccw(xs, ys)
            for part in parts
            for i, (xs, ys) in enumerate(part)
        ]
        closed = [
            (list(xs) + [xs[0]], list(ys) + [ys[0]]) for xs, ys in norm
        ]
        num_points = sum(len(xs) for xs, _ in closed)
        xmin = min(min(xs) for xs, _ in closed)
        xmax = max(max(xs) for xs, _ in closed)
        ymin = min(min(ys) for _, ys in closed)
        ymax = max(max(ys) for _, ys in closed)
        gxmin, gymin = min(gxmin, xmin), min(gymin, ymin)
        gxmax, gymax = max(gxmax, xmax), max(gymax, ymax)
        body = struct.pack("<i4d", SHP_POLYGON, xmin, ymin, xmax, ymax)
        body += struct.pack("<2i", len(closed), num_points)
        off = 0
        for xs, _ in closed:
            body += struct.pack("<i", off)
            off += len(xs)
        for xs, ys in closed:
            for x, y in zip(xs, ys):
                body += struct.pack("<2d", x, y)
        records.append(body)
    _write_shp(shp_path, SHP_POLYGON, records, (gxmin, gymin, gxmax, gymax))


def _write_shp(shp_path: str, shape_type: int, records: list[bytes],
               bbox: tuple[float, float, float, float]) -> None:
    """Frame pre-packed record bodies into a .shp main file (100-byte
    header + big-endian record headers) — shared by the point/polyline/
    polygon writers."""
    framed = [
        struct.pack(">2i", rec_no, len(body) // 2) + body
        for rec_no, body in enumerate(records, start=1)
    ]
    content = b"".join(framed)
    header = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
    header += struct.pack(">i", (100 + len(content)) // 2)
    header += struct.pack("<2i", 1000, shape_type)
    header += struct.pack("<4d", *bbox)
    header += struct.pack("<4d", 0.0, 0.0, 0.0, 0.0)
    with open(shp_path, "wb") as f:
        f.write(header + content)


def write_shp_points(
    shp_path: str,
    points: list[tuple[float, float]],
) -> None:
    """Write a POINT .shp main file (type 1) — the record type of the
    reference's DEFAULT export: its sensor GeoDataFrame is point geometry
    written with the 'ESRI Shapefile' driver
    (``/root/reference/src/data_preprocessing.py:201-206``). One fixed
    20-byte record per point; same small-layer driver-side contract as
    ``write_shp_polygons``."""
    if not points:
        raise ValueError("write_shp_points: empty layer")
    records = [
        struct.pack("<i2d", SHP_POINT, float(x), float(y)) for x, y in points
    ]
    xs = [float(x) for x, _ in points]
    ys = [float(y) for _, y in points]
    _write_shp(shp_path, SHP_POINT, records,
               (min(xs), min(ys), max(xs), max(ys)))


def write_shp_polylines(
    shp_path: str,
    shapes: list[list[tuple[list, list]]],
) -> None:
    """Write a POLYLINE .shp main file (type 3). ``shapes`` is one entry
    per record: a list of parts, each ``(xs, ys)`` an OPEN path (no
    closing vertex, no winding normalization — both are polygon-only
    concepts)."""
    if not shapes:
        raise ValueError("write_shp_polylines: empty layer")
    records = []
    gxmin = gymin = float("inf")
    gxmax = gymax = float("-inf")
    for parts in shapes:
        if not parts or any(len(xs) < 2 for xs, _ in parts):
            raise ValueError(
                "write_shp_polylines: each part needs >= 2 vertices"
            )
        num_points = sum(len(xs) for xs, _ in parts)
        xmin = min(min(xs) for xs, _ in parts)
        xmax = max(max(xs) for xs, _ in parts)
        ymin = min(min(ys) for _, ys in parts)
        ymax = max(max(ys) for _, ys in parts)
        gxmin, gymin = min(gxmin, xmin), min(gymin, ymin)
        gxmax, gymax = max(gxmax, xmax), max(gymax, ymax)
        body = struct.pack("<i4d", SHP_POLYLINE, xmin, ymin, xmax, ymax)
        body += struct.pack("<2i", len(parts), num_points)
        off = 0
        for xs, _ in parts:
            body += struct.pack("<i", off)
            off += len(xs)
        for xs, ys in parts:
            for x, y in zip(xs, ys):
                body += struct.pack("<2d", float(x), float(y))
        records.append(body)
    _write_shp(shp_path, SHP_POLYLINE, records, (gxmin, gymin, gxmax, gymax))


def write_dbf(
    dbf_path: str,
    field_names: list[str],
    rows: list[list[str]],
    field_len: int = 32,
) -> None:
    """Write a dBASE III .dbf with all-text fields (fixed width,
    left-justified, space-padded) — enough structure for round-tripping
    attribute tables; symmetric with ``parse_dbf``."""
    n_fields = len(field_names)
    header_size = 32 + 32 * n_fields + 1
    record_size = 1 + field_len * n_fields
    head = struct.pack(
        "<B3BIHH20x", 3, 24, 1, 1, len(rows), header_size, record_size
    )
    descs = b""
    for name in field_names:
        nm = name.encode("ascii")[:10]
        descs += nm + b"\x00" * (11 - len(nm)) + b"C" + b"\x00" * 4
        descs += struct.pack("<BB", field_len, 0) + b"\x00" * 14
    body = b""
    for row in rows:
        body += b" "
        for v in row:
            enc = str(v).encode("ascii", "replace")[:field_len]
            body += enc + b" " * (field_len - len(enc))
    with open(dbf_path, "wb") as f:
        f.write(head + descs + b"\x0d" + body + b"\x1a")
