"""Seeded benchmark inputs.

Every input the program sees is made here from ``--seed`` alone: the base
tables (same schemas as the driver's sf tables, see FIXTURES.md §A), the
GeoTIFF raster, the sensor Shapefile and the streaming landing files. The
same seed gives byte-identical tables; nothing is read from outside the
checkout.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Token vocabulary and language mix of the driver's ``documents`` table.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAYS_30_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Sizes:
    """Input size of one workload run (row counts)."""

    customer: int = 0  # sensors: the c_custkey lattice (SENSORS_SQL)
    supplier: int = 0  # zones: the s_suppkey lattice (ZONES_SQL)
    events: int = 0
    users: int = 1
    documents: int = 0
    embeddings: int = 0
    event_files: int = 2  # landing files of the events stream
    sensor_files: int = 2  # landing files of the sensor stream


def _customer(rng, n):
    keys = np.sort(rng.choice(np.arange(1, 15_001), n, replace=False))
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )


def _supplier(rng, n):
    keys = np.sort(rng.choice(np.arange(1, 1_001), n, replace=False))
    return pa.table(
        {
            "s_suppkey": pa.array(keys, pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        }
    )


def _events(rng, n, users):
    ts = np.sort(EPOCH_2024_US + rng.integers(0, DAYS_30_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n):
    # 5 % near-duplicates: an earlier original plus one marker token, the
    # shape of the driver corpus' "... dup" rows. A fixed count of copies of
    # originals only keeps the duplicate graph (and so the number of dedup
    # rounds) the same shape for every seed.
    dup = np.zeros(n, bool)
    dup[rng.choice(np.arange(11, n), n // 20, replace=False)] = True
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if dup[i]:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


class Inputs:
    """The seeded tables and side inputs of one run, held in memory; ``stage``
    writes them under a directory."""

    def __init__(self, seed: int, sizes: Sizes):
        rng = np.random.default_rng(seed)
        self.sizes = sizes
        self.tables: dict[str, pa.Table] = {}
        if sizes.customer:
            self.tables["customer"] = _customer(rng, sizes.customer)
        if sizes.supplier:
            self.tables["supplier"] = _supplier(rng, sizes.supplier)
        if sizes.events:
            self.tables["events"] = _events(rng, sizes.events, sizes.users)
        if sizes.documents:
            self.tables["documents"] = _documents(rng, sizes.documents)
        if sizes.embeddings:
            self.tables["embeddings"] = _embeddings(rng, sizes.embeddings)
        # 2 bands x 64 x 64 u1 raster over the sensor lattice; 0 is nodata.
        self.raster = rng.integers(0, 101, (2, 64, 64)).astype(np.uint8)
        self.event_split = rng.integers(0, sizes.event_files, sizes.events)
        self.sensor_split_seed = int(rng.integers(0, 2**31))

    def cells(self):
        """The raster as the (band, px, py, value) table DuckDB checks with."""
        import pandas as pd

        band, py, px = np.meshgrid(
            np.arange(1, 3), np.arange(64), np.arange(64), indexing="ij"
        )
        return pd.DataFrame(
            {
                "band": band.ravel().astype(np.int32),
                "px": px.ravel().astype(np.int32),
                "py": py.ravel().astype(np.int32),
                "value": self.raster.ravel().astype(np.float64),
            }
        )

    def stage_tables(self, base: str) -> str:
        data = os.path.join(base, "data")
        os.makedirs(data)
        for name, tbl in self.tables.items():
            pq.write_table(tbl, os.path.join(data, f"{name}.parquet"))
        return data

    def stage_raster(self, base: str) -> str:
        from sensordatapipelines_spark.sources.geotiff import write_geotiff

        d = os.path.join(base, "raster")
        os.makedirs(d)
        # (band, py, px) with TIFF row 0 the top row; upper-left y = 64 * 0.005
        # makes decoded cell centres bit-equal px * 0.005 / py * 0.005.
        write_geotiff(
            os.path.join(d, "raster.tif"),
            self.raster[:, ::-1, :],
            pixel_scale=(0.005, 0.005),
            upper_left=(0.0, 64 * 0.005),
            nodata=0,
            dtype="u1",
        )
        return d

    def stage_sensors(self, base: str, sensors) -> str:
        """Sensor layer (a pandas frame of sensor_id, lon, lat, val) as a
        POINT Shapefile; doubles ride the .shp bit-exactly and ``val`` the
        .dbf as shortest round-trip text."""
        from sensordatapipelines_spark.sources.shapefile import write_dbf, write_shp_points

        d = os.path.join(base, "shapefile")
        os.makedirs(d)
        write_shp_points(
            os.path.join(d, "sensors.shp"),
            list(zip(sensors["lon"].tolist(), sensors["lat"].tolist())),
        )
        write_dbf(
            os.path.join(d, "sensors.dbf"),
            ["sensor_id", "val"],
            [
                [str(int(i)), "" if v != v else repr(float(v))]
                for i, v in zip(sensors["sensor_id"], sensors["val"])
            ],
        )
        return d

    def stage_landing(self, base: str, sensors) -> str:
        """Landing files of the two streams, written once per set-up and
        copied into a fresh directory before every pass."""
        land = os.path.join(base, "landing")
        os.makedirs(os.path.join(land, "events"))
        ev = self.tables["events"]
        for f in range(self.sizes.event_files):
            path = os.path.join(land, "events", f"part{f}.parquet")
            pq.write_table(ev.filter(pa.array(self.event_split == f)), path)
            os.utime(path, (1_700_000_000 + f * 100,) * 2)
        os.makedirs(os.path.join(land, "sensors"))
        part = np.random.default_rng(self.sensor_split_seed).integers(
            0, self.sizes.sensor_files, len(sensors)
        )
        tbl = pa.Table.from_pandas(sensors, preserve_index=False)
        for f in range(self.sizes.sensor_files):
            path = os.path.join(land, "sensors", f"part{f}.parquet")
            pq.write_table(tbl.filter(pa.array(part == f)), path)
            os.utime(path, (1_700_000_000 + f * 100,) * 2)
        return land


def fresh_copy(src: str, dst: str) -> str:
    """Copy a staged directory to an empty destination, keeping mtimes (the
    file-stream sources order files by modification time)."""
    shutil.copytree(src, dst)
    return dst


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (Spark's checksum and
    marker files excluded)."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
