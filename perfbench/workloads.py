"""The three benchmark workloads, as steps that call the package's public
functions with the parameters of the matching driver gates.

A step's ``build`` makes the DataFrame (or starts the stream) and its
``run`` is the sink action. Each step names the outputs it is checked on:
a gate name, whose DuckDB oracle SQL is the reference, or an invariant.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as E
from perfbench.inputs import Sizes
from perfbench.layers import Tracer, TracedPipeline
from sensordatapipelines_spark.operators.dedup import neardedup_corpus
from sensordatapipelines_spark.operators.graph import (
    GraphCapAdvisory,
    adamic_adar,
    cooccurrence_edges,
)
from sensordatapipelines_spark.operators.interpolate import idw, ordinary_kriging
from sensordatapipelines_spark.operators.similarity import ann_lsh_topk, semantic_dedup
from sensordatapipelines_spark.operators.spatial import (
    bbox_filter,
    buffer_aggregate,
    knn_aggregate,
    zonal_stats,
)
from sensordatapipelines_spark.operators.temporal import time_series_aggregate
from sensordatapipelines_spark.sources.geotiff import open_geotiff
from sensordatapipelines_spark.sources.readers import read_table
from sensordatapipelines_spark.sources.shapefile import open_shapefile
from sensordatapipelines_spark.sources.sinks import compact_dir, write_table
from sensordatapipelines_spark.streaming import read_events_stream, stream_interval_aggregate
from sensordatapipelines_spark.streaming.interval_agg import stream_to_zordered

STREAM_TIMEOUT_S = 120


@dataclass
class Ctx:
    spark: SparkSession
    tr: Tracer
    staged: dict[str, str]  # data, raster, shapefile, landing
    pass_dir: str | None = None
    progress: list[dict] = field(default_factory=list)


class Batch:
    """A lazy result. A timed pass sinks it through the noop sink; the check
    pass collects it instead."""

    def __init__(self, df: DataFrame):
        self.df = df

    def run(self, ctx: Ctx) -> None:
        self.df.write.format("noop").mode("overwrite").save()

    def collect(self) -> pd.DataFrame:
        return self.df.toPandas()


class Stream:
    """A started availableNow query; ``run`` waits for it to drain and keeps
    its progress reports. ``read`` loads what its sink wrote."""

    def __init__(self, query, read: Callable[[], DataFrame] | None):
        self.query = query
        self._read = read

    def run(self, ctx: Ctx) -> None:
        if not self.query.awaitTermination(STREAM_TIMEOUT_S):
            self.query.stop()
            raise RuntimeError(f"stream did not drain in {STREAM_TIMEOUT_S} s")
        err = self.query.exception()
        if err is not None:
            raise RuntimeError(f"stream failed: {err}")
        ctx.progress.extend(_progress(p) for p in self.query.recentProgress)

    def collect(self) -> pd.DataFrame | None:
        return None if self._read is None else self._read().toPandas()


def _progress(p) -> dict:
    import json

    return json.loads(p.json) if hasattr(p, "json") else dict(p)


@dataclass(frozen=True)
class Step:
    """``checks`` maps a gate name (or ``invariant:<name>``) to the columns of
    the step's output it reads, renamed to the gate's names (None: all).
    ``after`` names the earlier step whose output this one reads."""

    name: str
    layer: str  # layer credited with the run phase
    build: Callable[[Ctx], Batch | Stream]
    checks: dict[str, dict[str, str] | None]
    after: str | None = None


def r6(c: str):
    return (F.round(F.col(c) * F.lit(1e6)) / F.lit(1e6)).alias(c)


# ---------------------------------------------------------------------------
# sensor_pipeline: the paper's surface, read-only, noop sink
# ---------------------------------------------------------------------------


def _sensors(ctx: Ctx) -> DataFrame:
    shp = ctx.tr.call(open_shapefile, ctx.spark, ctx.staged["shapefile"])
    return shp.select(
        F.col("properties")["sensor_id"].cast("long").alias("sensor_id"),
        F.col("xs")[0].alias("lon"),
        F.col("ys")[0].alias("lat"),
        F.nullif(F.col("properties")["val"], F.lit("")).cast("double").alias("val"),
    )


def sp_layers(ctx: Ctx) -> Batch:
    tr, spark = ctx.tr, ctx.spark
    sensors = _sensors(ctx)
    cells = tr.call(open_geotiff, spark, ctx.staged["raster"])
    zones = spark.sql(E.ZONES_SQL)
    pipe = TracedPipeline("sensor_layers")
    pipe.tracer = tr
    pipe.add_operation(
        "buffer", buffer_aggregate, layer=zones, columns=["acctbal"],
        buffer_size=E.BUFFER_SIZE, funcs=("mean", "max"), source_name="zbuf",
        layer_radius="radius",
    )
    pipe.add_operation(
        "knn", knn_aggregate, layer=zones, columns=["acctbal"], k=E.KNN_K,
        funcs=("mean", "max"), source_name="zknn", layer_id_col="zone_id",
    )
    pipe.add_operation(
        "zonal", zonal_stats, cells=cells, bands=[1, 2], buffer_size=0.0075,
        funcs=("mean", "max"), source_name="rast",
    )
    out = pipe.process(sensors)
    stats = [f"{f}_{src}" for src in ("zbuf_acctbal", "zknn_acctbal") for f in ("mean", "max")]
    stats += [f"{f}_rast_band{b}" for f in ("mean", "max") for b in (1, 2)]
    return Batch(out.select("sensor_id", "lon", "lat", "val", *[r6(c) for c in stats]))


def _as_zones(src: str) -> dict[str, str]:
    return {"sensor_id": "sensor_id"} | {
        f"{f}_{src}_acctbal": f"{f}_zones_acctbal" for f in ("mean", "max")
    }


RAST = {"sensor_id": "sensor_id"} | {
    c: c for c in (f"{f}_rast_band{b}" for f in ("mean", "max") for b in (1, 2))
}


def sp_sweep(ctx: Ctx) -> Batch:
    pipe = TracedPipeline("buffer_sweep")
    pipe.tracer = ctx.tr
    pipe.add_operation(
        "buffer", buffer_aggregate, layer=ctx.spark.sql(E.ZONES_SQL),
        columns=["acctbal"], buffer_size=E.SWEEP_SIZES[0], funcs=("mean", "max"),
        source_name="zones", layer_radius="radius", bbox_prefilter=False,
    )
    runs = pipe.process_generator(_sensors(ctx), "buffer", "buffer_size", list(E.SWEEP_SIZES))
    parts = [
        out.select(
            "sensor_id",
            F.lit(float(size)).alias("buffer_size"),
            r6("mean_zones_acctbal"),
            r6("max_zones_acctbal"),
        )
        for size, out in runs.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return Batch(out)


def sp_time_series(ctx: Ctx) -> Batch:
    sensors = ctx.spark.table("customer").select(
        F.col("c_custkey").alias("sensor_id"), F.col("c_name").alias("name")
    )
    out = ctx.tr.call(
        time_series_aggregate, sensors, ctx.spark.table("events"), ts_col="ts",
        columns=["value"], sensor_col="user_id", sensors_id_col="sensor_id",
        date_range=E.DATE_RANGE, hour_intervals=E.INTERVALS, funcs=("mean", "max"),
    )
    stats = [c for c in out.columns if c.startswith(("mean_", "max_"))]
    return Batch(out.select("sensor_id", "name", *[r6(c) for c in stats]))


def sp_idw(ctx: Ctx) -> Batch:
    out = ctx.tr.call(
        idw, _sensors(ctx), "val", power=2, lon_step=E.IDW_STEP,
        lat_step=E.IDW_STEP, extent=E.IDW_EXTENT,
    )
    return Batch(out.select("gx", "gy", r6("val_idw")))


def sp_kriging(ctx: Ctx) -> Batch:
    out = ctx.tr.call(
        ordinary_kriging, _sensors(ctx), "val", lon_step=E.IDW_STEP,
        lat_step=E.IDW_STEP, extent=E.IDW_EXTENT, variogram=(0.0, 1.0),
    )
    return Batch(out.select("gx", "gy", "val_krig"))


# ---------------------------------------------------------------------------
# llm_curation: dedup, similarity, graph and text operators
# ---------------------------------------------------------------------------

TRAINING_PREP_PLAN = """
{"pipe": "training_prep", "operations": [
  {"name": "score", "function": "quality_score", "args": [], "kwargs": {}},
  {"name": "lang", "function": "lang_id", "args": [], "kwargs": {}},
  {"name": "keep", "function": "sql_filter", "args": [],
   "kwargs": {"predicate": "quality >= 0.5 AND lang_pred = 'en'"}},
  {"name": "fp", "function": "fingerprint", "args": [], "kwargs": {}},
  {"name": "dedup", "function": "dedup_keep_first", "args": [],
   "kwargs": {"subset": ["fp"], "order_col": "doc_id"}},
  {"name": "mix", "function": "hash_sample", "args": [],
   "kwargs": {"key_col": "doc_id", "rate": 0.8, "salt": "prep"}}
]}
"""


def _emb(spark: SparkSession) -> DataFrame:
    return spark.table("embeddings").filter(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull()
    )


def lc_training_prep(ctx: Ctx) -> Batch:
    pipe = TracedPipeline.from_json(TRAINING_PREP_PLAN)
    pipe.tracer = ctx.tr
    out = pipe.process(ctx.spark.table("documents")).select(
        "doc_id", "quality", "lang_pred", "fp"
    )
    return Batch(out)


def lc_neardedup(ctx: Ctx) -> Batch:
    out = ctx.tr.call(
        neardedup_corpus, ctx.spark.table("documents"), num_hashes=E.MINHASH_HASHES,
        band_rows=E.MINHASH_BAND_ROWS, threshold=E.MINHASH_THRESHOLD, seed=E.MINHASH_SEED,
    ).select("doc_id", "source", "n_chars")
    return Batch(out)


def lc_semantic_dedup(ctx: Ctx) -> Batch:
    out = ctx.tr.call(
        semantic_dedup, _emb(ctx.spark), k=E.KMEANS_K, iters=E.KMEANS_ITERS,
        threshold=E.SEMDEDUP_T, dim=E.ANN_DIM,
    ).select("vec_id", F.col("cluster").cast("long").alias("cluster"))
    return Batch(out)


def lc_ann(ctx: Ctx) -> Batch:
    emb = _emb(ctx.spark)
    # the seeded corpus makes the first 8 vectors the query set
    out = ctx.tr.call(
        ann_lsh_topk, emb, emb.filter(F.col("vec_id") < 8), k=E.KNN_K,
        n_planes=E.ANN_PLANES, dim=E.ANN_DIM, seed=E.ANN_SEED,
    )
    return Batch(out)


def lc_adamic_adar(ctx: Ctx) -> Batch:
    occ = (
        ctx.spark.table("events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("h"))
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", GraphCapAdvisory)
        edges = ctx.tr.call(cooccurrence_edges, occ, "user_id", ["event_type", "h"], min_cooccur=3)
        out = ctx.tr.call(adamic_adar, edges, "u", "w", min_common=2, top_k=5)
    return Batch(out)


# ---------------------------------------------------------------------------
# ingest_stream: availableNow micro-batches that write beside reads
# ---------------------------------------------------------------------------


def _pass_path(ctx: Ctx, *parts: str) -> str:
    return os.path.join(ctx.pass_dir, *parts)


def is_interval_stream(ctx: Ctx) -> Stream:
    spark = ctx.spark
    out_dir = _pass_path(ctx, "out", "interval")
    stream = ctx.tr.call_in(
        "sources", read_events_stream, spark, _pass_path(ctx, "landing", "events"),
        max_files_per_trigger=1,
    )
    agg = ctx.tr.call(stream_interval_aggregate, stream, watermark="1 hour")

    def land(batch_df: DataFrame, batch_id: int) -> None:
        ctx.tr.call(write_table, batch_df, out_dir, mode="overwrite")

    q = (
        agg.writeStream.foreachBatch(land)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )

    def read() -> DataFrame:
        res = spark.read.parquet(out_dir)
        stats = [c for c in res.columns if c.startswith(("mean_", "max_"))]
        return res.select(
            F.date_format("window_start", "yyyy-MM-dd").alias("day"),
            F.col("user_id").alias("sensor_id"),
            *[r6(c) for c in stats],
        )

    return Stream(q, read)


def is_land_sensors(ctx: Ctx) -> Stream:
    spark = ctx.spark
    stream = (
        spark.readStream.schema("sensor_id long, lon double, lat double, val double")
        .option("maxFilesPerTrigger", "1")
        .parquet(_pass_path(ctx, "landing", "sensors"))
    )
    q = ctx.tr.call(stream_to_zordered, stream, _pass_path(ctx, "out", "sensors"), files_per_batch=4)
    return Stream(q, None)


def is_compact_read(ctx: Ctx) -> Batch:
    spark, tr = ctx.spark, ctx.tr
    path = _pass_path(ctx, "out", "sensors")
    tr.call(compact_dir, spark, path)
    landed = tr.call(read_table, spark, path, fmt="parquet")
    out = tr.call(bbox_filter, landed, 0.05, 0.15, 0.05, 0.15).select(
        "sensor_id", "lon", "lat", (F.round(F.col("val") * F.lit(1e2)) / F.lit(1e2)).alias("val")
    )
    return Batch(out)


# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: Sizes
    steps: tuple[Step, ...]
    side_inputs: tuple[str, ...] = ()  # of "raster", "shapefile", "landing"
    shuffle_partitions: int | None = None  # None: get_spark's default

    @property
    def writes(self) -> bool:
        return "landing" in self.side_inputs

    def chains(self) -> list[list[Step]]:
        """The steps grouped so that no group reads another's output."""
        chains: list[list[Step]] = []
        of: dict[str, list[Step]] = {}
        for step in self.steps:
            if step.after is None:
                chains.append([])
            chain = chains[-1] if step.after is None else of[step.after]
            chain.append(step)
            of[step.name] = chain
        return chains


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sensor_pipeline",
            Sizes(customer=500, supplier=60, events=4000, users=250),
            (
                Step("layers", "operators.spatial", sp_layers, {
                    "sensors_shapefile_export": {c: c for c in ("sensor_id", "lon", "lat", "val")},
                    "sensors_buffer_agg": _as_zones("zbuf"),
                    "sensors_knn_agg": _as_zones("zknn"),
                    "sensors_zonal_from_geotiff": RAST,
                }),
                Step("sweep", "operators.spatial", sp_sweep, {"sensors_buffer_sweep": None}),
                Step("time_series", "operators.temporal", sp_time_series,
                     {"events_interval_agg": None}),
                Step("idw", "operators.interpolate", sp_idw, {"sensors_idw": None}),
                Step("kriging", "operators.interpolate", sp_kriging, {"invariant:kriging": None}),
            ),
            ("raster", "shapefile"),
        ),
        Workload(
            "llm_curation",
            Sizes(events=4000, users=80, documents=160, embeddings=64),
            (
                Step("training_prep", "operators.text", lc_training_prep,
                     {"pipeline_training_prep": None}),
                Step("neardedup", "operators.dedup", lc_neardedup,
                     {"docs_neardedup_corpus": None}),
                Step("semantic_dedup", "operators.similarity", lc_semantic_dedup,
                     {"emb_semantic_dedup": None}),
                Step("ann", "operators.similarity", lc_ann, {"emb_ann_lsh": None}),
                Step("adamic_adar", "operators.graph", lc_adamic_adar,
                     {"events_adamic_adar": None}),
            ),
        ),
        Workload(
            "ingest_stream",
            Sizes(customer=3000, events=20_000, users=1500, event_files=3, sensor_files=3),
            (
                Step("interval_stream", "streaming", is_interval_stream,
                     {"events_stream_interval": None}),
                Step("land_sensors", "streaming", is_land_sensors, {}),
                Step("compact_read", "sources", is_compact_read,
                     {"sensors_bbox_filter": None}, after="land_sensors"),
            ),
            ("landing",),
            # the gates run their streams with 8 shuffle (= state store) partitions
            shuffle_partitions=8,
        ),
    )
}
