"""SparkSession bootstrap with scale-oriented defaults.

Single place where the engine's Spark tuning lives so tests, the driver entry
point and the benchmark all run with identical physics:

- AQE on (adaptive coalescing + skew-join splitting — skewed sensor density is
  an expected workload property, SURVEY.md §7 "hard parts").
- Arrow enabled for every pandas interchange (the only Python-side compute the
  engine allows is Arrow-batched).
- UTC session timezone so timestamp semantics are deterministic across the
  engine and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Cross-engine value semantics: Spark 4 defaults to ANSI mode, where
    # int64 overflow and division-by-zero RAISE. The DuckDB oracle widens
    # sums to HUGEINT and yields NULL on x/0 — and the engine's own
    # contract (quantize-and-clamp guards, explicit NULL propagation)
    # assumes the pre-4.0 non-ANSI semantics. Pinned here AND in
    # ``__spark_entry__._register_views`` (the driver brings its own
    # session, which this conf must follow).
    "spark.sql.ansi.enabled": "false",
    # ansi=false flips size(NULL) to the legacy -1; pin the modern NULL
    # so F.size over a NULL array matches DuckDB len(NULL) = NULL.
    "spark.sql.legacy.sizeOfNull": "false",
    # Sensors/dim tables are small relative to fact tables: give broadcast
    # joins room. At 100 TB the fact side never broadcasts; dims still do.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Push min/max/count aggregates into the parquet footer scan. NOTE:
    # only effective on the DSv2 scan path (useV1SourceList excludes
    # parquet); the engine keeps V1 as the default scan — V2 changes
    # timestamp/rebase corner behavior — so this conf is armed for
    # deployments that opt into V2, and tests/test_plans.py proves the
    # pushdown fires there.
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
    # Local mode runs driver + all executor threads in ONE JVM; the 1 GiB
    # spark.driver.memory default is a laptop setting, not a 32-thread rig
    # setting — broadcast + shuffle buffers across 32 concurrent tasks OOM
    # at sf0.1 under it. Sized for the local test rig; on a real cluster
    # the deploy config owns executor/driver sizing.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Long-running sessions (the 390-query bench, a production driver)
    # accumulate dead RDD/broadcast/shuffle state that the ContextCleaner
    # only reclaims after a driver GC notices the references died. The
    # engine materializes only through localCheckpoint(), whose blocks go
    # with the frame that reads them, and the iterative loops release
    # superseded checkpoints explicitly (unpersist_checkpoint). The GC
    # cadence measured as a wash (interleaved A/B over the 16 heaviest
    # checkpoint/cache queries, repeats=3, two passes each: 30 s
    # 60.9/54.1, 90 s 62.0/56.1, 30 min 61.9/54.9 — all within noise).
    # 90 s keeps a safety net for garbage the explicit path doesn't cover
    # (dropped frames, shuffle state, broadcasts) without twice-a-minute
    # full GCs on a large production heap; override via extra_conf.
    "spark.cleaner.periodicGC.interval": "90s",
}


def get_spark(
    app_name: str = "sensordatapipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the parallelism of the master in local
    mode — on a real cluster leave it to AQE's coalescing from a higher
    initial value.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # Must run before the JVM launches: streaming Python workers inherit the
    # gateway's PYTHONPATH, and transformWithState needs google.protobuf
    # there (no-op when protobuf is installed or the session already exists).
    from sensordatapipelines_spark.streaming.stateful import (
        ensure_streaming_protobuf,
    )

    ensure_streaming_protobuf()
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 32)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
