"""Where Python code runs: executor-side package shipping, and the one size
rule that puts a file decode on the driver or in executor tasks.

Python workers deserialize ``mapInPandas``/pandas-UDF closures by importing
this package — which fails whenever the driver's ``sys.path`` entry for the
repo isn't on the workers' ``PYTHONPATH`` (different cwd in local mode, and
*always* on a real cluster unless the wheel is pre-installed). The canonical
fix is to ship the package with the job: zip it once and ``addPyFile`` it —
idempotent, cheap (pure-Python package, a few tens of KB), and exactly what
``spark-submit --py-files`` would do.

A file reader whose decode is Python (Shapefile, GeoPackage) hands its
decode to ``place_decode``: inputs up to ``_DRIVER_DECODE_MAX_BYTES``
decode once on the driver into a ``LocalRelation``, larger ones in a lazy
file-per-task ``mapInPandas`` (SCALE.md, driver-decode cap).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from collections.abc import Callable, Iterator
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_SHIPPED: set[int] = set()

# Input files up to this many bytes decode on the driver. From the second
# plan reference on, the driver decode beat the per-task one at every size
# measured (50 KB to 60 MB), but its transient Python peak is ~9x the file
# bytes, so the cap holds that near 70 MB (SCALE.md, shapefile decode table).
_DRIVER_DECODE_MAX_BYTES = 8 * 1024 * 1024


def ensure_shipped(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_path = Path(tempfile.gettempdir()) / f"sensordatapipelines_spark_{os.getpid()}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    spark.sparkContext.addPyFile(str(zip_path))
    _SHIPPED.add(key)


def listed_bytes(*listings: DataFrame) -> int:
    """Total file bytes of ``binaryFile`` listings, read from their
    listing-time plan statistics: no job runs."""
    return sum(
        f._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        for f in listings
    )


def place_decode(
    spark: SparkSession,
    listings: list[DataFrame],
    payloads: DataFrame,
    decode: Callable[[Iterator], Iterator],
    schema: str,
) -> DataFrame:
    """Run a reader's ``decode`` kernel over ``payloads`` where it fits.

    When the files of ``listings`` total at most ``_DRIVER_DECODE_MAX_BYTES``,
    the payloads are collected in one job and decoded here, when this is
    called (snapshot semantics: later file edits are not seen, and a corrupt
    file raises here). Every later plan reference then rescans a
    ``LocalRelation`` in the JVM instead of paying a Python task to decode
    again. Larger inputs keep the lazy file-per-task ``mapInPandas``
    decode, which raises at the first action."""
    if listed_bytes(*listings) <= _DRIVER_DECODE_MAX_BYTES:
        return _decode_on_driver(spark, payloads, decode, schema)
    ensure_shipped(spark)  # the decode kernel imports this package on workers
    return payloads.mapInPandas(decode, schema=schema)


def _decode_on_driver(
    spark: SparkSession,
    payloads: DataFrame,
    decode: Callable[[Iterator], Iterator],
    schema: str,
) -> DataFrame:
    """Collect the payloads, run ``decode`` here and return the rows as a
    ``LocalRelation``. The Arrow table keeps it local whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pandas(
        next(decode(iter([payloads.toPandas()]))),
        schema=to_arrow_schema(struct),
        preserve_index=False,
    )
    return spark.createDataFrame(table, schema=struct)
