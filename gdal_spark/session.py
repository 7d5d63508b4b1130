"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[N]``; the same configs are what we would
ship to a multi-executor cluster via spark-submit (shuffle partitions are
then sized to cluster cores, AQE re-plans at runtime).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _package_zip() -> str:
    """Zip the gdal_spark package so executors can import it — the local-mode
    equivalent of shipping via ``spark-submit --py-files gdal_spark.zip``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "gdal_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("gdal_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    return out


def get_spark(
    app_name: str = "gdal_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode (default: $SPARK_GRAFT_CPUS or 32).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32") or "32")
    if shuffle_partitions is None:
        # ~2x cores: enough granularity for AQE to coalesce, small enough
        # to avoid tiny-task overhead at test scale.
        shuffle_partitions = max(cores, 8) * 2
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce the output partitioning of cached plans:
        # materialized small frames (LSH candidate pairs, layer manifests)
        # otherwise pin shuffle-partition-count partitions and every
        # downstream stage pays 64 near-empty tasks (measured: the minhash
        # query drops ~2x steady-state with this on)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # single local JVM holds driver+executors: size the heap so 32
        # concurrent tasks don't GC-thrash (measured: 16g caps scaling at
        # ~1.6x from 8→32 cores on the flagship; 64g restores it)
        .config("spark.driver.memory", os.environ.get("GDAL_SPARK_DRIVER_MEM", "64g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions",
                "-Djava.net.preferIPv4Stack=true "
                + os.environ.get("GDAL_SPARK_JAVA_OPTS", ""))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A driver-built table (row tuples) as an Arrow ``LocalRelation``.

    ``createDataFrame(list)`` makes a Python RDD, so every collect or
    broadcast of the table runs a job whose tasks re-pickle it in a Python
    worker. A LocalRelation keeps the rows in the plan: collecting it runs
    no job, scanning or broadcasting it runs JVM tasks only, and Catalyst
    knows its exact row count. For small tables only (grids, cell indexes,
    lookup bands) — Catalyst folds projections over it on the driver.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
