"""SparkSession construction with scale-appropriate defaults.

The reference hand-tunes a chunk-size budget and a threaded scheduler
(``upscale_streaming.py:59-74,115-116``).  Here the equivalents are
declarative Spark confs: AQE (runtime re-planning, skew handling,
partition coalescing), Arrow for the Python boundary, zstd parquet
compression (replacing Blosc zstd+bitshuffle, ``upscale_streaming.py:
103-108``), and shuffle partitions sized to the local core count.

On a real cluster the same confs hold; only ``master`` and memory
settings change.  Everything here is public Apache Spark configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "atlas_upscaling_dask_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults are chosen for correctness-at-scale:

    * AQE on — runtime shuffle-partition coalescing and skew-join
      splitting replace the reference's static chunk heuristic
      (``upscale_streaming.py:59-74``).
    * ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
      semantics (and DuckDB-oracle comparability).
    * Arrow enabled — every pandas/Python boundary is batched.
    * Parquet zstd — the reference's Blosc-zstd chunk codec analog.

    ``SPARK_GRAFT_CPUS`` (default 32) sets both the local master's core
    count and the default shuffle partitions; it is read on every call.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
