"""SparkSession factory with the engine's tuned defaults.

Tuned for the 100 TB target (SURVEY.md §4): AQE on (runtime coalescing +
skew-join splitting), Arrow transfer for the pandas-UDF kernels, and
shuffle partitioning sized by the caller (tests pass 32 to match
local[32]; a real cluster sizes it to ~2-3x total cores). Per-Column
call-site capture is off, so building a plan costs fewer driver round
trips per request.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tilegrab-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting — first line of defense for dense-urban-cell skew
        # (explicit salting in operators/image_join.py is the second).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas UDF (PIP refine, decode, stitch).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Image rows are wide (256KB tiles); keep scan splits bounded so a
        # partition of bytes rows fits comfortably in executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # No Python call-site capture per Column call: with it on, every
        # Column method costs extra py4j round trips and a stack walk,
        # and the captured site only adds context to error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
