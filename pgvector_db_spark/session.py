"""SparkSession factory.

Local-mode defaults match the test/bench environment (single JVM,
``local[$SPARK_GRAFT_CPUS]``); on a real cluster the same builder settings
apply — AQE, Arrow, UTC session time — and the master/memory settings come
from spark-submit instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pgvector_db_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are scale-aware rather than local-mode hacks:
      - AQE on (runtime coalesce / skew-join handling — the 100 TB path),
      - Arrow on (every pandas-UDF boundary is Arrow-batched),
      - UTC session timezone (parity with the DuckDB oracle),
      - shuffle partitions sized to cores locally; on a cluster AQE's
        coalesce makes the static number far less critical.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # one pass over the headline queries leaves ~82 generated classes
        # in the codegen cache, and its default of 100 entries made warm
        # passes recompile the same ~20 classes in most runs (about 15%
        # slower); with room for 1000 they recompile nothing
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (Spark's legacy default) writes NO footer min/max, so
        # timestamp columns would be invisible to row-group pruning and
        # to the snapshot log's data-skipping stats; TIMESTAMP_MICROS
        # is the modern annotated int64 every reader (Spark, DuckDB,
        # pyarrow) understands and stats cover
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if not os.environ.get("SPARK_GRAFT_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
