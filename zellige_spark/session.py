"""SparkSession builder tuned for the tiling engine.

Scale posture (designed for 1000-executor clusters, tested on local[N]):
* AQE on — runtime coalescing + skew-join splitting are free wins.
* Arrow on with a bounded batch size — every kernel crosses the
  JVM<->Python boundary as Arrow batches; huge tiles must stream in
  bounded batches rather than materialize per-group.
* shuffle partitions default to cores on local mode; on a real cluster
  leave it to AQE's coalescing from a high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "zellige-spark", master: str = None,
              shuffle_partitions: int = None, extra: dict = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else os.cpu_count()
        shuffle_partitions = max(int(n), 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
