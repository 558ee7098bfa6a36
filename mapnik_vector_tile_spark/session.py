"""SparkSession factory tuned for this engine.

Local mode runs one JVM on ``local[$SPARK_GRAFT_CPUS]`` (``local[*]``
when unset) with shuffle partitions at twice the cores, at least 8; on
a real cluster the same builder runs under spark-submit --py-files with
executor-level parallelism — nothing here is local-only except the
master default, which spark-submit overrides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapnik_vector_tile_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]`` locally; under spark-submit the
    master from the submit command wins (we never force one if a
    session already exists).
    """
    active = SparkSession.getActiveSession()
    if active is not None and cores is None and extra_conf is None:
        return active

    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    if shuffle_partitions is None:
        # ~2x cores: enough slots for AQE coalescing, not 200-wide tiny tasks
        shuffle_partitions = max(8, n_cores * 2)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one tile-group's features should fit one Arrow batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
