"""SparkSession factory with the engine's standard configuration.

Local mode here (the sandbox has no cluster); every setting is chosen
so the same plan scales to multi-executor clusters launched via
``spark-submit --py-files`` (AQE, skew-join splitting, Arrow batches).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "cuphic-spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = SparkSession.builder
    # Respect a master provided by the launcher (spark-submit
    # --master yarn/k8s/local[N]); fall back to local[cores] when
    # running as a plain Python process.
    from pyspark import SparkConf

    if not SparkConf().contains("spark.master"):
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("CUPHIC_ARROW_BATCH", "8192"))
        .config("spark.driver.memory", os.environ.get("CUPHIC_DRIVER_MEM", "16g"))
        # CUPHIC_UI=1 turns the UI (and its REST /api/v1 jobs
        # endpoint) on — the scaling harness uses it to decompose
        # wave wall-time into job time vs inter-job driver gaps
        .config("spark.ui.enabled",
                "true" if os.environ.get("CUPHIC_UI") == "1" else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.warehouse.dir",
                os.environ.get("CUPHIC_WAREHOUSE", "/tmp/cuphic-warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
