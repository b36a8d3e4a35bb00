"""SparkSession builder tuned for this engine.

Local-mode defaults match the test/bench environment (local[N], single JVM)
but every setting is cluster-safe: AQE on (runtime re-plan + skew join),
Arrow on (pandas-UDF batches), UTC session timezone (oracle comparability),
Python call-site capture off (query-build py4j cost).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mobilityduck_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as long and convert in
        # sources.tables.load (truncation to micros matches DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # no Python call-site capture: PySpark otherwise wraps every
        # functions.* call and DataFrame method in ~7 py4j round trips
        # to record file:line for error messages (errors keep their
        # class and message). A builder setting, because PySpark reads
        # it once per process, at the first wrapped call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
