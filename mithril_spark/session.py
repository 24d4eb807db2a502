"""SparkSession factory with the engine's tuned defaults.

Local mode mirrors the production posture: AQE on (runtime coalescing +
skew-join splitting), Arrow execution for pandas UDFs, and a shuffle
partition count sized for the box. On a real cluster the same builder is
used via ``spark-submit --py-files`` (see bench.py / README); the `pages`
/ index tables would live in an Iceberg catalog — this sandbox has no
Iceberg runtime jar, so persisted tables are plain parquet laid out with
the same partitioning (the table schemas and the engine code are
catalog-agnostic: everything goes through ``spark.read.parquet`` /
``DataFrameWriter.partitionBy``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | None = None,
    app_name: str = "mithril-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Make the package importable in Python workers regardless of the
    # driver's cwd (the local-mode analog of spark-submit --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "20g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # PySpark's DataFrame debugging captures the Python call site of
        # every Column/DataFrame call: the first pyspark.sql.functions call
        # imports IPython (+26.6 MB driver RSS) and every later call pays
        # extra py4j round trips (2000 `F.col(..) + F.lit(..)` took
        # 4.1-5.0 s with it, 1.3-1.9 s without). Read once per process at
        # the first Column call; extra_conf can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
