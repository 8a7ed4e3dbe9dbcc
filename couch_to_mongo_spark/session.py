"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same settings apply per executor (AQE on, Arrow on, UTC, shuffle partitions
sized to cores). See SURVEY.md §4 for which optimizations are Catalyst's
job vs ours.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "couch_to_mongo_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus defaults to $SPARK_GRAFT_CPUS (driver contract) else 32. Shuffle
    partitions default to cpus — the guide's "~cores for local" rule; a
    1000-executor cluster would instead set this to ~2-3x total cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # make the package importable on python workers regardless of the
    # consumer's cwd: cloudpickle serializes module-level functions BY
    # REFERENCE, so executors running the opt-in poison kernels must be
    # able to `import couch_to_mongo_spark` (the default ingest path runs
    # no Python worker). Locally the worker daemon inherits PYTHONPATH
    # from this process; on a cluster the north_rule path is spark-submit
    # --py-files dist/*.zip instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # naive parquet timestamps (pandas writers) read as TIMESTAMP (UTC
        # session), not TIMESTAMP_NTZ — keeps one timestamp type everywhere
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # micro-batch change files are small; split finer so a single-file
        # batch still scans in parallel
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
