"""SparkSession factory.

Defaults are chosen for the local[N] test harness but every setting is the
one we would also ship on a 1000-executor cluster: AQE (runtime re-plan,
partition coalescing, skew-join split), UTC session timezone (oracle
determinism), Arrow for every Python<->JVM hop, and a shuffle-partition
count that tracks cores locally (on a real cluster this would be set to
~2-3x total executor cores, or left to AQE coalescing from a high initial
value).

``spark.python.daemon.module`` names ``daemon``, whose forked Python
workers re-read a zip archive's directory only when the archive changed;
like every static conf it applies only when ``get_session`` creates the
SparkContext. The daemon, like every kernel pickled by reference, needs
``traj_sim_spark_spark`` importable in the workers (run from the
repository root or put it on ``PYTHONPATH``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(app_name: str = "traj_sim_spark_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # INT64 TIMESTAMP(NANOS) parquet columns read as long, so a
        # nanos-encoded events fixture scans (tables.file_schema maps
        # those columns to LongType; tables.events_ts converts them)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers fork from the engine's daemon, whose zip
        # importers re-read an archive only when it changed (daemon.py)
        .config("spark.python.daemon.module", "traj_sim_spark_spark.daemon")
        # smaller input splits so multi-row-group files scan in
        # parallel locally. NOTE: the fixtures are single-row-group
        # files, so this alone cannot parallelize their scans (a row
        # group is one reader task); CPU-heavy narrow chains over them
        # instead repartition explicitly (see Tables.doc_tokens). A real
        # cluster reading multi-file tables keeps the 128 MB default.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_BYTES", "8m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
