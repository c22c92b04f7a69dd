"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and scaled down by env for the
local[32] sandbox: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for all pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kafka-connect-fs-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — e.g.
    ``local-cluster[4,8,4096]`` spawns 4 separate executor JVMs × 8 cores
    (real shuffle transport, separate heaps/GC), the closest in-sandbox
    stand-in for an N-executor cluster topology; pass ``cores`` as the
    TOTAL core count so shuffle partitions still size correctly."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # AQE: coalesce small shuffle partitions, split skewed ones at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas-UDF / mapInPandas exchange (no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ANSI off => cast failures yield NULL, matching the reference's
        # data_type_mapping_error=false policy (UnivocityFileReader.java:273-305).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # modern parquet timestamps: INT96 (the legacy default) carries NO
        # footer statistics, which would disable LakeTable's per-file
        # [ts_min, ts_max] manifest stats and read_range file pruning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local mode shares ONE JVM heap between the driver and all 32
        # task slots: at sf1 the ngram-jaccard window sort across 32
        # concurrent tasks plus a broadcast build exhausted a 16g heap
        # ("Not enough memory to build and broadcast"). 32g is headroom,
        # not a reservation (-Xmx grows lazily; the sandbox has 128 GiB).
        # On a real cluster driver and executor heaps are sized
        # separately and this knob only covers the driver.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        # Python workers skip re-reading pyspark.zip's directory on every
        # task (kafka_connect_fs_spark/daemon.py). The package must be
        # importable when the daemon starts (current directory or
        # PYTHONPATH): a --py-files archive joins sys.path only per task
        .config("spark.python.daemon.module", "kafka_connect_fs_spark.daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
