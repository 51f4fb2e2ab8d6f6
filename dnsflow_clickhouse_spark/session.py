"""SparkSession factory tuned for this engine.

Local mode is used for tests/bench (``local[N]``), but every default here
is chosen to survive a large multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  replaces the reference's manual 100-way key salting
  (reference: DnsRptCH.scala:641,673,712,729,752,761).
- Arrow on (fast pandas interchange for the few Pandas-UDF operators).
- ``parquet.nanosAsLong`` — the driver testdata stores ``events.ts`` as
  TIMESTAMP(NANOS), which vanilla Spark refuses; we read it as a long
  and convert (see sources.tables).
- UTC session timezone so epoch math agrees with external oracles.
- AQE may re-partition cached plans: a small persisted aggregate is
  coalesced like any other query's output, so a report projected from
  it writes one file instead of one per shuffle partition.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "dnsflow-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster the ``master``/memory settings come from
    spark-submit; everything set here is cluster-safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata stores naive (no-timezone) parquet timestamps;
        # read them as TIMESTAMP_LTZ (UTC session tz => identical wall
        # clock) instead of TIMESTAMP_NTZ so epoch math (unix_micros,
        # unix_timestamp) and window range frames type-check everywhere.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
