"""SparkSession builder.

Local testing runs a single JVM (local[N]); the configs below are
chosen so the same code is correct on a real cluster:

- AQE on: runtime coalescing + skew-join handling replaces hand-tuned
  partition counts at 100 TB.
- shuffle.partitions defaults to the local core count; on a cluster
  AQE's coalescePartitions makes the initial number a ceiling, not a
  hard setting.
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (duckdb TIMESTAMP is UTC-naive).
- Arrow enabled: every pandas exchange (Pandas UDFs, toPandas) goes
  through Arrow batches, the same vectorized model the reference used
  via pandas chunks (csvplayback.py:574).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_spark(
    app_name: str = "fledge_south_csvplayback_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_ltz(df: DataFrame, ts_col: str) -> DataFrame:
    """Restore the TIMESTAMP surface on a TIMESTAMP_NTZ column.

    Parquet sources annotated isAdjustedToUTC=false read (or stream) in
    as TIMESTAMP_NTZ, which watermarks and unix_micros reject. The
    session timezone is pinned UTC (get_spark above), so the cast keeps
    wall values bit-identical. No-op for any other dtype — shared by
    the batch events loader and the streaming event-time operators so
    the two cannot drift.
    """
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df

