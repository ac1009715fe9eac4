"""SparkSession builder with the engine's standard configuration.

Spec: BASELINE.json:15 mandates the pyspark.sql DataFrame API with
vectorized pandas/Arrow UDFs; BASELINE.json:14 mandates explicit
partitioning/shuffle/skew handling. Everything below is public Spark
configuration — AQE on, Arrow on, UTC session time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the sandbox (local[N], 32 cores). On a real cluster these are
# overridden at spark-submit time; shuffle partitions should be sized
# ~ input_bytes / 128MB and AQE coalesces down from there.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "64",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE size the final stage of persisted plans too (the 4.1 default
    # freezes a cached table that ends in a shuffle at shuffle.partitions:
    # 64 near-empty partitions per later scan). A cached table whose hash
    # partitioning a reader relies on repartitions to an explicit count,
    # which AQE leaves alone (operators/dedup.resolve_components' edges).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches amortize the JVM<->Python transfer per the
    # vectorized-UDF cost model (PAPERS.md:6); regex work is per-row cheap,
    # so fewer/larger batches win.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
    "spark.sql.parquet.compression.codec": "snappy",
    # INT64 micros, not Spark's legacy INT96: INT96 timestamps carry no
    # parquet min/max statistics, which silently disables row-group
    # predicate pushdown AND the warehouse's footer-bounds file skipping
    # (read_pruned) on every ts-ranged scan. Iceberg mandates INT64
    # timestamps too, so this also matches the real-backend layout.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Speculative execution stays OFF: duplicate task attempts plus
    # side-effecting sink writes would break exact per-sink counts
    # (BASELINE.json:2); idempotence comes from the commit log instead.
    "spark.speculation": "false",
    # committer v2: task commits move files directly, job commit is O(1)
    # instead of a serial driver-side rename pass. Safe here because data
    # visibility is governed by the warehouse commit log, not by the
    # presence of files (SURVEY.md §1.4).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.driver.memory": os.environ.get("WATCHMAN_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "watchman_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). On a cluster, pass ``master=None`` and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
