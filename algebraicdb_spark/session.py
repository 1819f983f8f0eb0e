"""SparkSession factory with the engine's required configuration.

Every entry point (tests, bench, driver contract) must build its
session here so that the fixture quirks (TIMESTAMP(NANOS) parquet
columns) and the scale-appropriate shuffle/broadcast settings are
applied exactly once.

Scale notes (100 TB design intent, local[32] test reality):
  - AQE on: runtime shuffle-partition coalescing, skew-join splitting
    and broadcast demotion are what make a static plan survive a
    1000-executor cluster.
  - ``shuffle.partitions`` is a *local* default (small to avoid task
    overhead at sf<=0.1); on a real cluster AQE re-targets it from
    ``advisoryPartitionSizeInBytes`` anyway.
  - Arrow on: every Pandas-UDF operator (kNN rerank, multimodal
    decode, grouped-map normalization) pays batch transfer, not
    per-row pickling.
"""

from __future__ import annotations

import logging
import os

from pyspark.logger import PySparkLogger
from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def configure(builder: SparkSession.Builder, shuffle_partitions: int = 32) -> SparkSession.Builder:
    """Apply the engine's required confs to any builder (incl. the driver's)."""
    return (
        builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffledHashJoinFactor", "3")
        # RocksDB state store: required by transformWithStateInPandas
        # (multi-column-family state) and the scale-correct provider
        # anyway — state lives off-heap on local disk with changelog
        # checkpointing, instead of a full HDFS snapshot of the JVM
        # heap map per batch.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )


def get_spark(app_name: str = "algebraicdb-spark", cpus: str | None = None,
              shuffle_partitions: int = 32) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local test mode is ``local[$SPARK_GRAFT_CPUS]``; on a cluster the
    master comes from spark-submit and this builder only adds conf.
    """
    # transformWithStateInPandas needs google.protobuf in BOTH the
    # driver and the forked Python workers; this container has no
    # installable protobuf, so shim it from the host's Cloud SDK copy.
    # The env var must be set before the JVM launches (workers inherit
    # it). Only the "shim" outcome touches PYTHONPATH — with a native
    # protobuf (or no SDK copy) the environment is left alone, so the
    # bootstrap sitecustomize never shadows a host's own one needlessly.
    from algebraicdb_spark._vendor import protobuf_compat

    # Scope the PYTHONPATH mutation to the JVM launch: the gateway JVM
    # copies the env at process creation (workers inherit the JVM's
    # copy), so the var only needs to be set while getOrCreate() may
    # launch it. Restoring afterwards keeps the bootstrap dir out of
    # every OTHER subprocess this driver later spawns (duckdb CLIs,
    # git hooks, nested pytest) — they'd otherwise all run the
    # vendored sitecustomize for no reason. Re-entrant calls re-set it
    # before each getOrCreate, so an already-running JVM is unaffected
    # and a first launch always sees it.
    shim = protobuf_compat.install() == "shim"
    prior = os.environ.get("PYTHONPATH")
    if shim:
        os.environ["PYTHONPATH"] = protobuf_compat.worker_pythonpath_env()

    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus or DEFAULT_CPUS}]")
    try:
        spark = configure(builder, shuffle_partitions).getOrCreate()
    finally:
        if shim:
            if prior is None:
                os.environ.pop("PYTHONPATH", None)
            else:
                os.environ["PYTHONPATH"] = prior
    # PySpark logs every analysis error carrying a query context, JVM
    # stack trace included, to these two loggers before raising it; they
    # do not propagate, so setLogLevel never reaches them. The exception
    # itself still reaches the caller unchanged.
    for name in ("SQLQueryContextLogger", "DataFrameQueryContextLogger"):
        PySparkLogger.getLogger(name).setLevel(logging.CRITICAL)
    return spark
