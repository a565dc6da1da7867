"""SparkSession factory tuned for local[N] testing but configured the way a
large-cluster job would be: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), explicit shuffle partitioning, UTC session time.

At 100 TB these same settings hold: AQE handles skewed keys, shuffle
partitions are set from cluster size (not the 200 default), and all joins
against small dimensions are broadcast (see views.py / queries.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kafkastreams-tp3-is-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    parts = str(shuffle_partitions or cpus)
    # local mode runs every executor thread inside the driver JVM; the 1g
    # default heap GC-thrashes under N-way parallel shuffles/persists. On a
    # real cluster this is spark.executor.memory sized per node instead.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the events table stores TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects natively — read as long, convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let AQE broadcast mid-sized aggregate/dimension frames (e.g. the
        # hashed-shingle sets in dedup verify); still adaptive, never a
        # hard hint, so SF-scaled frames fall back to shuffle joins
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # generated-class cache (default 100 entries): one trigger of the
        # 13-query topology compiles 180-198 distinct classes (measured
        # at sf0.01, local[4]), so at the default every steady-state
        # trigger evicted and recompiled its whole working set (~4 CPU-s
        # per trigger). 1000 holds the topology plus a batch query mix.
        # Static conf: only settable here, before the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .getOrCreate()
    )


def configure_for_engine(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine invariants to an externally created
    session (the driver harness owns the session in verify runs).

    Only touches runtime-mutable confs: session timezone (window alignment
    must match the UTC-based oracle) and AQE toggles. Static confs cannot
    be applied to a running session, so an externally created session
    keeps the default 100-entry generated-class cache that ``get_spark``
    raises to 1000 — the topology recompiles its classes every trigger
    there.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
    return spark
