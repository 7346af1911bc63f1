"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]``; the same configuration is what we'd
ship to a 1000-executor cluster: AQE on (runtime shuffle-partition
coalescing, broadcast-join conversion, skew-join splitting), dynamic
partition overwrite for idempotent snapshot appends, Arrow for any
Pandas-UDF boundary, UTC session timezone so results hash stably
against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "opl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster the caller leaves it unset and spark-submit decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        # --- adaptive execution: re-plan at runtime from real stats ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing; AQE coalesces down from this upper bound ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions) if shuffle_partitions else "32",
        )
        # --- snapshot idempotence: overwrite only the scopes we rewrite ---
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # --- Arrow for the (rare) Pandas-UDF path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic cross-engine comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- parquet scan behavior at 100 TB: bounded splits, pushdown on ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- TIMESTAMP(NANOS) parquet (e.g. the events table) is read as
        #     long nanos and converted by the source layer ---
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- reclaim broadcast relations / checkpoint blocks on a clock,
        #     not on allocation pressure: ContextCleaner is GC-driven, and
        #     a long session of AQE broadcast joins can exhaust the driver
        #     heap before a full GC ever runs (BENCH_r09 crash) ---
        .config("spark.cleaner.periodicGC.interval", "1min")
        # --- PySpark's DataFrame debugging records the Python call site
        #     around every Column operator: 11 py4j round trips instead
        #     of 1.  Off, error messages lose the call-site fragment;
        #     exception types are unchanged.  PySpark reads this once per
        #     process from the first active session, so it must be a
        #     builder config, not a runtime spark.conf.set ---
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Driver heap knob for long local sessions.  Only effective when set
    # BEFORE the JVM launches (first pyspark import / getOrCreate) —
    # bench.py routes it through PYSPARK_SUBMIT_ARGS for that reason;
    # here it covers the plain `python -c "get_spark()"` path.  On a
    # real cluster spark-submit --driver-memory wins and this is unset.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem:
        builder = builder.config("spark.driver.memory", driver_mem)
    if master is not None:
        builder = builder.master(master)
    else:
        # Only default to a local master when the caller forces it or
        # no master is configured at all (bare `python` invocation).
        # A code-set master overrides spark-submit's --master, so
        # unconditionally setting one here would silently run cluster
        # deployments in local mode on the driver.
        from pyspark import SparkConf

        if "SPARK_GRAFT_LOCAL" in os.environ or not SparkConf().contains("spark.master"):
            builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
