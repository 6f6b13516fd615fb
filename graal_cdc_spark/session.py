"""SparkSession factory + runtime configuration.

The reference boots one Debezium engine per source instance
(``DebeziumEngineManager.java:40-136``); our equivalent control plane is
a single SparkSession with deterministic, scale-aware defaults.

Scale posture: these defaults are chosen so the same code runs on
``local[32]`` for tests and on a 1000-executor cluster unchanged —
AQE coalesces/splits shuffle partitions at runtime, skew joins are
handled by AQE, and broadcast thresholds let Catalyst pick
broadcast-hash joins for the small dimension tables.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

# Runtime-settable confs we also (re)apply to driver-provided sessions.
RUNTIME_CONFS: dict[str, str] = {
    # Determinism protocol (FIXTURES.md §4): UTC everywhere.
    "spark.sql.session.timeZone": "UTC",
    # Let AQE re-plan at runtime: coalesce small shuffle partitions,
    # convert sort-merge→broadcast when stats allow, split skewed
    # partitions. This is the main "would it survive 100×" knob.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (vectorized UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/supplier/part at test SF) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.parquet stores TIMESTAMP(NANOS); read as long and convert
    # in the loader (values are µs-aligned, so this is lossless).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (e.g. driver-provided)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be fixed by the session owner; best-effort.
            pass
    return spark


def get_spark(
    app_name: str = "graal-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for local runs; on a real cluster, leave unset and submit normally.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 16g: at 8g the 140-query bench suite showed rotating 3-5 s
        # full-GC spikes on otherwise sub-second queries (l20/r13/r20
        # across runs); 16g removes them entirely on this 128 GiB box.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A 200-query session generates thousands of codegen classes;
        # the JDK default 240 MB code cache silently flushes/recompiles
        # under that load and lambda-heavy queries degrade 3-5x late in
        # the suite (l71/l75/r67 in-suite vs isolated). 1 GiB removes
        # the churn on this box; harmless when smaller works.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=1g",
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure(spark)


def run_concurrently(
    spark: SparkSession, fn: Callable[[object], object], items: Iterable
) -> list:
    """``[fn(item) for item in items]``, with the calls run at once on
    at most ``defaultParallelism`` threads — for independent Spark
    actions (one-task writes, say) that would otherwise leave the
    cluster idle while the driver plans the next one.

    Every call carries the caller's local properties (its job group,
    which a streaming query's ``stop()`` cancels, and any span group a
    tracer set) in a copy of its own: Spark SQL sets and restores the
    execution id and the session's ``spark.sql.*`` confs in the running
    thread's properties for every action, so calls that shared one copy
    would see each other's. Returns only after every call has finished,
    then raises the error of the first failed item in ``items`` order,
    so no call is still running when the caller moves on (a commit
    marker written after this sees every write complete)."""
    items = list(items)
    if not items:
        return []
    workers = min(len(items), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn), item)
            for item in items
        ]
    return [f.result() for f in futures]
