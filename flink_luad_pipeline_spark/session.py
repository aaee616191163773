"""SparkSession factory tuned for the driver's local[N] harness.

Replaces the reference's ``ExecutionEnvironment.getExecutionEnvironment``
(PipeLine.scala:8). All defaults are scale-aware: AQE handles runtime
partition coalescing and skew joins so the same code runs on local[32]
and on a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "flink_luad_pipeline_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract).
    On a real cluster the master/resource settings come from spark-submit
    and everything here except the SQL confs is ignored.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per local core; on a cluster AQE coalesces
        # from a higher initial number, so this is safe to leave.
        .config("spark.sql.shuffle.partitions", "32" if cpus == "*" else str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean for the bench contract (ONE JSON line):
        # the console progress bar writes \r-frames into stdout when
        # no TTY is attached, which can land inside the driver's
        # bounded tail capture of bench output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate adds a size(arr)>0 filter under every
        # explode; PushDownPredicates then substitutes the array
        # DEFINITION into that filter and sinks it into the scan — for
        # text operators that explode a computed array (shingles,
        # n-grams, segments) the whole tokenize pipeline is re-evaluated
        # twice per scan row, below any repartition (measured 10x on
        # ll6's index build at sf0.1). The rule only prunes rows that
        # Generate(outer=false) drops anyway, so excluding it never
        # changes results — it just keeps heavy generator inputs
        # evaluated once, where they're written.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _start_callback_server(spark)
    return spark


def _start_callback_server(spark: SparkSession) -> None:
    """Start py4j's callback server, which ``foreachBatch`` and Python
    streaming listeners call into, while the process has few file
    descriptors open. PySpark otherwise starts it at the first
    ``foreachBatch``; its accept loop waits with ``select.select``,
    which fails on a descriptor >= 1024, and that error is only logged:
    the server thread ends and the stream waits for its callback
    forever. A server that was shut down or whose loop ended is
    replaced."""
    from pyspark.java_gateway import ensure_callback_server_started

    gateway = spark.sparkContext._gateway
    # the gateway forwards unknown attributes to the JVM, so read the
    # instance dict
    server = gateway.__dict__.get("_callback_server")
    if server is not None and (server.thread is None or not server.thread.is_alive()):
        gateway._callback_server = None
    ensure_callback_server_started(gateway)
