"""SparkSession factory with the engine's standard configuration.

Arrow-vectorized pandas UDFs and AQE are on by default (SURVEY.md §4:
all Python math crosses the executor<->python-worker boundary as Arrow
batches; AQE handles runtime re-planning and skew joins at scale).

PySpark's DataFrame call-site capture is off. With it on, every Column
method and ``functions`` call walks the Python stack and sends the
caller's ``file:line`` to the JVM: about two thirds of the py4j round
trips of building a feature plan. Plans are built per backfill run and
per micro-batch, so the capture sat on the latency path, and the call
site it records is this engine's own ``file:line``, not the caller's.
An ``AnalysisException`` then names no Python call site; to debug one,
pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"}`` (PySpark reads the setting once per Python process, from the
first active session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "transcript-feature-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for the engine.

    Defaults are sized for the local[N] sandbox but every setting is the
    one you would also ship to a 1000-executor cluster: AQE on (runtime
    coalesce + skew-join splitting), Arrow on (vectorized UDF transport),
    nested-schema pruning on (only read the struct fields a plan touches),
    DataFrame call-site capture off (see the module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core (a partition per core
        # avoids tiny-task overhead), and never fewer than 8; on a real
        # cluster this is set to 2-3x total cores and AQE coalesces down.
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            n = 32
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
