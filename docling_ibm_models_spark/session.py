"""SparkSession factory with scale-oriented defaults.

Defaults follow the plan in SURVEY.md §4: AQE on (runtime coalescing +
skew-join splitting), Arrow exchange on (every model/extraction kernel is an
Arrow-batched pandas UDF), bounded Arrow batch size so a batch of page
payloads fits executor memory, and python worker reuse so per-executor
singletons (model weights, compiled regexes) survive across tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Pages per Arrow batch inside mapInPandas/mapInArrow. Measured on the bench:
# 256-row batches leave the extraction stage JVM→Python-transfer-bound
# (14.3s for 20k pages at local[32]); 2048-row batches (~10 MB of html) halve
# that (7.6s). Large enough to amortize per-batch pandas overhead, small
# enough that a batch of pages fits comfortably in worker memory.
DEFAULT_ARROW_BATCH = 2048


def get_spark(
    app_name: str = "docling-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the extraction workload.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster callers pass nothing and spark-submit supplies the master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # stdout hygiene: the bench driver parses the LAST stdout line as
        # JSON; progress bars would interleave with it
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
