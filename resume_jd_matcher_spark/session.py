"""SparkSession builder with engine defaults (SURVEY.md §7).

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster
the same config block applies minus the master override. AQE is on so
skewed shuffles re-plan at runtime; Arrow is on for every
pandas-interop boundary (the engine's UDF stages are all Arrow-batched).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# ORDER BY ... LIMIT n runs as an in-memory top-K only up to this n;
# above it, a spilling sort. Spark's default (Int.MaxValue) sizes each
# task's top-K heap by n up front, so a caller-sized cut used as "no
# cap", such as sampling.weighted_sample(n=10**9), would allocate
# gigabytes per task on a 500-row input.
TOPK_SORT_FALLBACK_ROWS = 1_000_000


def get_spark(app_name: str = "resume_jd_matcher_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory target size when coalescing instead of
        # defaulting to max parallelism — Spark's own production
        # recommendation; kills tiny-partition task overhead after
        # selective filters at any scale.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.topKSortFallbackThreshold",
            str(TOPK_SORT_FALLBACK_ROWS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark-matcher-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply engine session defaults to an externally-provided session
    (the driver hands us its own SparkSession in ``__spark_entry__``).

    Only runtime-settable confs — never touches JVM-start-only options.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
    )
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set(
        "spark.sql.execution.topKSortFallbackThreshold",
        str(TOPK_SORT_FALLBACK_ROWS),
    )
    return spark
