"""SparkSession factory tuned for this engine.

Local mode is a single JVM; the same configs (AQE, skew-join splitting,
Arrow batching, shuffle-partition sizing) are the ones that matter on a
1000-executor cluster — only master / memory / shuffle-partition count
change per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size for pandas-UDF stages: the Spark analogue of DocETL's
# LLM batch_size (reference: docetl/operations/map.py:425-520).
DEFAULT_ARROW_BATCH = 10_000


def get_spark(
    master: str | None = None,
    app_name: str = "docetl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard configs.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale you set it to ~2-3x total executor cores instead; AQE coalesces
    down at runtime either way.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Commit protocol v2: task output moves directly into the
        # destination at task commit (one rename instead of two). Safe
        # here because the lake table's atomicity lives in its metadata
        # pointer, never in the directory layout (orphan files of failed
        # jobs are unreferenced and vacuumed), and pipeline checkpoints
        # still gate on _SUCCESS, which v2 writes as usual. Trims the
        # filesystem-metadata tail of every per-batch CDC write.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Python data source pushdown (lakefeed's version/stats pruning).
        # Spark REFUSES a reader that implements pushFilters while this is
        # off (DATA_SOURCE_PUSHDOWN_DISABLED), so the engine session
        # enables it; a foreign session must set it before a lakefeed
        # batch read.
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
