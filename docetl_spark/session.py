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


def _local_worker_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """Python-worker settings of a ``local[...]`` master; none for others.

    Local workers fork from ``docetl_spark.pydaemon``, which stops every
    task from re-reading ``pyspark.zip`` (≈ 0.2 s per task). The daemon is
    started as ``python -m docetl_spark.pydaemon`` from the driver's
    working directory, so the engine's parent directory goes first on the
    workers' ``PYTHONPATH``, ahead of any caller value. A daemon module the
    caller names is kept. Other masters keep the stock daemon:
    ``--py-files`` reach their executors only per task, after the daemon
    has started."""
    if master != "local" and not master.startswith("local["):
        return {}
    engine_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = (engine_parent, extra_conf.get("spark.executorEnv.PYTHONPATH"))
    return {
        "spark.python.daemon.module": extra_conf.get("spark.python.daemon.module", "docetl_spark.pydaemon"),
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in paths if p),
    }


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
        # Above this many paths a parquet read lists its inputs with a
        # Spark job, one task per path. Lake-table scans name snapshot-known
        # files, so the driver lists them with a stat per file instead: a
        # 640-file scan planned in 2.5 s with the job, 0.08 s without.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_local_worker_conf(master, extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
