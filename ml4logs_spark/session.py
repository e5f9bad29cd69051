"""SparkSession factory tuned for the pipeline.

Local-mode testing uses ``local[N]``; the same config block is what we'd pass
to ``spark-submit`` on a real cluster (see BENCH/BASELINE.md). AQE is on so
skewed conversation joins re-plan at runtime; explicit salting is still done
in operators/route.py because the north rule requires skew handling to be
explicit, not AQE-only.

Shuffle partitions default to the core count (``defaultParallelism``), which
streaming checkpoints pin at first start; AQE already coalesces batch shuffles,
so batch plans barely change. ``bench.py`` and the tests pass their own counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ml4logs_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` may be an int (-> local[n]) or a full master string. Defaults to
    $SPARK_GRAFT_CPUS or local[*].
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark:")) else f"local[{cores}]"
    sp = shuffle_partitions or os.environ.get("ML4S_SHUFFLE_PARTITIONS")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing keeps Spark's parallelismFirst=true (env-overridable):
        # size-based coalescing (=false) collapsed join-EXPLOSION stages (small
        # input, millions of output pairs; simhash hamming probe 8.9s -> 27.5s)
        # onto one task, because AQE sizes partitions by input bytes, not output
        # compute. TB-scale shuffles should flip it to false per the Spark
        # tuning guide ("respect the advisory size").
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("ML4S_COALESCE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("ML4S_ADVISORY_PARTITION_SIZE", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("ML4S_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", str(sp or spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark
