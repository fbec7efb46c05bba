"""SparkSession factory with engine defaults.

Defaults are chosen for correctness-at-scale first:
- AQE on (runtime shuffle coalescing, skew-join splitting),
- Arrow on (all pandas UDF exchange is vectorized),
- UTC session timezone (deterministic timestamps vs the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "tartare-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` falls back to ``local[$SPARK_GRAFT_CPUS]`` (default 32 in
    this sandbox). On a real cluster, pass master=None and launch via
    ``spark-submit --py-files``; the builder then inherits the submit
    configuration.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # size the shuffle to the parallelism level; at cluster scale this
        # is overridden by AQE coalescing anyway.
        n = master.split("[")[-1].rstrip("]*")
        shuffle_partitions = int(n) if n.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the default) carries no parquet min/max stats; MICROS
        # enables footer-derived lag metrics and ts predicate pushdown
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # lake reads pass the manifest's leaf FILES, never directories:
        # past 32 paths (the default) Spark would stat them in a
        # one-task-per-file listing job (64 files: 64 tasks, ~0.5 s);
        # a driver-side stat of a listed file is microseconds
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
