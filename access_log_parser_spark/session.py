"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §7 phase 3) while remaining
correct on local[N]:

- AQE on (runtime coalesce, skew-join splitting) — skewed url-host
  partitions are the expected hazard for web-crawl corpora;
- Arrow enabled with a bounded batch size so the mapInArrow parse stage
  streams fixed-size batches instead of whole partitions;
- shuffle partitions sized for the local harness; on a real cluster this is
  overridden by --conf / AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "access-log-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Under spark-submit the JVM gateway is already running with the
    # launcher's --master/--conf applied (PYSPARK_GATEWAY_PORT is set), and
    # builder options would OVERRIDE them — measured: every `spark-submit
    # --master local[2]` pipeline run silently executed at local[*], which
    # also falsified the 2-vs-8-core scaling pair. When launched that way,
    # only explicit caller arguments may override the launcher; master and
    # shuffle-partition defaults stay with spark-submit/spark-defaults.
    launched_by_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None and not launched_by_submit:
        master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None and launched_by_submit:
        shuffle_sql = None
    else:
        shuffle_sql = str(
            shuffle_partitions
            or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
        )
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Commit protocol: v2 moves task outputs into place at task commit
        # instead of a serial driver-side rename pass at job commit — the
        # standard setting for object-store/cloud deployments, and it keeps
        # job-commit cost independent of task count (the serial rename is
        # O(files) on the driver, which anti-scales with executor count).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
    )
    if shuffle_sql is not None:
        b = b.config("spark.sql.shuffle.partitions", shuffle_sql)
    if master is not None:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
