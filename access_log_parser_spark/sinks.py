"""Fan-out sinks.

The reference writes matched lines to one ``io.Writer`` and collects
unmatched rows in an in-memory Errors slice (`parser_core.go:241-243`,
`:216`). At 100 TB the equivalent is table sinks keyed by
``(status, pattern_id)``. A SINGLE write pass with
``partitionBy(status, pattern_id)`` performs the whole fan-out — dynamic
partition insert, one scan, no per-sink jobs.

Iceberg is the design target (snapshot-based resume per north_rule); this
sandbox has no Iceberg runtime jars, so the writer transparently falls
back to a partitioned-parquet table layout with the same directory
contract plus a JSON manifest standing in for snapshot metadata. The
``format`` hook is kept so a real cluster flips to
``.writeTo(...).using('iceberg')`` with no caller change.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SINK_PARTITION_KEYS = ("status", "pattern_id")


def iceberg_available(spark) -> bool:
    """Probe for the Iceberg runtime: True iff the Iceberg Spark
    extension classes are on the JVM classpath (jars shipped via
    ``--packages org.apache.iceberg:iceberg-spark-runtime-…`` plus a
    configured catalog). This sandbox has no Iceberg jars, so the probe
    is False here and the writer falls back to partitioned parquet; on a
    real cluster the Iceberg branch activates with NO code change."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
        return True
    except Exception:
        return False


def _write_routed_iceberg(
    df: DataFrame,
    table: str,
    mode: str,
    extra_partition_cols: tuple[str, ...],
) -> None:
    """DataFrameWriterV2 fan-out into an Iceberg table: partitioned by
    the same (…extra, status, pattern_id) keys; ``overwrite`` maps to
    dynamic-partition replacement (overwritePartitions), matching the
    parquet path's partitionOverwriteMode=dynamic resume semantics —
    Iceberg's snapshot commit additionally makes it atomic.

    Runtime validation: this branch cannot execute in the sandbox (no
    Iceberg jars); ``scripts/iceberg_smoke.py`` is the first-deploy
    smoke test — run it via spark-submit with the documented --packages
    line to prove create / snapshot-commit / dynamic-overwrite resume /
    time travel end-to-end on a real cluster."""
    cols = [F.col(c) for c in (*extra_partition_cols, *SINK_PARTITION_KEYS)]
    writer = df.writeTo(table).using("iceberg").partitionedBy(cols[0], *cols[1:])
    # Existence decides create-vs-write EXPLICITLY. Catching the write
    # error and falling back to createOrReplace() would turn any
    # transient failure (commit conflict, permissions, schema drift)
    # into a silent full-table truncation down to this batch's rows;
    # real write errors must propagate to the caller/retry layer.
    exists = df.sparkSession.catalog.tableExists(table)
    if not exists:
        writer.create()
    elif mode == "overwrite":
        writer.overwritePartitions()
    else:
        writer.append()


def write_routed(
    routed: DataFrame,
    out_dir: str,
    mode: str = "append",
    extra_partition_cols: tuple[str, ...] = (),
    iceberg_table: str | None = None,
) -> None:
    """One-pass fan-out: dynamic-partitioned write keyed by (status,
    pattern_id). Every sink table is a partition subtree:
    ``{out_dir}/data/status=matched/pattern_id=0/...``

    ``extra_partition_cols`` are prepended to the partition keys: the
    pipeline passes ``("batch_id",)`` with ``mode="overwrite"`` so that
    re-running a crashed batch (partial files, no manifest) REPLACES
    exactly that batch's partitions via dynamic partition overwrite —
    append-mode resume would silently duplicate the partial rows.

    ``iceberg_table``: when given AND the Iceberg runtime is present
    (see :func:`iceberg_available`), the fan-out goes through
    DataFrameWriterV2 into that Iceberg table instead of the parquet
    directory — a config change, not a code change, on a real cluster.
    Without the runtime the parquet layout below is used regardless."""
    if iceberg_table is not None and iceberg_available(routed.sparkSession):
        _write_routed_iceberg(routed, iceberg_table, mode, extra_partition_cols)
        return
    (
        routed.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*extra_partition_cols, *SINK_PARTITION_KEYS)
        .parquet(os.path.join(out_dir, "data"))
    )


def read_sink(spark, out_dir: str, status: str | None = None, pattern_id: int | None = None) -> DataFrame:
    df = spark.read.parquet(os.path.join(out_dir, "data"))
    if status is not None:
        df = df.filter(F.col("status") == status)  # partition-pruned scan
    if pattern_id is not None:
        df = df.filter(F.col("pattern_id") == pattern_id)
    return df


def errors_table(spark, out_dir: str) -> DataFrame:
    """The reference's Errors side table (parser_result.go:32-36), read
    back from the unmatched partition: (entry=source, line_no, raw)."""
    return (
        read_sink(spark, out_dir, status="unmatched")
        .select(
            F.col("source").alias("entry"),
            F.col("line_no").alias("line_number"),
            F.col("raw").alias("line"),
        )
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on a join key so
    repeated joins/aggregations on that key are co-located: Spark reads
    matching buckets on both sides and skips the shuffle entirely — the
    pre-partitioning strategy for dimension/fact tables that are joined
    every run at 100 TB. Requires a catalog table (``saveAsTable``)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


# --- snapshot/manifest bookkeeping (Iceberg-snapshot stand-in) ---

def manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifests")


def write_manifest(out_dir: str, batch_id: str, payload: dict) -> str:
    os.makedirs(manifest_dir(out_dir), exist_ok=True)
    path = os.path.join(manifest_dir(out_dir), f"{batch_id}.json")
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"batch_id": batch_id, "committed_at": time.time(), **payload}, f)
    os.replace(tmp, path)  # atomic commit marker
    return path


def read_manifests(out_dir: str) -> list[dict]:
    d = manifest_dir(out_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


def processed_batches(out_dir: str) -> set[str]:
    return {m["batch_id"] for m in read_manifests(out_dir)}


def write_training_shards(
    df, out_dir: str, key_col: str, n_shards: int, mode: str = "overwrite"
):
    """Write size-balanced training shards: rows are assigned to shards by
    a content-addressed md5 bucket of ``key_col`` (engine-portable, stable
    under repartitioning — the same guarantee as operators/sampling.py)
    and written as one partition directory per shard.

    The repartition ON the shard column co-locates each shard into one
    task before the write, so every shard is a contiguous file set a
    trainer can stream independently. Returns the sharded DataFrame for
    inspection/counting.
    """
    from pyspark.sql import functions as F

    from .operators.sampling import hash_bucket

    sharded = df.withColumn("shard", hash_bucket(F.col(key_col), n_shards))
    (
        sharded.repartition(n_shards, "shard")
        .write.partitionBy("shard")
        .mode(mode)
        .parquet(out_dir)
    )
    return sharded


def compact_sink(
    spark,
    out_dir: str,
    status: str,
    pattern_id: int,
    target_files: int = 1,
):
    """Small-file compaction for one (status, pattern_id) sink.

    Long-running fan-out pipelines accrete many small parquet files per
    sink (one per task per batch); at 10^12 rows the file count itself
    becomes the bottleneck for downstream scans. Handles both sink
    layouts: the plain ``data/status=…/pattern_id=…`` tree and the
    pipeline's ``data/batch_id=…/status=…/pattern_id=…`` tree
    (``extra_partition_cols``) — every matching partition directory is
    rewritten to ``target_files`` files.

    Swap semantics (local filesystem only — ``os.rename``): compacted
    output is written to a sibling temp dir, the old dir renamed away,
    the new one renamed in. A CRASH at any point leaves either the old
    or the new directory complete (never mixed), but a CONCURRENT reader
    can observe the partition briefly missing between the two renames —
    run compaction in a maintenance window, or use the Iceberg writer
    path on a real deployment where the table format gives atomic
    snapshot swaps. Returns (n_rows, n_files_before, n_files_after)
    summed over the matched partitions.
    """
    import glob as _glob

    candidates = [
        os.path.join(out_dir, "data", f"status={status}", f"pattern_id={pattern_id}"),
        os.path.join(
            out_dir, "data", "batch_id=*", f"status={status}", f"pattern_id={pattern_id}"
        ),
    ]
    part_dirs = [
        d for pat in candidates for d in sorted(_glob.glob(pat)) if os.path.isdir(d)
    ]
    if not part_dirs:
        raise FileNotFoundError(candidates[0])
    n_rows = before = after = 0
    for part_dir in part_dirs:
        before += len(_glob.glob(os.path.join(part_dir, "*.parquet")))
        df = spark.read.parquet(part_dir)
        n_rows += df.count()
        tmp_new = part_dir + f".compact-{uuid.uuid4().hex[:8]}"
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp_new)
        tmp_old = part_dir + f".old-{uuid.uuid4().hex[:8]}"
        os.rename(part_dir, tmp_old)
        os.rename(tmp_new, part_dir)
        shutil.rmtree(tmp_old, ignore_errors=True)
        after += len(_glob.glob(os.path.join(part_dir, "*.parquet")))
    return n_rows, before, after
