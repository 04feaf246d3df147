"""Fan-out sinks.

The reference writes matched lines to one ``io.Writer`` and collects
unmatched rows in an in-memory Errors slice (`parser_core.go:241-243`,
`:216`). At 100 TB the equivalent is table sinks keyed by
``(status, pattern_id)``. A SINGLE write pass with
``partitionBy(status, pattern_id)`` performs the whole fan-out — one
scan, no per-sink jobs. There is one write policy: a write replaces a
directory it owns, ``data`` or, for a pipeline batch or a streaming
micro-batch, ``data/batch_id=<id>``, so a re-run replaces its rows and
never duplicates them. Every directory the package writes goes through
one writer, :func:`_replace`. There is one count: the counters of a
write are read from the footers of the part files it committed
(:func:`committed_lineage`). The write creates no file the table does
not need: on a host without native Hadoop IO each file and directory
costs a forked ``chmod``.

Iceberg is the design target (snapshot-based resume per north_rule); this
sandbox has no Iceberg runtime jars, so the sinks are a partitioned-parquet
table layout plus a JSON manifest standing in for snapshot metadata.
:func:`write_routed` has an ``iceberg_table`` branch, but the pipeline
does not reach it: neither ``run_pipeline`` nor ``run_stream_once``
passes ``iceberg_table``, and :func:`committed_lineage` reads parquet
footers, so it would count an Iceberg write as zero rows.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decoders import EXCLUDED, MATCHED, SKIPPED, UNMATCHED

SINK_PARTITION_KEYS = ("status", "pattern_id")

# a batch partition's counters before its first part file is read
_NO_ROWS = dict.fromkeys(("total", MATCHED, UNMATCHED, EXCLUDED, SKIPPED), 0)

# Writer options of every sink write: Hadoop's local filesystem without
# its checksum layer, so no ``.crc`` file is written beside each part
# file. Hadoop picks the class by scheme, so only ``file:`` paths change;
# the cache switch keeps the session's cached checksummed instance for
# ``file:`` out of the write.
_NO_CHECKSUMS = {
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
}


def iceberg_available(spark) -> bool:
    """Probe for the Iceberg runtime: True iff the Iceberg Spark
    extension classes are on the JVM classpath (jars shipped via
    ``--packages org.apache.iceberg:iceberg-spark-runtime-…`` plus a
    configured catalog). This sandbox has no Iceberg jars, so the probe
    is False here and the writer falls back to partitioned parquet."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
        return True
    except Exception:
        return False


def _write_routed_iceberg(df: DataFrame, table: str, batch_id: str | None) -> None:
    """DataFrameWriterV2 fan-out into an Iceberg table, partitioned by the
    same (status, pattern_id) keys, with ``batch_id`` as a leading
    partition column when given. An existing table takes a dynamic
    partition replacement (overwritePartitions), so re-writing a batch
    replaces exactly that batch's partitions, as the parquet path's
    per-batch directory overwrite does — Iceberg's snapshot commit
    additionally makes it atomic.

    Runtime validation: this branch cannot execute in the sandbox (no
    Iceberg jars); ``scripts/iceberg_smoke.py`` is the first-deploy
    smoke test — run it via spark-submit with the documented --packages
    line to prove create / snapshot-commit / dynamic-overwrite resume /
    time travel end-to-end on a real cluster."""
    keys = SINK_PARTITION_KEYS
    if batch_id is not None:
        df = df.withColumn("batch_id", F.lit(batch_id))
        keys = ("batch_id", *keys)
    cols = [F.col(c) for c in keys]
    writer = df.writeTo(table).using("iceberg").partitionedBy(cols[0], *cols[1:])
    # Existence decides create-vs-write EXPLICITLY. Catching the write
    # error and falling back to createOrReplace() would turn any
    # transient failure (commit conflict, permissions, schema drift)
    # into a silent full-table truncation down to this batch's rows;
    # real write errors must propagate to the caller/retry layer.
    if df.sparkSession.catalog.tableExists(table):
        writer.overwritePartitions()
    else:
        writer.create()


def write_routed(
    routed: DataFrame,
    out_dir: str,
    mode: str = "overwrite",
    batch_id: str | None = None,
    iceberg_table: str | None = None,
) -> None:
    """One-pass fan-out: a write partitioned by (status, pattern_id).
    Every sink table is a partition subtree:
    ``{out_dir}/data/status=matched/pattern_id=0/...``

    Every write is a static overwrite of a directory the caller owns:
    ``{out_dir}/data``, or ``{out_dir}/data/batch_id=<id>`` alone with
    ``batch_id``. The job deletes that directory when it starts, so
    re-running a batch that died mid-write (partial files, no manifest)
    REPLACES its rows, stray partitions included, and never adds to them.
    :func:`committed_lineage` counts what the write committed. Reading
    ``data`` back discovers ``batch_id`` as a partition column. ``mode``
    accepts ``"overwrite"`` only; any other value raises ``ValueError``.

    Without native Hadoop IO every file and directory the writer creates
    costs a forked ``chmod``, so the write creates only what the table
    needs: no ``.crc`` checksum file beside each part file (parquet holds
    its own page checksums), and no ``.spark-staging-*`` tree of a dynamic
    overwrite.

    ``iceberg_table``: when given AND the Iceberg runtime is present
    (see :func:`iceberg_available`), the fan-out goes through
    DataFrameWriterV2 into that Iceberg table instead of the parquet
    directory. Without the runtime the parquet layout is used regardless.
    The pipeline does not use this branch: ``run_pipeline`` and
    ``run_stream_once`` pass no ``iceberg_table``, and
    :func:`committed_lineage` would count an Iceberg write as zero rows,
    so moving them to Iceberg is a code change, not a config change."""
    if mode != "overwrite":
        raise ValueError(f"write_routed only replaces the directory it owns, got mode={mode!r}")
    if iceberg_table is not None and iceberg_available(routed.sparkSession):
        _write_routed_iceberg(routed, iceberg_table, batch_id)
        return
    _replace(routed, _routed_dir(out_dir, batch_id), SINK_PARTITION_KEYS)


def _replace(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """The package's one directory write: a static overwrite of ``path``,
    which the caller owns. The job deletes ``path`` when it starts and
    writes parquet part files under it, in ``partition_by`` directories,
    with no ``.crc`` file beside each part file and no
    ``.spark-staging-*`` tree of a dynamic overwrite."""
    (
        df.write.mode("overwrite")
        .options(**_NO_CHECKSUMS)
        .option("partitionOverwriteMode", "static")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def _routed_dir(out_dir: str, batch_id: str | None) -> str:
    """The directory :func:`write_routed` replaces."""
    path = os.path.join(out_dir, "data")
    return path if batch_id is None else os.path.join(path, f"batch_id={batch_id}")


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
) -> None:
    """Persist a table bucketed (and optionally sorted) on a join key so
    repeated joins/aggregations on that key are co-located: Spark reads
    matching buckets on both sides and skips the shuffle entirely — the
    pre-partitioning strategy for dimension/fact tables that are joined
    every run at 100 TB. Requires a catalog table (``saveAsTable``), which
    it replaces."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
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


def drop_manifest(out_dir: str, batch_id: str) -> None:
    """Remove a batch's commit marker, if any, before its data is
    rewritten: no marker may outlive the rows it describes."""
    try:
        os.remove(os.path.join(manifest_dir(out_dir), f"{batch_id}.json"))
    except FileNotFoundError:
        pass


def local_out_dir(spark, out_dir: str) -> str:
    """``out_dir`` as the local path Spark's writer resolves it to: a bare
    path lands on ``fs.defaultFS`` (HDFS on a YARN cluster), a relative one
    on the JVM's working directory. The driver keeps the manifests and reads
    the footers on its own filesystem, where a part file on any other would
    go unseen and count as no rows, so a non-``file:`` path raises
    ``ValueError``."""
    path = spark._jvm.org.apache.hadoop.fs.Path(out_dir)
    uri = path.getFileSystem(spark._jsc.hadoopConfiguration()).makeQualified(path).toUri()
    if uri.getScheme() != "file":
        raise ValueError(f"{out_dir} resolves to {uri.toString()}; out_dir must be a file: path")
    return uri.getPath()


def _footer_rows(path: str) -> int:
    """Row count of one parquet file, from its footer: no data page is read."""
    # imported here, not at module level: every Python worker imports this
    # package, and none needs pyarrow.parquet
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def committed_lineage(out_dir: str, batch_id: str | None = None) -> list[dict]:
    """Per-partition counters of what a :func:`write_routed` call with the
    same ``out_dir`` and ``batch_id`` committed, read from the footers of
    its part files: no data page is read and no Spark job runs. It walks
    ``data/status=*/pattern_id=*`` without ``batch_id`` and
    ``data/batch_id=<id>/status=*/pattern_id=*`` with it. ``partition_id``
    is the write task's ``part-NNNNN`` index, and each part file adds its
    footer's row count to ``total`` and to the counter its ``status=``
    directory names. The committer keeps one task attempt per partition,
    so the counters describe the rows on disk; their sum is the write's
    counters."""
    import glob

    root = _routed_dir(out_dir, batch_id)
    pattern = os.path.join(glob.escape(root), "status=*", "pattern_id=*", "part-*.parquet")
    lineage: dict[int, dict] = {}
    for path in glob.glob(pattern):
        status_dir, _, name = os.path.relpath(path, root).split(os.sep)
        status = status_dir.removeprefix("status=")
        partition_id = int(name.split("-")[1])
        rec = lineage.setdefault(partition_id, {"partition_id": partition_id, **_NO_ROWS})
        rows = _footer_rows(path)
        rec["total"] += rows
        rec[status] += rows
    return [lineage[p] for p in sorted(lineage)]


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


def write_training_shards(df, out_dir: str, key_col: str, n_shards: int):
    """Write size-balanced training shards: rows are assigned to shards by
    a content-addressed md5 bucket of ``key_col`` (engine-portable, stable
    under repartitioning — the same guarantee as operators/sampling.py)
    and written as one partition directory per shard; the write replaces
    ``out_dir``.

    The repartition ON the shard column co-locates each shard into one
    task before the write, so every shard is a contiguous file set a
    trainer can stream independently. Returns the sharded DataFrame for
    inspection/counting.
    """
    from .operators.sampling import hash_bucket

    sharded = df.withColumn("shard", hash_bucket(F.col(key_col), n_shards))
    _replace(sharded.repartition(n_shards, "shard"), out_dir, ("shard",))
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
    ``data/batch_id=…/status=…/pattern_id=…`` tree of a pipeline or a
    stream (one ``batch_id`` directory per batch, at most one part file
    per batch task) — every matching partition directory is rewritten to
    ``target_files`` files, with no ``.crc`` files, as every sink write.

    Swap semantics (local filesystem only — ``os.rename``): compacted
    output is written to a sibling temp dir, the old dir renamed away,
    the new one renamed in. A CRASH at any point leaves either the old
    or the new directory complete (never mixed), but a CONCURRENT reader
    can observe the partition briefly missing between the two renames —
    run compaction in a maintenance window, or use the Iceberg writer
    path on a real deployment where the table format gives atomic
    snapshot swaps. Returns (n_rows, n_files_before, n_files_after)
    summed over the matched partitions; ``n_rows`` is read from the part
    files' footers, with no counting job.
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
        parts = _glob.glob(os.path.join(part_dir, "*.parquet"))
        before += len(parts)
        n_rows += sum(map(_footer_rows, parts))
        df = spark.read.parquet(part_dir)
        tmp_new = part_dir + f".compact-{uuid.uuid4().hex[:8]}"
        _replace(df.coalesce(target_files), tmp_new)
        tmp_old = part_dir + f".old-{uuid.uuid4().hex[:8]}"
        os.rename(part_dir, tmp_old)
        os.rename(tmp_new, part_dir)
        shutil.rmtree(tmp_old, ignore_errors=True)
        after += len(_glob.glob(os.path.join(part_dir, "*.parquet")))
    return n_rows, before, after
