"""Streaming near-duplicate dedup: incremental MinHash/LSH on ingest.

Batch near-dup dedup (operators/dedup.py) assumes the whole corpus is
present; a crawl pipeline instead receives documents continuously and
must decide KEEP/DROP as they arrive, remembering what it has already
admitted. This module runs that as Structured Streaming ``foreachBatch``
over a growing *band-key index*:

per micro-batch
  1. MinHash signatures (the shuffle-free HOF path, bit-identical to
     the batch/oracle formula) -> LSH band keys via
     :func:`operators.dedup.band_keys` — ONE definition shared with the
     batch operator and the SQL oracle.
  2. A document is DROPPED iff any of its band keys is owned by an
     earlier document of the same batch (window min over the band key)
     or appears in the index from earlier batches (broadcast-able
     left-semi join).
  3. Kept documents go to ``out_dir/batch_id=<n>``; ALL the batch's
     band keys (kept or dropped — so transitively-chained near-dups keep
     dropping) go to ``index_dir/batch_id=<n>/kb=<k>``. Each write is a
     static overwrite of the batch's own directory (``sinks._replace``,
     the package's one directory writer), and the index read EXCLUDES
     the current batch_id — so a replayed batch (failure recovery) is
     idempotent: it cannot see its own half-written keys, and its write
     replaces them.

Determinism: when micro-batches arrive in ascending doc_id order, the
greedy stream decision equals the closed-form global rule

    kept(d)  <=>  min over d's bands of (min doc_id owning that band) == d

proof: a band owner d' < d is either in d's batch (within-batch window
drop) or an earlier batch (its key is indexed -> cross-batch drop), and
conversely an indexed key or earlier in-batch owner IS an owner < d.
The driver oracle (``_ORACLE['stream_minhash_dedup']``) evaluates that
closed form in SQL over the same signature formula — a TRUE streaming
query with a hash-checked oracle.

State story at 100 TB: the index is an append-only columnar table
PARTITIONED BY ``batch_id`` and a hash bucket of the band key (``kb``),
``index_dir/batch_id=<n>/kb=<k>``, so the per-batch probe never re-scans
the whole history:
the processor collects the batch's distinct ``kb`` values (bounded by
``n_key_buckets``) and pushes them as a PARTITION FILTER into the index
read — only directories that can possibly hold a colliding band key
are touched (asserted by test_streaming_neardup's plan check). The
semi-join then prunes further with a broadcast when the probed slice is
dimension-sized and degrades to a shuffle hash join when it is not; a
real deployment points ``index_dir`` at an Iceberg table bucketed the
same way, compacts it, and optionally fronts it with a bloom filter
(dedup.build_bloom). State size is ``n_bands`` rows per ingested doc,
independent of text length. Per-batch metrics count the batch's kept
rows from the footers of the part files its write committed to
``out_dir/batch_id=<n>`` — no data is read back and no Spark job runs —
and its input rows with an Observation that the kept write's own job
computes: the micro-batch frame is a LogicalRDD, whose ``inputFiles()``
is empty, so there is no input footer to read, and a ``count()`` would
re-scan the input in jobs of its own.
"""

from __future__ import annotations

import glob
import math
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    band_keys,
    minhash_signatures_hof,
)
from ..sinks import _footer_rows, _replace


def write_ordered_batches(
    df: DataFrame, path: str, n_batches: int, order_col: str = "doc_id"
) -> list[str]:
    """Test/demo scaffolding: split ``df`` into ``n_batches`` contiguous
    ranges of ``order_col`` and write one parquet FILE per range with
    strictly increasing mtimes, so the file stream source (which orders
    by modification time) replays them as deterministic micro-batches in
    ``order_col`` order. Production streams arrive from Kafka/object
    storage instead — this helper only exists to make stream runs
    reproducible for tests and the driver gate (driver-side toPandas on
    deliberately small inputs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pdf = df.orderBy(order_col).toPandas()
    n = len(pdf)
    paths = []
    bounds = [round(i * n / n_batches) for i in range(n_batches + 1)]
    for i in range(n_batches):
        part = pdf.iloc[bounds[i] : bounds[i + 1]]
        p = os.path.join(path, f"batch_{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), p)
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
        paths.append(p)
    return paths


def auto_key_buckets(
    n_band_rows: int,
    target_rows_per_bucket: int = 128,
    lo: int = 4,
    hi: int = 4096,
) -> int:
    """Size the band-key index's partition-bucket count from corpus
    scale instead of a per-call-site constant (r04 verdict item #5: a
    hand-tuned 256 cost 8x per-batch commit overhead at 300-doc test
    scale, and a hand-tuned small value would under-prune at 100 TB).

    Power-of-two nearest ``n_band_rows / target_rows_per_bucket``,
    clamped to [lo, hi]: small corpora get few directories (per-batch
    commit cost scales with bucket count x batches), huge corpora cap
    at ``hi`` — at 10^12 docs the probe's selectivity comes from the
    ``kb IN (...)`` partition filter over 4096 dirs plus the min/max
    row-group stats inside each, and an Iceberg deployment swaps the
    directory layout for a bucket transform with the same arithmetic.

    The bucket count is a PHYSICAL layout knob only — it never changes
    which documents are kept — but it must stay FIXED for the life of
    one index (kb values written under a different modulus would not
    match the probe's partition filter), which is why sizing happens
    once at stream start, not per batch.
    """
    if n_band_rows <= 0:
        return lo
    raw = n_band_rows / max(target_rows_per_bucket, 1)
    p = round(math.log2(raw)) if raw >= 1 else 0
    return max(lo, min(hi, 2**p))


_BUCKETS_MARKER = "_n_key_buckets"


def pin_bucket_count(index_dir: str, n_key_buckets: int | None) -> int:
    """Resolve — and PERSIST with the index — the bucket modulus for one
    band-key index. The modulus must stay fixed for the life of an index
    (kb values written under a different modulus would not match the
    probe's partition filter, silently keeping duplicates), so the first
    stream run writes its choice to a ``_n_key_buckets`` marker inside
    ``index_dir`` and every later run over the same index reads it back:

    - marker present + ``n_key_buckets is None`` -> reuse the pinned
      value (a resumed/incremental run over a grown input dir cannot
      re-auto-size itself onto a new modulus);
    - marker present + explicit mismatching value -> ``ValueError``
      (the caller is about to corrupt the index layout);
    - no marker -> pin the given value (caller resolves auto-sizing
      first; an Iceberg deployment stores the same fact as the bucket
      transform in the table's partition spec).

    Returns the effective modulus. Local-filesystem marker, matching
    the local-path probe in :func:`make_batch_processor`."""
    marker = os.path.join(index_dir, _BUCKETS_MARKER)
    if os.path.isfile(marker):
        with open(marker) as f:
            pinned = int(f.read().strip())
        if n_key_buckets is not None and int(n_key_buckets) != pinned:
            raise ValueError(
                f"index at {index_dir} was written with n_key_buckets="
                f"{pinned}; refusing to probe/append under "
                f"{n_key_buckets} (would silently miss duplicates)"
            )
        return pinned
    if n_key_buckets is None:
        raise ValueError("n_key_buckets must be resolved before pinning")
    os.makedirs(index_dir, exist_ok=True)
    with open(marker, "w") as f:
        f.write(str(int(n_key_buckets)))
    return int(n_key_buckets)


def probe_index(
    spark: SparkSession,
    index_dir: str,
    batch_id: int,
    kbs: list[int],
) -> DataFrame:
    """The pruned cross-batch probe: read ONLY the index partitions whose
    key bucket appears in this batch (``kb IN kbs`` — a partition
    filter, the index is laid out as ``batch_id=<n>/kb=<k>``) and that
    belong to OTHER batches (replay idempotence: a re-run batch cannot
    see its own half-written keys). Exposed so tests can assert the
    partition filters actually reach the scan."""
    return (
        spark.read.parquet(index_dir)
        .filter(F.col("batch_id") != batch_id)
        .filter(F.col("kb").isin([int(k) for k in kbs]))
        .select("band_idx", "band_key")
    )


def make_batch_processor(
    spark: SparkSession,
    out_dir: str,
    index_dir: str,
    text_col: str = "text",
    n: int = 3,
    n_bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
    metrics: list | None = None,
    n_key_buckets: int = 64,
):
    """The foreachBatch function (exposed for direct testing of replay
    idempotence). Drops a doc iff a band key has an earlier owner in
    this batch or exists in the index from OTHER batch_ids. Each batch
    replaces ``out_dir/batch_id=<n>`` and ``index_dir/batch_id=<n>``; the
    index is partitioned within a batch by
    ``kb = pmod(hash(band_key), n_key_buckets)`` so
    the probe reads only the buckets this batch can collide with —
    never the full history (see module docstring). ``kb`` is a physical
    layout detail only: it never changes which documents are kept."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sigs = minhash_signatures_hof(
            batch_df.filter(F.col(text_col).isNotNull()), text_col=text_col, n=n
        )
        bands = (
            band_keys(sigs, n_bands, rows_per_band)
            .withColumn("kb", F.pmod(F.hash("band_key"), F.lit(n_key_buckets)))
            .localCheckpoint(eager=True)
        )
        w = Window.partitionBy("band_idx", "band_key")
        within_drops = (
            bands.withColumn("_owner", F.min("doc_id").over(w))
            .filter(F.col("_owner") < F.col("doc_id"))
            .select("doc_id")
        )
        # local-path probe; an object-store index_dir would use the
        # Hadoop FS API (or just an Iceberg table, which reads empty)
        if glob.glob(os.path.join(glob.escape(index_dir), "batch_id=*", "kb=*")):
            # the batch's distinct key buckets: bounded by n_key_buckets,
            # tiny driver collect, becomes a PARTITION filter on the read
            kbs = [r["kb"] for r in bands.select("kb").distinct().collect()]
            seen = probe_index(spark, index_dir, batch_id, kbs)
            cross_drops = bands.join(
                seen, ["band_idx", "band_key"], "left_semi"
            ).select("doc_id")
            drops = within_drops.union(cross_drops).distinct()
        else:  # first batch: no index yet
            drops = within_drops.distinct()
        # n_in is counted by the kept write's own job: the foreachBatch
        # frame is a LogicalRDD, so inputFiles() names no footer to read
        seen_in = Observation(f"neardup-in-{uuid.uuid4().hex}")
        kept = batch_df.observe(seen_in, F.count(F.lit(1)).alias("n")).join(
            drops, "doc_id", "left_anti"
        )
        kept_dir = os.path.join(out_dir, f"batch_id={batch_id}")
        _replace(kept, kept_dir)
        # one file per key bucket: without the repartition every upstream
        # partition writes into every kb dir (shuffle partitions x
        # n_key_buckets tiny files per batch)
        _replace(
            bands.repartition("kb"),
            os.path.join(index_dir, f"batch_id={batch_id}"),
            ("kb",),
        )
        if metrics is not None:
            # the footers of what the write committed: no read-back job;
            # an all-dropped batch's directory holds 0 rows
            parts = glob.glob(os.path.join(glob.escape(kept_dir), "*.parquet"))
            n_kept = sum(map(_footer_rows, parts))
            metrics.append(
                {"batch_id": int(batch_id), "n_in": seen_in.get["n"], "n_kept": n_kept}
            )

    return process


def run_streaming_minhash_dedup(
    spark: SparkSession,
    docs_dir: str,
    schema,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    n: int = 3,
    n_bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
    max_files_per_trigger: int = 1,
    n_key_buckets: int | None = None,
) -> list[dict]:
    """availableNow run of the incremental near-dup dedup over a parquet
    file stream; returns per-batch {batch_id, n_in, n_kept} metrics.
    Kept docs land in ``out_dir/batch_id=<n>``, the band index
    accumulates in ``index_dir/batch_id=<n>/kb=<k>`` (partitioned by key
    bucket so later probes prune — see make_batch_processor).

    ``n_key_buckets=None`` (default) auto-sizes the index bucket count
    once at FIRST stream start from the bounded input directory's row
    count (:func:`auto_key_buckets` — availableNow streams have a
    knowable corpus size; an unbounded deployment passes an explicit
    value sized to its expected steady-state index). The chosen modulus
    is pinned to the index via :func:`pin_bucket_count`: a resumed run
    over the same ``index_dir`` (new files in ``docs_dir``, same
    checkpoint) reuses the pinned value even though the directory's row
    count has grown — re-auto-sizing onto a new modulus would write kb
    values the probe's partition filter can never match, silently
    keeping duplicates of already-indexed docs."""
    metrics: list[dict] = []
    marker = os.path.join(index_dir, _BUCKETS_MARKER)
    if n_key_buckets is None and not os.path.isfile(marker):
        # one metadata-cheap batch count over the bounded input dir
        n_docs = spark.read.schema(schema).parquet(docs_dir).count()
        n_key_buckets = auto_key_buckets(n_docs * n_bands)
    n_key_buckets = pin_bucket_count(index_dir, n_key_buckets)
    process = make_batch_processor(
        spark,
        out_dir,
        index_dir,
        text_col=text_col,
        n=n,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
        metrics=metrics,
        n_key_buckets=n_key_buckets,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return metrics
