"""Structured Streaming surface.

The reference is I/O-streaming (constant memory, line-at-a-time,
cancellable — parser_core.go:177-194) but stateless. The Spark mapping
(SURVEY.md §2.5): an incremental Structured Streaming reader over the
pages table with ``trigger(availableNow=True)`` for resumable batch-like
runs, checkpointed to disk; the SAME engine stage
(:func:`..engine.parse_documents`: the pages exploded into lines, then
one ``mapInArrow``)
parses each micro-batch, and fan-out happens in
``foreachBatch`` with the batch writer: micro-batch ``n`` replaces its
own ``data/batch_id=<n>`` directory, as a pipeline batch does.

Event-time analytics the reference lacks: watermarked windowed counts over
``warc_ts`` demonstrate late-data handling for the telemetry use case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import parse_documents
from ..options import Option
from ..sinks import write_routed


def routed_stream(
    spark: SparkSession,
    pages_dir: str,
    schema,
    fmt: str = "s3",
    opt: Option | None = None,
) -> DataFrame:
    """Streaming pages -> routed lines. ``schema`` is the pages schema
    (streaming file sources require an explicit schema)."""
    pages = spark.readStream.schema(schema).parquet(pages_dir)
    # event time rides through the parse, for windowed aggs
    return parse_documents(pages, fmt, opt, keep=("warc_ts",))


def run_stream_once(
    spark: SparkSession,
    pages_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str = "s3",
    opt: Option | None = None,
) -> None:
    """availableNow incremental run: processes exactly the files not yet in
    the checkpoint, fans out per (status, pattern_id) via foreachBatch, and
    stops. Re-invoking resumes from the checkpoint — the streaming twin of
    pipeline.run_pipeline's manifest resume.

    Micro-batch ``n`` replaces ``{out_dir}/data/batch_id=<n>`` (a static
    overwrite, :func:`..sinks.write_routed`). A batch the checkpoint
    planned but did not commit is re-run with the same id and the same
    input after a crash, so it replaces its own rows and never adds to
    them: exactly-once output, the use of ``batch_id`` Spark's
    ``foreachBatch`` documents. An ``out_dir`` therefore belongs to one
    checkpoint: a second checkpoint numbers its batches from 0 again and
    would replace the first one's."""
    pages = spark.readStream.schema(schema).parquet(pages_dir)
    routed = parse_documents(pages, fmt, opt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_routed(batch_df, out_dir, batch_id=str(batch_id))

    (
        routed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def dedup_replays_within_watermark(
    lines_with_ts: DataFrame,
    key_cols: tuple[str, ...] = ("source", "line_no"),
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once dedup of replayed log lines in a stream.

    Log shippers redeliver on retry; at 10^12 docs a full-history distinct
    is unbounded state. ``dropDuplicatesWithinWatermark`` keeps only the
    keys seen within the watermark horizon, so state is bounded by the
    replay window (deliveries of the same line are assumed to arrive
    within ``watermark`` of each other — the standard at-least-once
    shipper contract). Batch twin for oracle checks: a plain
    ``dropDuplicates(key_cols)``.
    """
    return lines_with_ts.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def windowed_status_counts(
    routed_with_ts: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time windowed counts per status: late rows beyond
    the watermark are dropped, state is bounded — the standard streaming
    aggregation shape."""
    return (
        routed_with_ts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("status"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status",
            "rows",
        )
    )


def state_metrics(query_or_progresses) -> list[dict]:
    """Per-stateful-operator state metrics from a streaming query's
    progress events: one dict per (batch, operator) with state rows /
    bytes / churn. At 100 TB this is the dial that shows whether
    watermark-bounded state is actually bounded (a growing
    ``state_rows`` across batches means the watermark horizon is too
    wide for the replay pattern).

    Accepts either a StreamingQuery (reads ``recentProgress`` — NOTE:
    Spark retains only the last ``numRecentProgressUpdates`` (default
    100) batches there, so for long runs pass the full progress-dict
    list a ``StreamingQueryListener`` collected; see
    :func:`run_paragraph_dedup_stream`)."""
    progresses = (
        query_or_progresses
        if isinstance(query_or_progresses, list)
        else (query_or_progresses.recentProgress or [])
    )
    out = []
    for p in progresses:
        for op in (p.get("stateOperators") or []):
            out.append(
                {
                    "batch_id": p.get("batchId"),
                    "operator": op.get("operatorName"),
                    "state_rows": op.get("numRowsTotal"),
                    "state_bytes": op.get("memoryUsedBytes"),
                    "rows_updated": op.get("numRowsUpdated"),
                    "rows_removed": op.get("numRowsRemoved"),
                }
            )
    return out


def run_paragraph_dedup_stream(
    spark: SparkSession,
    pages_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> list[dict]:
    """availableNow run of the streaming paragraph dedup with state-size
    observability: deduped paragraphs land in ``out_dir`` as parquet and
    the per-batch stateOperators metrics are committed to the SAME
    manifest directory the batch pipeline uses (``state_metrics`` key),
    so a resumed 100-TB run can audit state growth after the fact.

    Progress capture uses a ``StreamingQueryListener`` (which sees every
    batch) merged with ``recentProgress`` (which Spark caps at the last
    ~100 batches but is synchronous): a >100-batch availableNow run
    would otherwise silently lose its EARLIEST batches — exactly where a
    state-growth trend starts."""
    import json as _json

    from pyspark.sql.streaming.listener import StreamingQueryListener

    from ..sinks import write_manifest

    collected: list[dict] = []

    class _Collector(StreamingQueryListener):
        def onQueryStarted(self, event):  # pragma: no cover - no-op
            pass

        def onQueryProgress(self, event):
            collected.append(_json.loads(event.progress.json))

        def onQueryIdle(self, event):  # pragma: no cover - no-op
            pass

        def onQueryTerminated(self, event):  # pragma: no cover - no-op
            pass

    listener = _Collector()
    spark.streams.addListener(listener)
    deduped = stream_paragraph_dedup(spark, pages_dir, schema, watermark=watermark)
    try:
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.streams.removeListener(listener)
    # merge: listener rows cover batches recentProgress evicted; the
    # (synchronous) recentProgress tail covers listener-bus stragglers
    this_q = str(q.id)
    by_batch: dict[int, dict] = {}
    for p in collected:
        if str(p.get("id")) == this_q and p.get("batchId") is not None:
            by_batch[p["batchId"]] = p
    for p in q.recentProgress or []:
        if p.get("batchId") is not None:
            by_batch.setdefault(p["batchId"], p)
    metrics = state_metrics([by_batch[k] for k in sorted(by_batch)])
    write_manifest(
        out_dir,
        "stream_paragraph_dedup",
        {"state_metrics": metrics, "n_batches": len({m["batch_id"] for m in metrics})},
    )
    return metrics


def stream_paragraph_dedup(
    spark: SparkSession,
    pages_dir: str,
    schema,
    watermark_col: str = "warc_ts",
    watermark: str = "1 hour",
):
    """Streaming twin of webtext.paragraph_dedup_exploded: pages stream
    in, paragraphs explode out, and each distinct paragraph digest is
    emitted ONCE — ``dropDuplicatesWithinWatermark`` on the md5 digest
    keeps state bounded by the watermark horizon (re-crawls of the same
    paragraph are assumed to arrive within it; a batch compaction pass
    handles the long tail, the standard lambda split).

    Returns the streaming DataFrame (url, pos, para, digest); the caller
    attaches a sink. One shuffle on the digest per micro-batch.
    """
    pages = spark.readStream.schema(schema).parquet(pages_dir)
    paras = pages.select(
        F.col("url"),
        F.col(watermark_col),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "para"),
    ).withColumn("digest", F.md5(F.col("para")))
    deduped = paras.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(
        ["digest"]
    )
    return deduped.select("url", "pos", "para", "digest")
