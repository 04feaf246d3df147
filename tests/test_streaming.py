"""Structured Streaming tests: availableNow incremental runs resume from
checkpoint; watermarked windowed aggregation plan is streaming-valid."""

import pytest
from pyspark.sql import functions as F

from access_log_parser_spark.pages import synth_pages
from access_log_parser_spark.sinks import read_sink
from access_log_parser_spark.streaming import run_stream_once, windowed_status_counts


def test_available_now_resume(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages = synth_pages(spark, 20, 10, 5)
    pages.write.mode("overwrite").parquet(pages_dir)
    run_stream_once(spark, pages_dir, pages.schema, out_dir, ckpt, fmt="s3")
    first = read_sink(spark, out_dir).count()
    assert first == 20 * 10

    # second invocation: checkpoint says everything is processed -> no dup
    run_stream_once(spark, pages_dir, pages.schema, out_dir, ckpt, fmt="s3")
    assert read_sink(spark, out_dir).count() == first

    # new data arrives -> only the delta is processed
    more = synth_pages(spark, 10, 10, 5).withColumn(
        "url", F.concat(F.lit("late-"), F.col("url"))
    )
    more.write.mode("append").parquet(pages_dir)
    run_stream_once(spark, pages_dir, pages.schema, out_dir, ckpt, fmt="s3")
    assert read_sink(spark, out_dir).count() == first + 10 * 10


def test_windowed_counts_batch_semantics(spark):
    # run the windowed agg in batch mode to pin its semantics
    pages = synth_pages(spark, 10, 5, 5)
    from access_log_parser_spark.engine import parse_routed
    from access_log_parser_spark.sources.text import explode_lines

    lines = explode_lines(pages, text_col="text", source_col="url", keep=("warc_ts",))
    routed = parse_routed(lines.select("source", "line_no", "raw"), "s3").join(
        lines.select("source", "line_no", "warc_ts"), ["source", "line_no"]
    )
    counts = windowed_status_counts(routed, window="1 hour").collect()
    assert sum(r["rows"] for r in counts) == 50
    assert {r["status"] for r in counts} == {"matched", "unmatched"}


def test_dedup_replays_within_watermark_stream(spark, tmp_path):
    """Replayed (duplicated) lines are emitted exactly once by the
    streaming dedup; state stays bounded by the watermark horizon."""
    from access_log_parser_spark.sources.text import explode_lines
    from access_log_parser_spark.streaming import dedup_replays_within_watermark

    pages_dir = str(tmp_path / "pages_dup")
    out_dir = str(tmp_path / "out_dedup")
    ckpt = str(tmp_path / "ckpt_dedup")

    pages = synth_pages(spark, 10, 5, 5)
    # simulate at-least-once redelivery: every page shipped twice
    pages.write.mode("overwrite").parquet(pages_dir)
    pages.write.mode("append").parquet(pages_dir)

    stream = spark.readStream.schema(pages.schema).parquet(pages_dir)
    lines = explode_lines(stream, text_col="text", source_col="url", keep=("warc_ts",))
    deduped = dedup_replays_within_watermark(lines)
    (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    out = spark.read.parquet(out_dir)
    assert out.count() == 10 * 5  # every (source, line_no) exactly once
    assert out.groupBy("source", "line_no").count().filter("count > 1").count() == 0


def test_paragraph_dedup_stream_state_metrics(spark, tmp_path):
    """The streaming paragraph dedup surfaces per-batch stateOperators
    metrics (state rows/bytes) and commits them to the pipeline manifest
    — the 100-TB state-growth dial (round-2 VERDICT item #8)."""
    import json
    import os

    from access_log_parser_spark.sinks import manifest_dir
    from access_log_parser_spark.streaming.stream import run_paragraph_dedup_stream

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synth_pages(spark, 10, 5, 5)
    pages.write.mode("overwrite").parquet(pages_dir)

    metrics = run_paragraph_dedup_stream(
        spark, pages_dir, pages.schema, out_dir, ckpt
    )
    assert metrics, "availableNow run must report at least one batch"
    for m in metrics:
        assert m["operator"] == "dedupeWithinWatermark"
        assert m["state_rows"] >= 1
        assert m["state_bytes"] > 0

    # the metrics are durably committed next to the data they describe
    mpath = os.path.join(manifest_dir(out_dir), "stream_paragraph_dedup.json")
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["state_metrics"] == metrics
    assert manifest["n_batches"] >= 1

    # and the deduped output is the distinct-digest set
    out = spark.read.parquet(out_dir)
    assert out.count() == out.select("digest").distinct().count()


def test_routed_stream_carries_event_time(spark, tmp_path):
    """routed_stream parses whole pages in one stage and carries each
    page's warc_ts onto its lines, with no (source, line_no) join back."""
    from access_log_parser_spark.streaming import routed_stream

    pages_dir = str(tmp_path / "pages_rs")
    pages = synth_pages(spark, 10, 5, 5)
    pages.write.mode("overwrite").parquet(pages_dir)
    stream = routed_stream(spark, pages_dir, pages.schema, fmt="s3")
    out_dir, ckpt = str(tmp_path / "out_rs"), str(tmp_path / "ckpt_rs")
    (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out_dir)
    assert got.count() == 50
    want = {r.url: r.warc_ts for r in pages.select("url", "warc_ts").collect()}
    assert {r.source: r.warc_ts for r in got.select("source", "warc_ts").collect()} == want
