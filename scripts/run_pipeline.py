"""spark-submit entry point for the parse->enrich->route->aggregate pipeline.

Cluster usage (north_rule: multi-executor, resumable, salted/AQE):

    spark-submit --py-files alp.zip scripts/run_pipeline.py \
        --pages /data/pages_parquet --out file:///shared/sinks \
        --format s3 --batches 64 --resume

``--out`` must be a ``file:`` path every executor and the driver share:
the driver keeps the manifests and reads the part-file footers there.

Local demo (synthesizes a deterministic pages corpus first):

    python scripts/run_pipeline.py --synth 1000 --out /tmp/alp_out

Build alp.zip with:  cd <repo> && zip -r alp.zip access_log_parser_spark
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="pages parquet dir (url, warc_ts, html, text, lang)")
    ap.add_argument("--synth", type=int, default=0, help="synthesize N pages instead")
    ap.add_argument("--out", required=True)
    ap.add_argument("--format", default="s3", dest="fmt")
    ap.add_argument("--filters", nargs="*", default=[])
    ap.add_argument("--labels", nargs="*", default=[])
    ap.add_argument("--skip-lines", nargs="*", type=int, default=[])
    ap.add_argument("--handler", default="json")
    ap.add_argument("--batches", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--curate", action="store_true",
        help="after routing, run the training-data curation pass "
             "(quality -> repetition -> PII scrub -> paragraph + exact "
             "dedup -> shards) over the pages corpus",
    )
    args = ap.parse_args()

    from access_log_parser_spark import Option
    from access_log_parser_spark.pages import synth_pages
    from access_log_parser_spark.pipeline import run_pipeline
    from access_log_parser_spark.session import get_spark

    spark = get_spark(app_name="alp-pipeline", master=args.master)
    if args.synth:
        pages = synth_pages(spark, args.synth)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        ap.error("one of --pages / --synth is required")

    lang_map = spark.createDataFrame(
        [("en", "English"), ("de", "German"), ("fr", "French"),
         ("ja", "Japanese"), ("es", "Spanish")],
        "lang string, lang_name string",
    )
    opt = Option(
        labels=args.labels,
        filters=args.filters,
        skip_lines=args.skip_lines,
        line_handler=args.handler,
    )
    report = run_pipeline(
        spark, pages, args.out, fmt=args.fmt, opt=opt,
        lookups={"lang": (lang_map, "lang")},
        n_batches=args.batches, resume=args.resume,
    )
    out = {
        "counters": dict(
            zip(
                ("total", "matched", "unmatched", "excluded", "skipped"),
                report.result.counters(),
            )
        ),
        "batches_run": report.batches_run,
        "batches_skipped": report.batches_skipped,
        "elapsed_sec": round(report.result.elapsed_time, 3),
        "invariant_ok": report.result.check_invariant(),
        "cpus": sorted(os.sched_getaffinity(0)),
    }
    if args.curate:
        from access_log_parser_spark.pipeline import curate_corpus

        # the synthetic pages' text is log lines, not prose: the
        # prose-tuned quality/repetition gates would drop everything, so
        # the demo disables them and exercises PII scrub + both dedups +
        # sharding; real crawl corpora use the API defaults
        _, stats = curate_corpus(
            pages, quality_min=0.0, rep_max=1.0,
            shard_dir=args.out + "/curated_shards",
        )
        out["curation"] = stats
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
