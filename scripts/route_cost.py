"""Python cost of the routed per-line core, without Spark.

    python scripts/route_cost.py [--lines N] [--handler H ...] [--prefix]

Routes N lines of the golden S3 corpus (``functions.corpus``, laid out as
``pages.synth_pages`` does: 20-line pages, 1 line in 5 the truncated,
unmatchable line) through ``_RouteSpec.build("s3", opt).compile().route``
in 10k-line batches, the way one ``parse_routed`` task does: a handler
that reads ``isFirst`` (``tsv``) gets each page's url as its input key.
No Spark session is started. Each ``--handler`` gets one warm-up run and
5 timed runs; the single output line is JSON with the min and median
seconds per run and the median microseconds per line, per handler.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from access_log_parser_spark import Option  # noqa: E402
from access_log_parser_spark.engine import _RouteSpec  # noqa: E402
from access_log_parser_spark.functions.corpus import (  # noqa: E402
    GOLDEN_S3_LINES,
    GOLDEN_S3_TRUNC_LINE,
)

BATCH = 10_000
PAGE = 20
RUNS = 5


def corpus(n: int) -> tuple[list[str], list[int], list[str]]:
    """(raws, line_nos, urls) of ``n`` lines: line j of page p is
    ``GOLDEN_S3_LINES[(p + j) % 5]``, or the truncated line when
    ``j % 5 == p % 5``."""
    raws, line_nos, urls = [], [], []
    for i in range(n):
        p, j = divmod(i, PAGE)
        trunc = j % 5 == p % 5
        raws.append(GOLDEN_S3_TRUNC_LINE if trunc else GOLDEN_S3_LINES[(p + j) % 5])
        line_nos.append(j + 1)
        urls.append(f"https://host/page/{p}")
    return raws, line_nos, urls


def route_once(spec: _RouteSpec, raws, line_nos, keys) -> float:
    """Seconds to route every batch through one task's router."""
    start = time.perf_counter()
    router = spec.compile()
    for lo in range(0, len(raws), BATCH):
        hi = lo + BATCH
        router.route(raws[lo:hi], line_nos[lo:hi], keys[lo:hi])
    return time.perf_counter() - start


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--lines", type=int, default=200_000, help="lines routed per run")
    ap.add_argument("--handler", action="append", help="line handler (repeatable; default json)")
    ap.add_argument("--prefix", action="store_true", help="Option(prefix=True, color=False)")
    args = ap.parse_args(argv)

    raws, line_nos, urls = corpus(args.lines)
    results = {}
    for handler in args.handler or ["json"]:
        opt = Option(line_handler=handler, prefix=args.prefix, color=False)
        spec = _RouteSpec.build("s3", opt)
        keys = urls if spec.reads_first else [None] * len(raws)
        route_once(spec, raws, line_nos, keys)  # warm-up
        times = [route_once(spec, raws, line_nos, keys) for _ in range(RUNS)]
        median = statistics.median(times)
        results[handler] = {
            "min_s": round(min(times), 4),
            "median_s": round(median, 4),
            "us_per_line": round(median / args.lines * 1e6, 3),
        }
    summary = {"lines": args.lines, "batch": BATCH, "runs": RUNS, "prefix": args.prefix}
    print(json.dumps({**summary, "handlers": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
