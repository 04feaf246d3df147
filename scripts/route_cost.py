"""Python cost of the routed per-line core, without Spark.

    python scripts/route_cost.py [--format {s3,ltsv}] [--distinct-labels]
        [--lines N] [--handler H ...] [--prefix] [--labels A,B,...]
        [--line-number] [--filter EXPR ...] [--profile]

Routes N lines through ``_RouteSpec.build(format, opt).compile().route``
in 10k-line batches, the way one ``parse_routed`` task does. The ``s3``
corpus is the golden S3 lines (``functions.corpus``, laid out as
``pages.synth_pages`` does: 20-line pages, 1 line in 5 the truncated,
unmatchable line). The ``ltsv`` corpus is the golden LTSV lines T1-T5
(``tests/golden_ltsv.py``) laid out as ``perfbench/gen.py`` lays out
``ltsv_pipeline``: pages of 16-24 lines, each line one of the six invalid
lines with chance 1 in 6 and otherwise one of T1-T5, drawn from a seeded
``random.Random``. Its valid lines come from two label tuples, so each
batch builds two routes; ``--distinct-labels`` appends the line's index to
its first label, so that every line has its own label tuple and its own
route, the LTSV router's worst case. A handler
that reads ``isFirst`` (``tsv``) gets each page's url as its input key.
No Spark session is started. Each ``--handler`` gets one warm-up run and
5 timed runs; the single output line is JSON with the min and median
seconds per run and the median microseconds per line, per handler.
``--labels``, ``--line-number`` and ``--filter`` set the Options the
router compiles into each pattern's route (filters on this corpus: e.g.
``"http_status == 200"``). ``--profile`` adds one cProfile'd run per
handler, its self time split into buckets by function: ``handler``
(``handlers.py``), ``search`` (``decoders.py`` and the ``re.Pattern``
match calls), ``route`` (``engine.py``: the router's loop),
``arrow`` (the router's ``pa.array`` calls) and ``other``. A C
function's self time goes to the bucket of its caller, so ``str.join``
inside a row function counts as ``handler``; the buckets sum to the
profiled run's total. cProfile does not see into pyarrow's Cython
functions, so the profiled run routes through a ``pyarrow`` stand-in
whose ``array`` is a Python frame. cProfile inflates that total, so compare buckets
within one profile. Run from the repository root.
"""

from __future__ import annotations

import argparse
import cProfile
import importlib.util
import json
import os
import random
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402

from access_log_parser_spark import Option, engine  # noqa: E402
from access_log_parser_spark.engine import _RouteSpec  # noqa: E402
from access_log_parser_spark.functions.corpus import (  # noqa: E402
    GOLDEN_S3_LINES,
    GOLDEN_S3_TRUNC_LINE,
)

BATCH = 10_000
PAGE = 20
LTSV_PAGE = (16, 24)  # inclusive range, as perfbench/gen.py
LTSV_SEED = 7
RUNS = 5
BUCKETS = ("handler", "search", "route", "arrow", "other")
_SEARCH_CALLS = {
    f"<method '{m}' of 're.Pattern' objects>" for m in ("search", "match", "fullmatch")
}


def corpus(n: int) -> tuple[list[str], list[int], list[str]]:
    """(raws, line_nos, urls) of ``n`` S3 lines: line j of page p is
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


def ltsv_corpus(n: int, distinct_labels: bool) -> tuple[list[str], list[int], list[str]]:
    """(raws, line_nos, urls) of ``n`` LTSV lines, paged and drawn as
    ``perfbench/gen.py`` draws ``ltsv_pipeline``; with ``distinct_labels``
    line i's first label ends in ``i``."""
    path = os.path.join(ROOT, "tests", "golden_ltsv.py")
    spec = importlib.util.spec_from_file_location("route_cost_golden_ltsv", path)
    g = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(g)
    valid = [g.T1, g.T2, g.T3, g.T4, g.T5]
    invalid = [g.T4_BAD, g.AU1, g.AU2, g.AU3, g.AU4, g.AU5]
    rng = random.Random(LTSV_SEED)
    raws, line_nos, urls = [], [], []
    p = 0
    while len(raws) < n:
        for no in range(1, rng.randint(*LTSV_PAGE) + 1):
            line = rng.choice(invalid) if rng.randrange(6) == 0 else rng.choice(valid)
            if distinct_labels:
                label, sep, rest = line.partition(":")
                line = f"{label}{len(raws)}{sep}{rest}"
            raws.append(line)
            line_nos.append(no)
            urls.append(f"https://host/page/{p}")
        p += 1
    return raws[:n], line_nos[:n], urls[:n]


def route_once(spec: _RouteSpec, raws, line_nos, keys) -> float:
    """Seconds to route every batch through one task's router."""
    start = time.perf_counter()
    router = spec.compile()
    for lo in range(0, len(raws), BATCH):
        hi = lo + BATCH
        router.route(raws[lo:hi], line_nos[lo:hi], keys[lo:hi])
    return time.perf_counter() - start


def _pa_array(*args, **kwargs):
    """``pa.array`` as a Python frame, for the profile's ``arrow`` bucket."""
    return pa.array(*args, **kwargs)


class _ProfiledArrow:
    """``pyarrow`` for the profiled run: ``array`` is :func:`_pa_array`."""

    array = staticmethod(_pa_array)

    def __getattr__(self, name: str):
        return getattr(pa, name)


def _bucket(func: tuple[str, int, str]) -> str | None:
    """Bucket of a profiled function; None for a C function outside the
    named ones, whose self time belongs to its caller."""
    path, _, name = func
    if name == "_pa_array":
        return "arrow"
    if path.endswith("handlers.py"):
        return "handler"
    if path.endswith("decoders.py") or name in _SEARCH_CALLS:
        return "search"
    if path.endswith("engine.py"):
        return "route"
    return None if path == "~" else "other"


def profile_buckets(spec: _RouteSpec, raws, line_nos, keys) -> dict[str, float]:
    """Self seconds per bucket of one cProfile'd :func:`route_once`."""
    prof = cProfile.Profile()
    engine.pa = _ProfiledArrow()
    try:
        prof.runcall(route_once, spec, raws, line_nos, keys)
    finally:
        engine.pa = pa
    prof.create_stats()
    buckets = dict.fromkeys(BUCKETS, 0.0)
    for func, (_, _, self_s, _, callers) in prof.stats.items():
        bucket = _bucket(func)
        if bucket is not None or not callers:
            buckets[bucket or "other"] += self_s
            continue
        # a C function: its self time under each caller goes to that caller
        for caller, (_, _, caller_s, _) in callers.items():
            buckets[_bucket(caller) or "other"] += caller_s
    total = sum(buckets.values())
    return {"total_s": round(total, 4), **{k: round(v, 4) for k, v in buckets.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--format", choices=("s3", "ltsv"), default="s3", help="corpus and format")
    ap.add_argument(
        "--distinct-labels", action="store_true", help="ltsv: one label tuple per line"
    )
    ap.add_argument("--lines", type=int, default=200_000, help="lines routed per run")
    ap.add_argument("--handler", action="append", help="line handler (repeatable; default json)")
    ap.add_argument("--prefix", action="store_true", help="Option(prefix=True, color=False)")
    ap.add_argument("--labels", default="", help="Option(labels=...), comma-separated")
    ap.add_argument("--line-number", action="store_true", help="Option(line_number=True)")
    ap.add_argument(
        "--filter", action="append", default=[], help="Option(filters=...) expression (repeatable)"
    )
    ap.add_argument("--profile", action="store_true", help="add one profiled run's buckets")
    args = ap.parse_args(argv)
    if args.distinct_labels and args.format != "ltsv":
        ap.error("--distinct-labels needs --format ltsv")

    if args.format == "ltsv":
        raws, line_nos, urls = ltsv_corpus(args.lines, args.distinct_labels)
    else:
        raws, line_nos, urls = corpus(args.lines)
    labels = tuple(x for x in args.labels.split(",") if x)
    results = {}
    for handler in args.handler or ["json"]:
        opt = Option(
            line_handler=handler,
            prefix=args.prefix,
            color=False,
            labels=labels,
            line_number=args.line_number,
            filters=tuple(args.filter),
        )
        spec = _RouteSpec.build(args.format, opt)
        keys = urls if spec.reads_first else [None] * len(raws)
        route_once(spec, raws, line_nos, keys)  # warm-up
        times = [route_once(spec, raws, line_nos, keys) for _ in range(RUNS)]
        median = statistics.median(times)
        results[handler] = {
            "min_s": round(min(times), 4),
            "median_s": round(median, 4),
            "us_per_line": round(median / args.lines * 1e6, 3),
        }
        if args.profile:
            results[handler]["profile"] = profile_buckets(spec, raws, line_nos, keys)
    summary = {
        "format": args.format,
        "distinct_labels": args.distinct_labels,
        "lines": args.lines,
        "batch": BATCH,
        "runs": RUNS,
        "prefix": args.prefix,
        "labels": list(labels),
        "line_number": args.line_number,
        "filters": args.filter,
    }
    print(json.dumps({**summary, "handlers": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
