"""Seeded input generator and its sidecar of expected results.

Each workload's pages table ``(url, warc_ts, text, lang)`` is built from
the reference's golden log lines and written as parquet, one file per
input split. The sidecar holds what a correct run must produce: the
Observation counters, and per sink ``(status, pattern_id)`` the row count
plus an order-independent hash of the rows. Every expected value comes
from the golden fixtures' pinned serializations (``tests/golden_s3.py``,
``tests/golden_ltsv.py``), never from the engine under test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import json
import os
import random
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LANGS = {"en": "English", "de": "German", "fr": "French", "ja": "Japanese", "es": "Spanish"}
HOT_HOST = "hot.example.com"
LINES_PER_PAGE = (16, 24)  # inclusive range, ~20 lines per page
# Field counts of the S3 preset's fallback cascade (patterns.S3), in
# pattern_id order: a golden line's pinned JSON has exactly as many keys
# as the pattern that decodes it.
S3_FIELD_COUNTS = (28, 27, 26, 25, 20)
LTSV_FILTER = "status == 200"

# a NULL column is hashed as this marker
NULL = "\x00"


def _golden(name: str):
    path = os.path.join(ROOT, "tests", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def row_hash(values: Sequence[object]) -> int:
    """32-bit md5 prefix of the NULL-marked, 0x1f-joined row; the Spark
    side is :func:`perfbench.workloads.row_hash_col`. Summed per sink it
    is an order-independent multiset hash that fits a long."""
    s = "\x1f".join(NULL if v is None else str(v) for v in values)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


class _Sinks:
    """Expected per-sink row counts and hash sums."""

    def __init__(self) -> None:
        self.sinks: dict[str, dict[str, int]] = {}
        self.counters = dict(total=0, matched=0, unmatched=0, excluded=0, skipped=0)

    def add(self, status: str, pattern_id: int, hashed: Sequence[object]) -> None:
        s = self.sinks.setdefault(f"{status}/{pattern_id}", {"rows": 0, "hash": 0})
        s["rows"] += 1
        s["hash"] += row_hash(hashed)
        self.counters["total"] += 1
        self.counters[status] += 1


def _s3_templates(depth5_only: bool):
    g = _golden("golden_s3")
    lines = [g.L1, g.L2, g.L3, g.L4_FULL, g.L5]
    outs = [g.J1, g.J2, g.J3, g.J4, g.J5]
    pids = [S3_FIELD_COUNTS.index(len(json.loads(j))) for j in outs]
    tmpl = [(line, out, pid) for line, out, pid in zip(lines, outs, pids)]
    if depth5_only:
        tmpl = [t for t in tmpl if t[2] == len(S3_FIELD_COUNTS) - 1]
    return tmpl, g.L4_TRUNC


def _ltsv_templates():
    g = _golden("golden_ltsv")
    valid = []
    for line, out in zip([g.T1, g.T2, g.T3, g.T4, g.T5], g.ALL_MATCH_DATA):
        rec = json.loads(out)
        valid.append((line, list(rec), list(rec.values())))
    invalid = [g.T4_BAD, g.AU1, g.AU2, g.AU3, g.AU4, g.AU5]
    return valid, invalid


def _page_meta(rng: random.Random, i: int) -> tuple[str, dt.datetime, str]:
    # one hot host takes half the pages, the rest spread over 97 cold hosts
    host = HOT_HOST if rng.random() < 0.5 else f"host-{rng.randrange(97)}.example.org"
    ts = dt.datetime(2019, 2, 16, tzinfo=dt.timezone.utc) + dt.timedelta(
        seconds=rng.randrange(86400)
    )
    return f"https://{host}/page/{i}", ts, rng.choice(sorted(LANGS))


def _gen_s3_route(rng: random.Random, n_pages: int):
    tmpl, trunc = _s3_templates(depth5_only=False)
    exp = _Sinks()
    pages = []
    for i in range(n_pages):
        url, ts, lang = _page_meta(rng, i)
        lines = []
        for no in range(1, rng.randint(*LINES_PER_PAGE) + 1):
            if rng.randrange(5) == 0:
                lines.append(trunc)
                exp.add("unmatched", -1, (url, no, None, trunc))
            else:
                line, out, pid = rng.choice(tmpl)
                lines.append(line)
                exp.add("matched", pid, (url, no, out, None))
        pages.append((url, ts, "\n".join(lines), lang))
    return pages, {"counters": exp.counters, "sinks": exp.sinks}


def _gen_s3_cascade_agg(rng: random.Random, n_pages: int):
    tmpl, trunc = _s3_templates(depth5_only=True)
    groups: dict[str, list] = {}
    counters = dict(total=0, matched=0, unmatched=0, excluded=0, skipped=0)
    pages = []
    for i in range(n_pages):
        url, ts, lang = _page_meta(rng, i)
        lines = []
        for _ in range(rng.randint(*LINES_PER_PAGE)):
            counters["total"] += 1
            if rng.randrange(5) == 0:
                lines.append(trunc)
                counters["unmatched"] += 1
                groups.setdefault("-1/None", [0, None, None])[0] += 1
            else:
                line, out, pid = rng.choice(tmpl)
                lines.append(line)
                counters["matched"] += 1
                rec = json.loads(out)
                g = groups.setdefault(f"{pid}/{rec['http_status']}", [0, 0, 0])
                g[0] += 1
                g[1] += int(rec["bytes_sent"])
                g[2] += int(rec["total_time"])
        pages.append((url, ts, "\n".join(lines), lang))
    return pages, {"counters": counters, "groups": groups}


def _gen_ltsv_pipeline(rng: random.Random, n_pages: int):
    valid, invalid = _ltsv_templates()
    label, value = LTSV_FILTER.split(" == ")
    exp = _Sinks()
    pages = []
    for i in range(n_pages):
        url, ts, lang = _page_meta(rng, i)
        lang_name = LANGS[lang]  # the enrich lookup's column
        lines = []
        first_matched = True
        for no in range(1, rng.randint(*LINES_PER_PAGE) + 1):
            if rng.randrange(6) == 0:
                line = rng.choice(invalid)
                lines.append(line)
                exp.add("unmatched", -1, (url, no, None, line, lang_name))
                continue
            line, labels, values = rng.choice(valid)
            lines.append(line)
            if values[labels.index(label)] != value:
                exp.add("excluded", 0, (url, no, None, None, lang_name))
                continue
            # tsv handler: values, "-" for empty; the first matched line of
            # a page carries the header row
            out = "\t".join(v or "-" for v in values)
            if first_matched:
                out = "\t".join(labels) + "\n" + out
                first_matched = False
            exp.add("matched", 0, (url, no, out, None, lang_name))
        pages.append((url, ts, "\n".join(lines), lang))
    return pages, {"counters": exp.counters, "sinks": exp.sinks}


GENERATORS = {
    "s3_route": _gen_s3_route,
    "s3_cascade_agg": _gen_s3_cascade_agg,
    "ltsv_pipeline": _gen_ltsv_pipeline,
}

_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def generate(workload: str, seed: int, n_pages: int, n_files: int, out_dir: str) -> dict:
    """Write ``n_pages`` pages of ``workload`` as ``n_files`` parquet files
    under ``out_dir/pages`` and the sidecar as ``out_dir/expected.json``;
    returns the sidecar. The same seed gives the same files."""
    pages, expected = GENERATORS[workload](random.Random(seed), n_pages)
    pages_dir = os.path.join(out_dir, "pages")
    os.makedirs(pages_dir, exist_ok=True)
    # one file per input split: a single file would run decode on one core
    for f in range(n_files):
        part = pages[f::n_files]
        table = pa.Table.from_arrays(
            [pa.array([p[k] for p in part], type=_SCHEMA.field(k).type) for k in range(4)],
            schema=_SCHEMA,
        )
        pq.write_table(table, os.path.join(pages_dir, f"part-{f:05d}.parquet"))
    sidecar = {"workload": workload, "seed": seed, "pages": n_pages, **expected}
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(sidecar, fh)
    return sidecar
