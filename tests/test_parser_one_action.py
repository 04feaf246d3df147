"""Every Parser verb is ONE Spark action: the routed rows are collected once
as an Arrow table, and the output, counters, errors and zip entries are
folded from it on the driver, with nothing persisted. Input order is
(source, line_no) with names compared as UTF-8 bytes, as Spark's
``orderBy`` compares strings."""

from __future__ import annotations

import gzip
import io
import zipfile

import pytest

import golden_s3 as g
from access_log_parser_spark import Option, new_s3_parser

# byte order a.log < z.log < é.log < ｚ.log < 😀.log; UTF-16 order would put
# 😀 (a surrogate pair) before ｚ (U+FF5A)
NAMES = ["😀.log", "z.log", "ｚ.log", "é.log", "a.log"]
BYTE_ORDER = sorted(NAMES, key=lambda s: s.encode("utf-8"))


def _entry_text(k: int) -> str:
    # matched, unmatched, matched: one output and one error per name, in
    # a different order of lines for each name
    lines = [g.L1, g.AU1, g.L5] if k % 2 else [g.L5, g.AU2, g.L1]
    return "\n".join(lines) + "\n"


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("one_action")
    (d / "all_match.log").write_text(g.ALL_MATCH_INPUT + "\n")
    with gzip.open(d / "all_match.log.gz", "wt") as f:
        f.write(g.ALL_MATCH_INPUT + "\n")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for k, name in enumerate(NAMES):
            z.writestr(name, _entry_text(k))
    (d / "names.zip").write_bytes(buf.getvalue())
    many = d / "many"
    many.mkdir()
    for k, name in enumerate(NAMES):
        (many / name).write_text(_entry_text(k))
    return d


def _verbs(d):
    return {
        "parse": lambda p: p.parse(io.StringIO(g.CONTAINS_UNMATCH_INPUT)),
        "parse_string": lambda p: p.parse_string(g.CONTAINS_UNMATCH_INPUT),
        "parse_string_empty": lambda p: p.parse_string(""),
        "parse_file": lambda p: p.parse_file(str(d / "all_match.log")),
        "parse_gzip": lambda p: p.parse_gzip(str(d / "all_match.log.gz")),
        "parse_zip_entries": lambda p: p.parse_zip_entries(str(d / "names.zip")),
    }


@pytest.mark.parametrize(
    "verb",
    ["parse", "parse_string", "parse_string_empty", "parse_file", "parse_gzip",
     "parse_zip_entries"],
)
def test_each_verb_is_one_job_and_persists_nothing(spark, inputs, verb):
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    p = new_s3_parser(spark)
    out, r = _verbs(inputs)[verb](p)
    if verb == "parse_string_empty":
        assert (out, r.counters(), r.errors, r.zip_entries) == ([], (0, 0, 0, 0, 0), [], [])
    else:
        assert r.check_invariant() and r.total > 0 and out
    assert len(sc.statusTracker().getJobIdsForGroup(p._job_group)) == 1
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def _expected(names_in_order):
    """Output and (entry, line_no) errors of the NAMES inputs in the given
    order of names."""
    out, errs = [], []
    for name in names_in_order:
        k = NAMES.index(name)
        first, last = (g.J1, g.J5) if k % 2 else (g.J5, g.J1)
        out += [first, last]
        errs.append((name, 2, g.AU1 if k % 2 else g.AU2))
    return out, errs


def test_zip_entries_order_by_utf8_bytes(spark, inputs):
    out, r = new_s3_parser(spark).parse_zip_entries(str(inputs / "names.zip"))
    want_out, want_errs = _expected(BYTE_ORDER)
    assert r.zip_entries == BYTE_ORDER
    assert out == want_out
    assert [(e.entry, e.line_number, e.line) for e in r.errors] == want_errs
    assert r.counters() == (15, 10, 5, 0, 0)


def test_parse_file_glob_orders_files_by_utf8_bytes(spark, inputs):
    out, r = new_s3_parser(spark).parse_file(str(inputs / "many" / "*.log"))
    want_out, want_errs = _expected(BYTE_ORDER)
    assert out == want_out
    # file errors carry no entry (parser_core.go:104-135)
    assert [(e.entry, e.line_number, e.line) for e in r.errors] == [
        ("", n, line) for _, n, line in want_errs
    ]
    assert r.zip_entries == []


def test_entry_with_only_excluded_or_skipped_lines_is_listed(spark, tmp_path):
    # line 1 of every entry is skipped; the filter excludes L1 and keeps L3
    path = tmp_path / "mixed.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a_skipped.log", g.L3 + "\n")
        z.writestr("b_excluded.log", g.L3 + "\n" + g.L1 + "\n")
        z.writestr("c_matched.log", g.L1 + "\n" + g.L3 + "\n")
    opt = Option(skip_lines=[1], filters=g.FILTERS)
    out, r = new_s3_parser(spark, opt).parse_zip_entries(str(path))
    assert r.zip_entries == ["a_skipped.log", "b_excluded.log", "c_matched.log"]
    assert r.counters() == (5, 1, 0, 1, 3)
    assert out == g.FILTER_DATA
    assert r.errors == []

