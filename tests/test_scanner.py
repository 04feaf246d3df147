"""Line scanner parity with Go's ``bufio.ScanLines`` (parser_core.go:190-201).

``ScanLines`` cuts a token at every ``\\n`` and drops one trailing ``\\r``
from each token, the unterminated last one included. ``explode_lines``
(Catalyst, every text source) and ``ziparchive._scan_lines`` (Python, zip
entries) must both reproduce it; ``_scan_lines`` is the oracle for the fuzz.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from access_log_parser_spark import LTSVParser, Option
from access_log_parser_spark.sources.text import docs_from_string, explode_lines
from access_log_parser_spark.sources.ziparchive import _scan_lines

# input -> the reference's tokens
GOLDEN = [
    ("a\nb\r", ["a", "b"]),
    ("\r", [""]),
    ("a\r\r\n", ["a\r"]),
    ("\n", [""]),
    ("\r\n", [""]),
    ("a\n\r\n", ["a", ""]),
    ("a\r\nb\r\n\r\n", ["a", "b", ""]),
    ("é\r\nü", ["é", "ü"]),
    ("", []),
]


@pytest.mark.parametrize("text,expected", GOLDEN, ids=[repr(t) for t, _ in GOLDEN])
def test_scan_lines_golden(text, expected):
    assert _scan_lines(text) == expected


@pytest.mark.parametrize("text,expected", GOLDEN, ids=[repr(t) for t, _ in GOLDEN])
def test_lines_from_string_golden(spark, text, expected):
    lines = explode_lines(docs_from_string(spark, text, source="s"), source_col="source")
    rows = lines.orderBy("line_no").collect()
    assert [(r.source, r.line_no, r.raw) for r in rows] == [
        ("s", i + 1, ln) for i, ln in enumerate(expected)
    ]


def test_ltsv_last_line_drops_cr(spark):
    """The unterminated last line loses its ``\\r`` too, so its status is
    ``200`` and the filter keeps it."""
    out, r = LTSVParser(spark, Option(filters=("status == 200",))).parse_string(
        "host:a\tstatus:200\r\nhost:b\tstatus:200\r"
    )
    assert r.counters() == (2, 2, 0, 0, 0)
    assert out == ['{"host":"a","status":"200"}', '{"host":"b","status":"200"}']


def test_explode_keeps_schema_and_skips_empty_docs(spark):
    df = spark.createDataFrame(
        [("u1", "x\ny", 7), ("u2", "", 8), ("u3", None, 9)],
        "url string, text string, k int",
    )
    out = explode_lines(df, keep=("k",))
    assert out.schema.simpleString() == "struct<source:string,line_no:bigint,raw:string,k:int>"
    assert [tuple(r) for r in out.orderBy("line_no").collect()] == [
        ("u1", 1, "x", 7),
        ("u1", 2, "y", 7),
    ]


def _preorder_end(nodes: list[dict], i: int) -> int:
    """Index just past the subtree rooted at ``nodes[i]`` in a pre-order
    flattened expression (Catalyst's ``toJSON`` layout)."""
    pending = 1
    while pending:
        pending += nodes[i]["num-children"] - 1
        i += 1
    return i


def _expression_lists(x):
    """Every pre-order flattened expression list in a plan's JSON."""
    if isinstance(x, list):
        if x and all(isinstance(d, dict) and "num-children" in d for d in x):
            yield x
        for v in x:
            yield from _expression_lists(v)
    elif isinstance(x, dict):
        for v in x.values():
            yield from _expression_lists(v)


def test_explode_plan_has_no_regex(spark):
    """Pin the literal split: no regex expression anywhere in the optimized
    plan, and every split delimiter is one character that is not a regex
    metacharacter, so Java's ``String.split`` takes its no-regex fast path.
    A regex strip or split made this layer over 9x slower."""
    df = spark.createDataFrame([("u", "a\r\nb")], "url string, text string")
    plan = json.loads(explode_lines(df)._jdf.queryExecution().optimizedPlan().toJSON())
    splits = 0
    for nodes in _expression_lists(plan):
        for i, node in enumerate(nodes):
            cls = node["class"].rsplit(".", 1)[-1]
            assert "RegExp" not in cls and cls != "RLike", cls
            if cls == "StringSplit":
                splits += 1
                delim = nodes[_preorder_end(nodes, i + 1)]
                assert delim["class"].endswith(".Literal")
                assert len(delim["value"]) == 1
                assert delim["value"] not in ".$|()[{^?*+\\"
    assert splits == 1


def test_explode_matches_scan_lines_fuzz(spark):
    """Random texts over the characters that matter to the scanner: one
    DataFrame per example, compared row for row and by line number."""
    from hypothesis import given, settings, strategies as st

    texts = st.text(alphabet=["a", "é", "\t", " ", "\r", "\n"], max_size=12)

    @given(st.lists(texts, min_size=1, max_size=8))
    @settings(max_examples=60, deadline=None)
    def check(batch):
        # a JVM-side literal table: no Python worker per example
        rows = [
            F.struct(F.lit(str(i)).alias("url"), F.lit(t).alias("text"))
            for i, t in enumerate(batch)
        ]
        df = spark.range(1).select(F.inline(F.array(*rows)))
        got = sorted(
            (int(r.source), r.line_no, r.raw) for r in explode_lines(df).collect()
        )
        want = [
            (i, n + 1, ln)
            for i, t in enumerate(batch)
            for n, ln in enumerate(_scan_lines(t))
        ]
        assert got == want

    check()


def _literal_docs(spark, texts):
    """(url, text) rows as a JVM-side literal table: no Python worker to
    build it."""
    rows = [
        F.struct(F.lit(str(i)).alias("url"), F.lit(t).alias("text"))
        for i, t in enumerate(texts)
    ]
    return spark.range(1).select(F.inline(F.array(*rows)))


ROUTED_COLS = ("source", "line_no", "status", "pattern_id", "out_line", "raw")


def test_parse_documents_matches_explode_then_parse_routed_fuzz(spark):
    """``parse_documents`` is ``explode_lines`` -> ``parse_routed`` row for
    row, on random texts over the scanner's characters mixed with LTSV and
    S3 golden lines, for both decoders. Every url is unique, so a document
    and a source are the same input and the handlers that read ``isFirst``
    (``tsv`` and one that prints it) must agree too."""
    import golden_ltsv as gl
    import golden_s3 as gs
    from hypothesis import given, settings, strategies as st

    from access_log_parser_spark import parse_documents, parse_routed

    tokens = st.sampled_from(
        ["a", "é", "\t", " ", "\r", "\n", gl.T1, gl.T4, gl.T4_BAD, gl.AU2,
         gs.L1, gs.L3, gs.L5, gs.L4_TRUNC]
    )
    texts = st.lists(tokens, max_size=10).map("".join)

    def flag(labels, values, is_first):
        return f"{is_first}|" + "|".join(values)

    opts = [
        Option(line_number=True, unmatch_lines=True, line_handler=h)
        for h in ("json", "tsv", flag)
    ]

    @given(st.lists(texts, min_size=1, max_size=8))
    @settings(max_examples=25, deadline=None)
    def check(batch):
        docs = _literal_docs(spark, batch)
        lines = explode_lines(docs)
        for fmt in ("ltsv", "s3"):
            for opt in opts:
                got = parse_documents(docs, fmt, opt).select(*ROUTED_COLS).collect()
                want = parse_routed(lines, fmt, opt).select(*ROUTED_COLS).collect()
                assert sorted(map(tuple, got)) == sorted(map(tuple, want)), (fmt, opt)

    check()


def test_custom_handler_is_first_once_per_document(spark):
    """The reference passes ``isFirst`` True to the handler for the first
    line of each input that reaches it (parser_core.go:182,245):
    ``parse_documents`` does per document, even when two share a url;
    ``parse_routed`` does per source."""
    from access_log_parser_spark import parse_documents, parse_routed

    def handler(labels, values, is_first):
        return f"{is_first}|{values[0]}"

    docs = spark.createDataFrame(
        [
            ("u1", "bad\nk:1\nk:2\nk:3"),
            ("u2", "k:4\nbad\nk:5"),
            ("u3", "bad\nbad"),
            ("dup", "k:6\nk:7"),
            ("dup", "bad\nk:8"),
        ],
        "url string, text string",
    )
    opt = Option(line_handler=handler, skip_lines=[1])
    got = sorted(
        (r.source, r.line_no, r.out_line)
        for r in parse_documents(docs, "ltsv", opt).filter("status = 'matched'").collect()
    )
    assert got == [
        ("dup", 2, "True|7"),
        ("dup", 2, "True|8"),
        ("u1", 2, "True|1"),
        ("u1", 3, "False|2"),
        ("u1", 4, "False|3"),
        ("u2", 3, "True|5"),
    ]
    # the two "dup" pages are one source, so exactly one of their tied
    # line-2 rows is first
    routed = parse_routed(explode_lines(docs), "ltsv", opt)
    got = sorted(
        (r.source, r.line_no, r.out_line.split("|")[0])
        for r in routed.filter("status = 'matched'").collect()
    )
    assert got == [
        ("dup", 2, "False"),
        ("dup", 2, "True"),
        ("u1", 2, "True"),
        ("u1", 3, "False"),
        ("u1", 4, "False"),
        ("u2", 3, "True"),
    ]


def test_is_first_carries_across_arrow_batches(spark):
    """One line or document per Arrow batch: the last key that reached the
    handler carries over, so an input that spans batches is first once,
    and each one-document batch is first."""
    from access_log_parser_spark import parse_documents, parse_routed

    def handler(labels, values, is_first):
        return f"{is_first}|{values[0]}"

    opt = Option(line_handler=handler)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        docs = spark.createDataFrame(
            [("u", "k:1"), ("u", "k:2"), ("u", "k:3\nk:4\nk:5")],
            "url string, text string",
        ).coalesce(1)
        got = sorted(r.out_line for r in parse_documents(docs, "ltsv", opt).collect())
        assert got == ["False|4", "False|5", "True|1", "True|2", "True|3"]
        lines = spark.createDataFrame(
            [("s", n, f"k:{n}") for n in range(1, 8)],
            "source string, line_no long, raw string",
        ).coalesce(1)
        got = sorted(r.out_line for r in parse_routed(lines, "ltsv", opt).collect())
        assert got == ["False|2", "False|3", "False|4", "False|5", "False|6", "False|7", "True|1"]
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("size", [1, 2, 3, 7, 0])
def test_line_chunks_bound_output_batches(size):
    """``parse_documents`` routes and yields at most ``size`` lines at a
    time, so a long document never builds one unbounded output batch; the
    chunks concatenate to the documents' scanned lines in order."""
    from access_log_parser_spark.engine import _line_chunks

    texts = ["a\nb\nc\nd\ne\n", "", "f", "g\r\nh\n\ni", "\n"]
    chunks = list(_line_chunks(texts, size))
    if size > 0:
        assert all(0 < len(raws) <= size for _, _, raws in chunks)
        assert all(len(raws) == size for _, _, raws in chunks[:-1])
    else:
        assert len(chunks) == 1
    flat = [
        (d, n, r)
        for doc_ids, line_nos, raws in chunks
        for d, n, r in zip(doc_ids, line_nos, raws, strict=True)
    ]
    assert flat == [
        (d, n, r)
        for d, text in enumerate(texts)
        for n, r in enumerate(_scan_lines(text), start=1)
    ]
