"""Custom LineHandler injection (Option.LineHandler, parser_core.go:64,
README.md:110-123): a user-supplied Python callable replaces the
serializer — the engine's UDF surface."""

import golden_s3 as g
from access_log_parser_spark import Option, RegexParser, new_s3_parser


def test_custom_line_handler(spark):
    # defined inside the test so cloudpickle serializes it by value
    # (module-level test functions aren't importable on executors)
    def csv_handler(labels, values, is_first):
        return ";".join(values[: len(labels)])

    p = new_s3_parser(
        spark, Option(labels=["bucket", "method", "http_status"], line_handler=csv_handler)
    )
    out, r = p.parse_string(g.ALL_MATCH_INPUT)
    assert out[0] == "awsrandombucket43;GET;200"
    assert len(out) == 5
    assert r.counters() == (5, 5, 0, 0, 0)


def test_user_patterns_regex_parser(spark):
    # AddPatterns-style user pattern flow (parser_regex.go:91-100)
    p = RegexParser(spark, Option())
    p.add_pattern(r"^(?P<k>\w+)=(?P<v>\w+)$")
    out, r = p.parse_string("a=1\nbad line\nb=2")
    assert out == ['{"k":"a","v":"1"}', '{"k":"b","v":"2"}']
    assert r.counters() == (3, 2, 1, 0, 0)


def test_builtin_handler_passed_as_callable_keeps_tsv_header(spark):
    """Option(line_handler=handlers.tsv_line_handler) — the callable
    spelling of the built-in — must behave exactly like
    Option(line_handler="tsv"), including the first-matched-per-source
    TSV header row (the engine used to detect TSV by NAME only)."""
    from access_log_parser_spark import handlers

    by_name, _ = new_s3_parser(spark, Option(line_handler="tsv")).parse_string(
        g.ALL_MATCH_INPUT
    )
    by_fn, _ = new_s3_parser(
        spark, Option(line_handler=handlers.tsv_line_handler)
    ).parse_string(g.ALL_MATCH_INPUT)
    assert by_fn == by_name
    assert by_fn[0].startswith("bucket_owner\t")  # header present


def _flag_handler(calls):
    """A handler that prints the reference's ``isFirst`` and counts its
    calls in the accumulator ``calls``."""

    def handler(labels, values, is_first):
        calls.add(1)
        return f"{is_first}|{values[0]}"

    return handler


def test_parse_string_handler_sees_is_first_once_and_parses_once(spark):
    """The string is one input: the handler gets ``is_first=True`` on its
    first matched line only (parser_core.go:182,245), and the verb calls
    it once per matched line, not once per action it runs."""
    from access_log_parser_spark import LTSVParser

    calls = spark.sparkContext.accumulator(0)
    p = LTSVParser(spark, Option(line_handler=_flag_handler(calls)))
    out, r = p.parse_string("bad\nk:1\nk:2\nk:3")
    assert out == ["True|1", "False|2", "False|3"]
    assert r.counters() == (4, 3, 1, 0, 0)
    assert calls.value == r.matched


def test_parse_zip_entries_handler_sees_is_first_once_per_entry(spark, tmp_path):
    """Each zip entry is one input (parser_core.go:148); the entry list
    keeps the entries that yield at least one line."""
    import zipfile

    from access_log_parser_spark import LTSVParser

    path = tmp_path / "entries.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.log", "bad\nk:1\nk:2\n")
        z.writestr("b.log", "k:3\nbad\nk:4")
        z.writestr("c.log", "bad")
        z.writestr("d.log", "")
    calls = spark.sparkContext.accumulator(0)
    p = LTSVParser(spark, Option(line_handler=_flag_handler(calls)))
    out, r = p.parse_zip_entries(str(path))
    assert out == ["True|1", "False|2", "True|3", "False|4"]
    assert r.counters() == (7, 4, 3, 0, 0)
    assert r.zip_entries == ["a.log", "b.log", "c.log"]
    assert [(e.entry, e.line_number) for e in r.errors] == [
        ("a.log", 1), ("b.log", 2), ("c.log", 1)
    ]
    assert calls.value == r.matched


def test_parse_file_is_first_once_when_a_file_spans_output_batches(spark, tmp_path):
    """A file longer than Arrow's batch size is routed in several output
    batches and is still one input: ``is_first=True`` on its first line
    only."""
    from access_log_parser_spark import LTSVParser

    path = tmp_path / "long.log"
    path.write_text("".join(f"k:{n}\n" for n in range(1, 8)))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        calls = spark.sparkContext.accumulator(0)
        p = LTSVParser(spark, Option(line_handler=_flag_handler(calls)))
        out, r = p.parse_file(str(path))
    finally:
        spark.conf.set(key, old)
    assert out == ["True|1"] + [f"False|{n}" for n in range(2, 8)]
    assert calls.value == r.matched == 7


def test_parse_lines_handler_sees_is_first_per_source(spark):
    """The Parser's lines-in verb: each ``source`` is one input."""
    from access_log_parser_spark import LTSVParser

    lines = spark.createDataFrame(
        [("b", 2, "k:4"), ("a", 1, "k:1"), ("b", 1, "k:3"), ("a", 2, "k:2")],
        "source string, line_no long, raw string",
    ).repartition(2)
    calls = spark.sparkContext.accumulator(0)
    p = LTSVParser(spark, Option(line_handler=_flag_handler(calls)))
    got = sorted(
        (r.source, r.line_no, r.out_line) for r in p.parse_lines(lines).collect()
    )
    assert got == [
        ("a", 1, "True|1"), ("a", 2, "False|2"), ("b", 1, "True|3"), ("b", 2, "False|4")
    ]
