"""Result.String() golden tests, transliterated from
/root/reference/parser_result_test.go:12-325 (cases: basic, file, all/zip,
stream) plus Go-duration formatting unit checks."""

from access_log_parser_spark.functions.textreport import fold, go_duration, render_result
from access_log_parser_spark.metrics import ParseError, Result

SUM_NOTES = (
    "\n"
    "Total     : Total number of log line processed\n"
    "Matched   : Number of log line that successfully matched pattern\n"
    "Unmatched : Number of log line that did not match any pattern\n"
    "Excluded  : Number of log line that did not extract by filter expressions\n"
    "Skipped   : Number of log line that skipped by line number\n"
)
ERR_NOTES = (
    "\n"
    "LineNumber : Line number of the log that did not match any pattern\n"
    "Line       : Raw log line that did not match any pattern\n"
)


def test_go_duration():
    assert go_duration(3600) == "1h0m0s"
    assert go_duration(0) == "0s"
    assert go_duration(1.5) == "1.5s"
    assert go_duration(90) == "1m30s"
    assert go_duration(0.5) == "500ms"
    assert go_duration(0.0000015) == "1.5µs"
    assert go_duration(61.25) == "1m1.25s"
    assert go_duration(3661) == "1h1m1s"


def test_fold():
    assert fold("a" * 120, 94) == "a" * 94 + "\n" + "a" * 26
    assert fold("a" * 20, 18) == "a" * 18 + "\n" + "aa"
    assert fold("abc", 18) == "abc"


def test_report_basic_string():
    # parser_result_test.go "basic"
    r = Result(total=1, matched=1, elapsed_time=3600, input_type="string")
    want = (
        "\n/* SUMMARY */\n\n"
        "+-------+---------+-----------+----------+---------+-------------+\n"
        "| Total | Matched | Unmatched | Excluded | Skipped | ElapsedTime |\n"
        "+-------+---------+-----------+----------+---------+-------------+\n"
        "|     1 |       1 |         0 |        0 |       0 | 1h0m0s      |\n"
        "+-------+---------+-----------+----------+---------+-------------+\n"
        + SUM_NOTES
    )
    assert r.report() == want


def test_report_file():
    # parser_result_test.go "file"
    r = Result(total=1, matched=1, elapsed_time=3600, source="test.txt",
               input_type="file")
    out = r.report()
    assert (
        "+-------+---------+-----------+----------+---------+-------------+----------+\n"
        "| Total | Matched | Unmatched | Excluded | Skipped | ElapsedTime | Source   |\n"
        in out
    )
    assert "|     1 |       1 |         0 |        0 |       0 | 1h0m0s      | test.txt |" in out


def test_report_zip_with_errors_and_truncation():
    # parser_result_test.go "all": zip, 12 errors -> top 10 + omit notice,
    # multi-line ZipEntries cell, folded Entry (18) and Line (94)
    errors = [
        ParseError("2.log", 2, "a" * 120),
        ParseError("a" * 20, 3, "aaa"),
        ParseError("2.log", 4, "aaa"),
        ParseError("2.log", 5, "aaa"),
        ParseError("2.log", 6, "aaa"),
        ParseError("2.log", 7, "aaa"),
        ParseError("3.log", 2, "bbb"),
        ParseError("3.log", 3, "bbb"),
        ParseError("3.log", 4, "bbb"),
        ParseError("3.log", 5, "bbb"),
        ParseError("3.log", 6, "bbb"),
        ParseError("3.log", 7, "bbb"),
    ]
    r = Result(total=13, matched=1, unmatched=12, elapsed_time=3600,
               source="123.zip", zip_entries=["1.log", "2.log", "3.log"],
               errors=errors, input_type="zip")
    out = r.report()
    assert (
        "|    13 |       1 |        12 |        0 |       0 | 1h0m0s      | 123.zip | 1.log      |\n"
        "|       |         |           |          |         |             |         | 2.log      |\n"
        "|       |         |           |          |         |             |         | 3.log      |\n"
        in out
    )
    assert "| 2.log              |          2 | " + "a" * 94 + " |\n" in out
    assert "|                    |            | " + "a" * 26 + " " * 68 + " |\n" in out
    assert "| aaaaaaaaaaaaaaaaaa |          3 | aaa" in out
    assert "// Show only the first 10 of 12 errors\n" in out
    # truncated: the 11th/12th errors (3.log line 6/7) must not appear
    assert "|          6 | bbb" not in out
    assert out.endswith(ERR_NOTES)


def test_report_stream_line_only_errors():
    # parser_result_test.go "stream": leading extra newline; errors table
    # shows only the Line column
    r = Result(total=2, matched=1, unmatched=1, elapsed_time=3600,
               errors=[ParseError("", 2, "aaa")], input_type="stream")
    out = r.report()
    assert out.startswith("\n\n/* SUMMARY */\n\n")
    assert "\n/* UNMATCH LINES */\n\n+------+\n| Line |\n+------+\n| aaa  |\n+------+\n" in out


def test_report_tab_escaped_in_line():
    r = Result(total=1, unmatched=1, elapsed_time=1,
               errors=[ParseError("", 1, "a\tb")], input_type="string")
    assert "a\\tb" in r.report()


def test_result_to_json_go_compatible():
    r = Result(total=5, matched=4, unmatched=1, elapsed_time=1.5,
               source="x.log", errors=[ParseError("", 4, "raw")],
               input_type="file")
    assert r.to_json() == (
        '{"total":5,"matched":4,"unmatched":1,"excluded":0,"skipped":0,'
        '"elapsedTime":1500000000,"source":"x.log",'
        '"errors":[{"lineNumber":4,"line":"raw"}]}'
    )
    z = Result(total=1, zip_entries=["a.log"], input_type="zip",
               errors=[ParseError("a.log", 1, "l")])
    assert '"zipEntries":["a.log"]' in z.to_json()
    assert '"entry":"a.log"' in z.to_json()


def test_collect_result_bounds_errors_and_keeps_exact_counters(spark):
    """Past MAX_ERRORS unmatched rows the driver collect stops at the
    bound (the first lines in (source, line_no) order); the counters are
    still exact. max_errors=None keeps every error (reference parity)."""
    from pyspark.sql import functions as F

    from access_log_parser_spark.decoders import MATCHED, UNMATCHED
    from access_log_parser_spark.metrics import MAX_ERRORS, collect_result

    n = 2 * MAX_ERRORS + 10  # MAX_ERRORS + 5 unmatched rows
    routed = spark.range(n).select(
        F.lit("s").alias("source"),
        (F.col("id") + 1).alias("line_no"),
        F.lit("GARBAGE").alias("raw"),
        F.when(F.col("id") % 2 == 0, F.lit(UNMATCHED)).otherwise(F.lit(MATCHED)).alias("status"),
    )
    r = collect_result(routed)
    assert r.counters() == (n, MAX_ERRORS + 5, MAX_ERRORS + 5, 0, 0)
    assert len(r.errors) == MAX_ERRORS
    assert [e.line_number for e in r.errors[:3]] == [1, 3, 5]
    assert len(collect_result(routed, max_errors=None).errors) == MAX_ERRORS + 5
