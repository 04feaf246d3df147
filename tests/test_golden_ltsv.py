"""End-to-end LTSV golden tests, transliterated from
/root/reference/parser_core_test.go (Test_parse* "ltsv:" cases, :278-431)."""

import golden_ltsv as g
from access_log_parser_spark import LTSVParser, Option


def test_all_match(spark):
    out, r = LTSVParser(spark).parse_string(g.ALL_MATCH_INPUT)
    assert out == g.ALL_MATCH_DATA
    assert r.counters() == (5, 5, 0, 0, 0)


def test_contains_unmatch_with_line_number(spark):
    p = LTSVParser(spark, Option(line_number=True))
    out, r = p.parse_string(g.CONTAINS_UNMATCH_INPUT)
    assert out == g.CONTAINS_UNMATCH_DATA
    assert r.counters() == (5, 4, 1, 0, 0)
    assert [e.line_number for e in r.errors] == [4]
    assert r.errors[0].line == g.T4_BAD


def test_filter(spark):
    p = LTSVParser(spark, Option(filters=g.FILTERS))
    out, r = p.parse_string(g.ALL_MATCH_INPUT)
    assert out == g.FILTER_DATA
    assert r.counters() == (5, 1, 0, 4, 0)


def test_skip_lines(spark):
    p = LTSVParser(spark, Option(skip_lines=g.SKIP_LINES, line_number=True))
    out, r = p.parse_string(g.ALL_MATCH_INPUT)
    assert out == g.SKIP_DATA
    assert r.counters() == (5, 3, 0, 0, 2)


def test_all_unmatch(spark):
    out, r = LTSVParser(spark).parse_string(g.ALL_UNMATCH_INPUT)
    assert out == []
    assert r.counters() == (5, 0, 5, 0, 0)
    assert [e.line_number for e in r.errors] == [1, 2, 3, 4, 5]


def test_all_skip(spark):
    p = LTSVParser(spark, Option(skip_lines=[1, 2, 3, 4, 5]))
    out, r = p.parse_string(g.ALL_MATCH_INPUT)
    assert out == []
    assert r.counters() == (5, 0, 0, 0, 5)


def test_empty(spark):
    out, r = LTSVParser(spark).parse_string("")
    assert out == []
    assert r.counters() == (0, 0, 0, 0, 0)


def test_mixed(spark):
    p = LTSVParser(
        spark,
        Option(
            skip_lines=g.MIXED_SKIP_LINES,
            filters=g.MIXED_FILTERS,
            line_number=True,
        ),
    )
    out, r = p.parse_string(g.CONTAINS_UNMATCH_INPUT)
    assert out == g.MIXED_DATA
    assert r.counters() == (5, 2, 1, 1, 1)


def test_unmatch_prefix(spark):
    p = LTSVParser(spark, Option(unmatch_lines=True, prefix=True, line_number=True))
    out, r = p.parse_string(g.CONTAINS_UNMATCH_INPUT)
    # parser_core_test.go:461-467 golden
    assert out[3] == "[ UNMATCHED ] " + g.T4_BAD
    assert out[0] == "[ PROCESSED ] " + g.CONTAINS_UNMATCH_DATA[0]
    assert r.counters() == (5, 4, 1, 0, 0)


def test_dynamic_width_rows(spark):
    # lines 4-5 omit referer/user_agent: dynamic per-line schema survives
    out, _ = LTSVParser(spark).parse_string(g.T4)
    assert out == [g.D4]


def test_extract_ltsv_matches_decoder_over_arrow(spark):
    """extract_ltsv returns decoders.ltsv_decode_batch's (labels, values)
    per line, NULL for an invalid line, with passthrough columns intact,
    through one mapInArrow hop."""
    from access_log_parser_spark import extract_ltsv
    from access_log_parser_spark.decoders import ltsv_decode_batch

    raws = [g.T1, g.T4_BAD, g.T4, "", g.T5]
    df = spark.createDataFrame(
        [(i + 1, "src", r) for i, r in enumerate(raws)], "line_no long, source string, raw string"
    )
    out = extract_ltsv(df, passthrough=["line_no", "source"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan
    assert out.columns == ["line_no", "source", "labels", "values"]
    rows = sorted(out.collect(), key=lambda r: r["line_no"])
    ls, vs = ltsv_decode_batch(raws)
    assert [r["line_no"] for r in rows] == [1, 2, 3, 4, 5]
    assert {r["source"] for r in rows} == {"src"}
    assert [r["labels"] for r in rows] == [None if x is None else list(x) for x in ls]
    assert [r["values"] for r in rows] == [None if x is None else list(x) for x in vs]
    assert rows[1]["labels"] is None and rows[1]["values"] is None
