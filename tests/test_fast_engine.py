"""One routed core: ``parse_routed``, its old name ``fast_parse_routed``
and ``run_pipeline`` (``parse_documents``) all run ``_Router.route``, so
every routed entry aborts on a filter exactly as the reference's
``applyFilter`` does (parser_core.go:220-223, 338-355, 427-432)."""

import pytest

import golden_s3 as g
from access_log_parser_spark import Option, engine
from access_log_parser_spark.pages import synth_pages
from access_log_parser_spark.pipeline import run_pipeline
from access_log_parser_spark.sources import lines_from_string


def test_fast_parse_routed_is_parse_routed():
    assert engine.fast_parse_routed is engine.parse_routed


def test_pipeline_auto_uses_fast(spark, tmp_path):
    """A regex-preset run_pipeline run keeps the closed-form counters."""
    from access_log_parser_spark.sinks import read_sink

    pages = synth_pages(spark, 20, 10, 5)
    rep = run_pipeline(spark, pages, str(tmp_path / "o"), fmt="s3")
    assert rep.result.counters() == (200, 160, 40, 0, 0)
    assert read_sink(spark, str(tmp_path / "o")).count() == 200


ABORTS = {
    # L1 decodes with fallback pattern 1 and L5 with pattern 4; neither
    # has the acl_required group, which only pattern 0 captures
    "unknown_label": ("acl_required != zzz", "invalid field name"),
    # turn_around_time is "-" on both lines
    "non_numeric": ("turn_around_time > 1", "could not convert"),
}


def _lines(spark):
    return lines_from_string(spark, "\n".join([g.L1, g.L5]))


def _pages(spark):
    return spark.createDataFrame(
        [("https://a/1", "\n".join([g.L1, g.L5]))], "url string, text string"
    )


ENTRIES = {
    "parse_routed": lambda spark, opt, out: engine.parse_routed(
        _lines(spark), "s3", opt
    ).collect(),
    "fast_parse_routed": lambda spark, opt, out: engine.fast_parse_routed(
        _lines(spark), "s3", opt
    ).collect(),
    "run_pipeline": lambda spark, opt, out: run_pipeline(
        spark, _pages(spark), out, fmt="s3", opt=opt
    ),
}


@pytest.mark.parametrize("entry", sorted(ENTRIES))
@pytest.mark.parametrize("case", sorted(ABORTS))
def test_routed_entries_abort_like_reference(spark, tmp_path, entry, case):
    expr, reason = ABORTS[case]
    with pytest.raises(Exception, match=f"FilterError: cannot evaluate filter expressions.*{reason}"):
        ENTRIES[entry](spark, Option(filters=[expr]), str(tmp_path / "o"))
