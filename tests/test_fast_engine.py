"""One routed core: ``parse_routed``, its old name ``fast_parse_routed``
and ``run_pipeline`` (``parse_documents``) all run ``_Router.route``, so
every routed entry aborts on a filter exactly as the reference's
``applyFilter`` does (parser_core.go:220-223, 338-355, 427-432)."""

import re

import pytest

import golden_s3 as g
from access_log_parser_spark import Option, engine
from access_log_parser_spark.pages import synth_pages
from access_log_parser_spark.pipeline import run_pipeline
from access_log_parser_spark.sources import explode_lines


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


def _pages(spark):
    return spark.createDataFrame(
        [("https://a/1", "\n".join([g.L1, g.L5]))], "url string, text string"
    )


def _lines(spark):
    return explode_lines(_pages(spark))


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


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("handler", ["json", "pretty_json", "kv", "ltsv"])
def test_parse_routed_flagless_handler_has_no_exchange(spark, handler):
    """Handlers that never read ``isFirst`` run where the lines are."""
    plan = _plan(engine.parse_routed(_lines(spark), "s3", Option(line_handler=handler)))
    assert "Exchange" not in plan and "Window" not in plan, plan


def _pipe(labels, values, is_first):
    return "|".join(values)


@pytest.mark.parametrize("handler", ["tsv", _pipe])
def test_parse_routed_flag_reading_handler_has_one_exchange(spark, handler):
    """``tsv`` and user callables get the lines of each source together
    and in ``line_no`` order: one ``hashpartitioning(source)`` Exchange
    below the hop, and no Window after it."""
    plan = _plan(engine.parse_routed(_lines(spark), "s3", Option(line_handler=handler)))
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    exchange = re.search(r"Exchange hashpartitioning\(source#\d+, \d+\)", plan)
    assert exchange is not None, plan
    assert plan.index("MapInArrow") < exchange.start(), plan


def test_parse_routed_tsv_header_on_first_matched_line_of_scattered_source(spark):
    """One source's lines, shuffled and scattered over 4 partitions: the
    header rides only on the first matched line (line 1 is unmatched and
    line 2 skipped), whatever order the lines arrived in."""
    import random

    rows = [("s", n, "bad" if n in (1, 7) else f"k:{n}\tv:") for n in range(1, 41)]
    random.Random(5).shuffle(rows)
    lines = spark.createDataFrame(rows, "source string, line_no long, raw string")
    lines = lines.repartition(4)
    assert lines.rdd.getNumPartitions() == 4
    routed = engine.parse_routed(lines, "ltsv", Option(line_handler="tsv", skip_lines=[2]))
    out = sorted(
        (r.line_no, r.out_line) for r in routed.filter("status = 'matched'").collect()
    )
    assert out[0] == (3, "k\tv\n3\t-")
    assert out[1:] == [(n, f"{n}\t-") for n in range(4, 41) if n != 7]
