"""Filter-DSL unit tests, mirroring /root/reference/parser_core_test.go:2142-2702."""

import pytest

from access_log_parser_spark.filters import (
    FilterError,
    apply_filters,
    compile_filters,
    parse_filter,
)

LS = ["name", "code", "score"]


def run(filters, labels, values):
    return apply_filters(compile_filters(filters), labels, values)


def test_string_ops():
    assert run(["name == alpha"], LS, ["alpha", "x", "1"])
    assert not run(["name == alpha"], LS, ["beta", "x", "1"])
    assert run(["name != beta"], LS, ["alpha", "x", "1"])
    assert run(["name ==* ALPHA"], LS, ["alpha", "x", "1"])
    assert run(["name !=* ALPHA"], LS, ["beta", "x", "1"])
    assert not run(["name !=* ALPHA"], LS, ["Alpha", "x", "1"])


def test_regex_ops():
    assert run(["name =~ ^al"], LS, ["alpha", "x", "1"])
    assert not run(["name =~ ^al"], LS, ["beta", "x", "1"])
    assert run(["name !~ ^al"], LS, ["beta", "x", "1"])
    assert run(["name =~* ^AL"], LS, ["alpha", "x", "1"])
    assert run(["name !~* ^AL"], LS, ["beta", "x", "1"])


def test_numeric_ops():
    assert run(["score > 1"], LS, ["a", "x", "1.5"])
    assert not run(["score > 2"], LS, ["a", "x", "1.5"])
    assert run(["score >= 1.5"], LS, ["a", "x", "1.5"])
    assert run(["score < 2"], LS, ["a", "x", "1.5"])
    assert run(["score <= 1.5"], LS, ["a", "x", "1.5"])


def test_conjunction_across_labels():
    assert run(["name == a", "score > 1"], LS, ["a", "x", "2"])
    assert not run(["name == a", "score > 3"], LS, ["a", "x", "2"])


def test_duplicate_label_last_wins():
    # map semantics: later filter on the same label overwrites earlier
    assert run(["name == a", "name == b"], LS, ["b", "x", "1"])
    assert not run(["name == a", "name == b"], LS, ["a", "x", "1"])


def test_invalid_syntax():
    with pytest.raises(FilterError, match="invalid syntax"):
        compile_filters(["aaa"])
    with pytest.raises(FilterError, match="invalid syntax"):
        parse_filter("aaa bbb")


def test_unknown_operator():
    with pytest.raises(FilterError, match="unknown operator"):
        compile_filters(["name := x"])


def test_label_not_in_labels_errors():
    with pytest.raises(FilterError, match="invalid field name"):
        run(["missing == x"], LS, ["a", "x", "1"])


def test_non_numeric_value_errors():
    with pytest.raises(FilterError):
        run(["score > 1"], LS, ["a", "x", "not-a-number"])


def test_non_numeric_filter_literal_errors():
    with pytest.raises(FilterError):
        compile_filters(["score > abc"])


def test_invalid_regex_errors():
    with pytest.raises(FilterError):
        compile_filters(["name =~ ("])


def test_catalyst_numeric_filter_excludes_non_numeric_under_ansi(spark):
    """Spark 4 ANSI mode (on by default) makes a plain cast('double')
    ABORT on non-numeric input; the structured surface excludes instead
    of aborting, so filters_to_column must try_cast. Apache's '-' for
    zero-byte responses is the canonical non-numeric value."""
    from pyspark.sql import functions as F

    from access_log_parser_spark.filters import filters_to_column

    df = spark.createDataFrame(
        [("a", "100"), ("b", "-"), ("c", "300")], "name string, size string"
    )
    pred = filters_to_column(["size > 150"], df.columns)
    out = df.filter(F.coalesce(pred, F.lit(False))).collect()
    assert [r["name"] for r in out] == ["c"]  # '-' excluded, job alive
