"""extract_fields(fields=...): column pruning through the mapInArrow
boundary must keep union (line) order, silently drop unknown names
(selectLabels semantics, parser_core.go:291-305), and leave decode
results for the kept columns identical to the unpruned run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from access_log_parser_spark import extract_fields

LINES = [
    ("s", 1, '1.2.3.4 - u [12/Mar/2023:10:55:36 +0000] "GET /a HTTP/1.1" 200 10 "-" "ua1"'),
    ("s", 2, "GARBAGE"),
    ("s", 3, '5.6.7.8 - v [12/Mar/2023:10:55:37 +0000] "POST /b HTTP/1.1" 404 20 "-" "ua2"'),
]


@pytest.fixture(scope="module")
def lines(spark):
    return spark.createDataFrame(LINES, ["source", "line_no", "raw"])


def test_pruned_columns_and_order(lines):
    out = extract_fields(
        lines, "apache_clf", passthrough=["line_no"],
        fields=["status", "remote_host", "nonexistent"],
    )
    # union (line) order, not request order; unknown silently dropped
    assert out.columns == ["line_no", "pattern_id", "remote_host", "status"]


def test_pruned_values_match_unpruned(lines):
    full = extract_fields(lines, "apache_clf", passthrough=["line_no"])
    pruned = extract_fields(
        lines, "apache_clf", passthrough=["line_no"], fields=["remote_host", "status"]
    )
    a = {r["line_no"]: (r["pattern_id"], r["remote_host"], r["status"])
         for r in pruned.collect()}
    b = {r["line_no"]: (r["pattern_id"], r["remote_host"], r["status"])
         for r in full.collect()}
    assert a == b
    assert a[2] == (-1, None, None)  # unmatched row keeps pattern_id = -1


def test_empty_selection_keeps_pattern_id(lines):
    out = extract_fields(lines, "apache_clf", fields=[])
    assert out.columns == ["pattern_id"]
    assert sorted(r["pattern_id"] for r in out.collect()) == [-1, 0, 0]


def test_ltsv_points_to_extract_ltsv(lines):
    with pytest.raises(ValueError, match="extract_ltsv"):
        extract_fields(lines, "ltsv")
