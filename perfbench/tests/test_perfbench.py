"""Self-tests of the benchmark: sidecar against the compat engine, the SQL
metric parser, and failure on a corrupted sidecar.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os

import pytest

from perfbench import run
from perfbench.gen import ROOT, generate
from perfbench.sqlmetrics import MetricValue, parse_metric


@pytest.mark.parametrize(
    "text, expected",
    [
        ("51.8 MiB", MetricValue(51.8 * 2**20)),
        ("4.4 s", MetricValue(4.4)),
        ("140 ms", MetricValue(0.14)),
        ("200,000", MetricValue(200000.0)),
        ("0.0 B", MetricValue(0.0)),
        (
            "total (min, med, max (stageId: taskId))\n"
            "13.1 s (3.0 s, 3.3 s, 3.6 s (stage 3.0: task 14))",
            MetricValue(13.1, 3.0, 3.3, 3.6),
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1781.4 KiB (384.4 KiB, 465.9 KiB, 473.1 KiB (stage 20.0: task 52))",
            MetricValue(1781.4 * 1024, 384.4 * 1024, 465.9 * 1024, 473.1 * 1024),
        ),
        (
            "(min, med, max (stageId: taskId)):\n(1, 1.5, 2 (stage 26.0: task 48))",
            MetricValue(1.5, 1.0, 1.5, 2.0),
        ),
    ],
)
def test_parse_metric(text, expected):
    got = parse_metric(text)
    for field in ("total", "min", "med", "max"):
        want = getattr(expected, field)
        assert getattr(got, field) == (None if want is None else pytest.approx(want))


@pytest.mark.parametrize("text", ["", "fast", "12 parsecs", "total (min, med, max)\n1 s (2 s)"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    s = run.start_session(str(tmp_path_factory.mktemp("spark")), 2)
    yield s
    run.stop_session(s)


def _tiny(tmp_path, workload: str) -> tuple[str, dict]:
    sidecar = generate(workload, 7, 12, 2, str(tmp_path))
    return os.path.join(str(tmp_path), "pages"), sidecar


@pytest.mark.parametrize("workload", ["s3_route", "s3_cascade_agg", "ltsv_pipeline"])
def test_sidecar_matches_compat_engine(spark, tmp_path, workload):
    from access_log_parser_spark.engine import parse_routed
    from access_log_parser_spark.metrics import collect_result, counters_by_sink
    from access_log_parser_spark.sources.text import explode_lines
    from perfbench.workloads import WORKLOADS, row_hash_col
    from pyspark.sql import functions as F

    pages_path, sidecar = _tiny(tmp_path, workload)
    lines = explode_lines(spark.read.parquet(pages_path), text_col="text", source_col="url")
    if workload == "ltsv_pipeline":
        routed = parse_routed(lines, "ltsv", WORKLOADS[workload].opt)
    else:
        routed = parse_routed(lines, "s3")
    assert collect_result(routed).counters() == tuple(sidecar["counters"].values())

    rows = {f"{r['status']}/{r['pattern_id']}": r["rows"] for r in counters_by_sink(routed).collect()}
    if workload == "s3_cascade_agg":
        assert rows == {
            ("unmatched/-1" if k.startswith("-1/") else f"matched/{k.split('/')[0]}"): v[0]
            for k, v in sidecar["groups"].items()
        }
        return
    assert rows == {k: v["rows"] for k, v in sidecar["sinks"].items()}
    if workload == "s3_route":
        hashes = {
            f"{r['status']}/{r['pattern_id']}": r["hash"]
            for r in routed.groupBy("status", "pattern_id")
            .agg(F.sum(row_hash_col(WORKLOADS[workload].hashed)).alias("hash"))
            .collect()
        }
        assert hashes == {k: v["hash"] for k, v in sidecar["sinks"].items()}


def test_corrupted_sidecar_fails(spark, tmp_path):
    from perfbench.workloads import WORKLOADS

    pages_path, sidecar = _tiny(tmp_path, "s3_route")
    wl = WORKLOADS["s3_route"]
    good = run.Runs(spark, wl, pages_path, sidecar, str(tmp_path / "good"))
    good.once()
    assert (good.attempted, good.failed) == (1, 0)

    corrupt = copy.deepcopy(sidecar)
    corrupt["sinks"]["matched/4"]["hash"] += 1
    bad = run.Runs(spark, wl, pages_path, corrupt, str(tmp_path / "bad"))
    bad.once()
    assert (bad.attempted, bad.failed) == (1, 1)


def test_trace_reports_every_per_layer_metric(spark, tmp_path):
    from perfbench.workloads import WORKLOADS

    pages_path, sidecar = _tiny(tmp_path, "ltsv_pipeline")
    runs = run.Runs(spark, WORKLOADS["ltsv_pipeline"], pages_path, sidecar, str(tmp_path))
    runs.once()
    spans_path = str(tmp_path / "spans.json")
    metrics = run.trace(runs, 0.0, runs.times[0], spans_path)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(metrics) == names
    assert runs.failed == 0
    assert metrics["pipeline.batches"] == WORKLOADS["ltsv_pipeline"].n_batches
    assert metrics["aggregate.self_s"] == 0.0 and metrics["serialize.self_s"] == 0.0
    with open(spans_path) as fh:
        spans = json.load(fh)
    assert {s["name"] for s in spans} >= {"round", "scan", "write", "write_routed", "write_manifest"}
