"""The benchmark's three workloads.

Each workload names the layers it runs, in plan order. ``prefixes`` builds
one DataFrame per layer boundary except the last: the plan up to and
including that layer, which the traced run drains into a ``noop`` sink.
``run`` is the whole workload, ending in its real sink, and ``check``
compares what it produced with the generator's sidecar.

- ``s3_route``: the headline shape. Every layer works; decode and explode
  dominate.
- ``s3_cascade_agg``: only depth-5 lines, so every line runs all five
  ``re.search`` calls; ends in a groupBy and a collect. Serialize and
  write do no work, so a write-side change must read flat here.
- ``ltsv_pipeline``: ``run_pipeline`` on the compat path (Python decode,
  filter and serialize in one hop), TSV header window, enrich joins,
  per-batch writes and manifests. The regex cascade and the Catalyst
  serializer do no work here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from access_log_parser_spark import engine, pipeline, sinks
from access_log_parser_spark.decoders import MATCHED, UNMATCHED
from access_log_parser_spark.metrics import observe_routed
from access_log_parser_spark.options import Option
from access_log_parser_spark.sources.text import explode_lines

from .gen import LANGS, LTSV_FILTER, NULL

# every layer the benchmark knows, in plan order
LAYERS = ("scan", "explode", "decode", "serialize", "enrich", "observe", "aggregate", "write")
COUNTERS = ("total", "matched", "unmatched", "excluded", "skipped")


@dataclass
class Outcome:
    """What one full run produced: its Observation counters plus whatever
    the workload's check reads back."""

    counters: dict[str, int]
    out_dir: str
    rows: list = field(default_factory=list)


def row_hash_col(cols: list[str]):
    """Spark twin of :func:`perfbench.gen.row_hash`."""
    joined = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in cols]
    )
    return F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("long")


def _counters(obs_get: dict) -> dict[str, int]:
    return {k: int(obs_get.get(k) or 0) for k in COUNTERS}


def _check_counters(counters: dict[str, int], sidecar: dict) -> list[str]:
    problems = []
    c = counters
    if c["total"] != c["matched"] + c["unmatched"] + c["excluded"] + c["skipped"]:
        problems.append(f"counter invariant broken: {c}")
    if c != sidecar["counters"]:
        problems.append(f"counters {c} != expected {sidecar['counters']}")
    return problems


def _check_sinks(spark: SparkSession, out_dir: str, hashed: list[str], sidecar: dict) -> list[str]:
    got = {
        f"{r['status']}/{r['pattern_id']}": {"rows": r["rows"], "hash": r["hash"]}
        for r in spark.read.parquet(os.path.join(out_dir, "data"))
        .groupBy("status", "pattern_id")
        .agg(F.count(F.lit(1)).alias("rows"), F.sum(row_hash_col(hashed)).alias("hash"))
        .collect()
    }
    if got != sidecar["sinks"]:
        return [f"sinks {got} != expected {sidecar['sinks']}"]
    return []


def _lines(spark: SparkSession, pages_path: str) -> tuple[DataFrame, DataFrame]:
    pages = spark.read.parquet(pages_path)
    return pages, explode_lines(pages, text_col="text", source_col="url")


class S3Route:
    name = "s3_route"
    layers = ("scan", "explode", "decode", "serialize", "observe", "write")
    hashed = ["source", "line_no", "out_line", "raw"]

    def prefixes(self, spark: SparkSession, pages_path: str) -> list[tuple[str, DataFrame]]:
        pages, lines = _lines(spark, pages_path)
        # the decode step of fast_parse_routed, with its arguments
        decoded = engine.extract_fields(
            lines, "s3", passthrough=["source", "line_no"], raw_when_unmatched=True
        )
        routed = engine.fast_parse_routed(lines, "s3")
        return [
            ("scan", pages),
            ("explode", lines),
            ("decode", decoded),
            ("serialize", routed),
            ("observe", observe_routed(routed)[0]),
        ]

    def run(self, spark: SparkSession, pages_path: str, out_dir: str) -> Outcome:
        _, lines = _lines(spark, pages_path)
        observed, obs = observe_routed(engine.fast_parse_routed(lines, "s3"))
        sinks.write_routed(observed, out_dir, mode="overwrite")
        return Outcome(_counters(obs.get), out_dir)

    def check(self, spark: SparkSession, out: Outcome, sidecar: dict) -> list[str]:
        return _check_counters(out.counters, sidecar) + _check_sinks(
            spark, out.out_dir, self.hashed, sidecar
        )


class S3CascadeAgg:
    name = "s3_cascade_agg"
    layers = ("scan", "explode", "decode", "observe", "aggregate")
    fields = ["http_status", "bytes_sent", "total_time"]

    def _frames(self, spark: SparkSession, pages_path: str):
        pages, lines = _lines(spark, pages_path)
        decoded = engine.extract_fields(lines, "s3", fields=self.fields)
        observed, obs = observe_routed(
            decoded.withColumn(
                "status",
                F.when(F.col("pattern_id") < 0, F.lit(UNMATCHED)).otherwise(F.lit(MATCHED)),
            )
        )
        agg = observed.groupBy("pattern_id", "http_status").agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("bytes_sent").cast("long")).alias("bytes_sent"),
            F.sum(F.col("total_time").cast("long")).alias("total_time"),
        )
        return pages, lines, decoded, observed, obs, agg

    def prefixes(self, spark: SparkSession, pages_path: str) -> list[tuple[str, DataFrame]]:
        pages, lines, decoded, observed, _, _ = self._frames(spark, pages_path)
        return [("scan", pages), ("explode", lines), ("decode", decoded), ("observe", observed)]

    def run(self, spark: SparkSession, pages_path: str, out_dir: str) -> Outcome:
        *_, obs, agg = self._frames(spark, pages_path)
        rows = agg.collect()
        return Outcome(_counters(obs.get), out_dir, rows)

    def check(self, spark: SparkSession, out: Outcome, sidecar: dict) -> list[str]:
        got = {
            f"{r['pattern_id']}/{r['http_status']}": [r["rows"], r["bytes_sent"], r["total_time"]]
            for r in out.rows
        }
        problems = _check_counters(out.counters, sidecar)
        if got != sidecar["groups"]:
            problems.append(f"groups {got} != expected {sidecar['groups']}")
        return problems


class LtsvPipeline:
    name = "ltsv_pipeline"
    layers = ("scan", "explode", "decode", "enrich", "observe", "write")
    hashed = ["source", "line_no", "out_line", "raw", "lang_name"]
    opt = Option(filters=[LTSV_FILTER], line_handler="tsv")
    n_batches = 4

    def _lookups(self, spark: SparkSession) -> dict:
        lang = spark.createDataFrame(sorted(LANGS.items()), "lang string, lang_name string")
        return {"lang": (lang, "lang")}

    def prefixes(self, spark: SparkSession, pages_path: str) -> list[tuple[str, DataFrame]]:
        pages, lines = _lines(spark, pages_path)
        routed = engine.parse_routed(lines, "ltsv", self.opt)
        # run_pipeline's enrich step: page attributes joined at page grain,
        # then each lookup broadcast-joined on its key
        enriched = routed.join(
            pages.select(F.col("url").alias("source"), "lang"), on="source", how="left"
        )
        for lk, key in self._lookups(spark).values():
            enriched = enriched.join(F.broadcast(lk), on=key, how="left")
        return [
            ("scan", pages),
            ("explode", lines),
            ("decode", routed),
            ("enrich", enriched),
            ("observe", observe_routed(enriched)[0]),
        ]

    def run(self, spark: SparkSession, pages_path: str, out_dir: str) -> Outcome:
        report = pipeline.run_pipeline(
            spark,
            spark.read.parquet(pages_path),
            out_dir,
            fmt="ltsv",
            opt=self.opt,
            lookups=self._lookups(spark),
            n_batches=self.n_batches,
        )
        return Outcome(dict(zip(COUNTERS, report.result.counters())), out_dir)

    def check(self, spark: SparkSession, out: Outcome, sidecar: dict) -> list[str]:
        problems = _check_counters(out.counters, sidecar)
        manifests = sinks.read_manifests(out.out_dir)
        summed = {k: sum(m["counters"][k] for m in manifests) for k in COUNTERS}
        if len(manifests) != self.n_batches or summed != sidecar["counters"]:
            problems.append(f"{len(manifests)} manifests with counters {summed}")
        return problems + _check_sinks(spark, out.out_dir, self.hashed, sidecar)


WORKLOADS = {w.name: w for w in (S3Route(), S3CascadeAgg(), LtsvPipeline())}
