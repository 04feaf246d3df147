"""Lineage metrics: the reference's ``Result`` counters, distributed.

The reference's only aggregate is per-input counters Total/Matched/
Unmatched/Excluded/Skipped plus an errors side-list
(`/root/reference/parser_result.go:16-36`), with the invariant
``Total = Matched + Unmatched + Excluded + Skipped``.

A routed write is counted one way: from the footers of the part files it
committed (:func:`.sinks.committed_lineage`), in ``run_pipeline`` and in
``bench.py``'s headline, with no second scan and no extra job. A Parser
verb folds the counters from the rows its one action collects. Two
helpers count a frame as it is computed, not what a write committed:

- :func:`collect_result` runs an explicit partial+final hash aggregation
  (tests, the perfbench sidecar check);
- :func:`observe_routed` attaches a ``pyspark.sql.Observation``; only
  perfbench still uses it.

Every path builds its :class:`Result` with :meth:`Result.from_counters`.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .decoders import EXCLUDED, MATCHED, SKIPPED, UNMATCHED

_STATUSES = (MATCHED, UNMATCHED, EXCLUDED, SKIPPED)
_COUNTERS = ("total", *_STATUSES)

# default bound on the unmatched lines collect_result brings to the driver
MAX_ERRORS = 10_000


@dataclass
class ParseError:
    """One unmatched line (parser_result.go:32-36)."""

    entry: str
    line_number: int
    line: str


@dataclass
class Result:
    """Counter aggregate (parser_result.go:16-27). elapsed_time in seconds."""

    total: int = 0
    matched: int = 0
    unmatched: int = 0
    excluded: int = 0
    skipped: int = 0
    elapsed_time: float = 0.0
    source: str = ""
    zip_entries: list[str] = field(default_factory=list)
    errors: list[ParseError] = field(default_factory=list)
    input_type: str = "string"  # stream/string/file/gzip/zip

    @classmethod
    def from_counters(cls, counters, **fields) -> Result:
        """A Result from a counters mapping keyed ``total``, ``matched``,
        ``unmatched``, ``excluded``, ``skipped`` (an Observation's values, an
        aggregate row's ``asDict()``, a dict of sums); a missing or NULL
        count is 0. ``fields`` sets the other attributes."""
        return cls(**{k: counters.get(k) or 0 for k in _COUNTERS}, **fields)

    def counters(self) -> tuple[int, int, int, int, int]:
        return (self.total, self.matched, self.unmatched, self.excluded, self.skipped)

    def counter_dict(self) -> dict[str, int]:
        """The counters keyed as :meth:`from_counters` reads them."""
        return dict(zip(_COUNTERS, self.counters()))

    def check_invariant(self) -> bool:
        return self.total == self.matched + self.unmatched + self.excluded + self.skipped

    def to_json(self) -> str:
        """Go ``json.Marshal(result)``-compatible serialization: camelCase
        keys per the struct tags (parser_result.go:17-36), ElapsedTime in
        nanoseconds, zipEntries/entry omitted when empty."""
        import json

        out: dict = {
            "total": self.total,
            "matched": self.matched,
            "unmatched": self.unmatched,
            "excluded": self.excluded,
            "skipped": self.skipped,
            "elapsedTime": round(self.elapsed_time * 1_000_000_000),
            "source": self.source,
        }
        if self.zip_entries:
            out["zipEntries"] = list(self.zip_entries)
        errs = []
        for e in self.errors:
            d: dict = {}
            if e.entry:
                d["entry"] = e.entry
            d["lineNumber"] = e.line_number
            d["line"] = e.line
            errs.append(d)
        out["errors"] = errs
        return json.dumps(out, separators=(",", ":"), ensure_ascii=False)

    def report(self, top: int = 10) -> str:
        """Byte-faithful Result.String() (parser_result.go:40-100; golden
        layouts in parser_result_test.go) — mintab-style tables, Go
        duration formatting, fold widths, top-N truncation notice."""
        from .functions.textreport import render_result

        return render_result(
            self.total,
            self.matched,
            self.unmatched,
            self.excluded,
            self.skipped,
            self.elapsed_time,
            self.source,
            self.zip_entries,
            [(e.entry, e.line_number, e.line) for e in self.errors],
            self.input_type,
            top=top,
        )


def _counter_aggs() -> list:
    aggs = [F.count(F.lit(1)).alias("total")]
    for st in _STATUSES:
        aggs.append(
            F.sum(F.when(F.col("status") == st, 1).otherwise(0)).alias(st)
        )
    return aggs


def observe_routed(routed: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach counter observation; after the first action
    ``Result.from_counters(obs.get)`` reads it. A fresh name per call
    keeps queries observed at the same time apart. Only perfbench's
    workloads call it; the package counts a write from its footers
    (:func:`.sinks.committed_lineage`)."""
    obs = Observation(f"lineage-{uuid.uuid4().hex}")
    return routed.observe(obs, *_counter_aggs()), obs


def counters_by_source(routed: DataFrame) -> DataFrame:
    """Per-source counter table (the zip-entry partial -> final shape,
    parser_core.go:152-163): groupBy(source) partial+final hash agg."""
    return routed.groupBy("source").agg(*_counter_aggs())


def counters_by_sink(routed: DataFrame) -> DataFrame:
    """Per-sink aggregate counts: sinks are keyed by (status, pattern_id)."""
    return routed.groupBy("status", "pattern_id").agg(
        F.count(F.lit(1)).alias("rows")
    )


def collect_result(
    routed: DataFrame,
    source: str = "",
    elapsed: float = 0.0,
    max_errors: int | None = MAX_ERRORS,
) -> Result:
    """Aggregate counters + errors list into a Result (two actions).

    ``max_errors`` bounds the driver-side error collect to the first
    unmatched lines in (source, line_no) order; the counters stay exact.
    The reference accumulates every unmatched line in memory
    (parser_result.go:32-36), which is fine for its single-file corpora
    but unbounded at 10^12 docs, so the default is ``MAX_ERRORS`` and the
    full set belongs in the unmatched sink; ``None`` lifts the bound."""
    row = routed.agg(*_counter_aggs()).collect()[0]
    err_df = (
        routed.filter(F.col("status") == UNMATCHED)
        .select("source", "line_no", "raw")
        .orderBy("source", "line_no")
    )
    if max_errors is not None:
        err_df = err_df.limit(max_errors)
    errors = [ParseError("", r["line_no"], r["raw"]) for r in err_df.collect()]
    return Result.from_counters(
        row.asDict(), elapsed_time=elapsed, source=source, errors=errors
    )
