"""SQL surface for the decode engine: a Python UDTF (Spark 4 table
function) so SQL users can parse lines without touching the DataFrame
API:

    spark.sql("SELECT t.* FROM logs, LATERAL parse_clf(logs.line) t")

It answers from the engine's own decoder (:class:`..decoders.DecodePlan`,
compiled from the preset's pattern strings once per UDTF instance, and
once on the driver for the schema), so its semantics are the engine's row
for row: first match wins, pattern_id = -1 + NULL fields for unmatched and
NULL lines (parser_core.go:259-270), "" for a group that did not take
part, and one search per line for the fused S3/CLB cascades. The UDTF is
the row-at-a-time cousin of the vectorized mapInArrow path: convenient
for SQL exploration, NOT the 100 TB hot path (use extract_fields /
parse_routed for bulk work).
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

from .. import patterns as pat
from ..decoders import compile_plan


def make_parse_udtf(fmt: str, fields: list[str] | None = None):
    """Build a UDTF class for a preset. ``fields`` restricts the output
    columns (union order, silent drop — selectLabels semantics);
    default = full union schema plus pattern_id."""
    pattern_strs = list(pat.PRESETS[fmt])
    union = compile_plan(pattern_strs).union
    if fields is not None:
        wanted = set(fields)
        union = [n for n in union if n in wanted]
    ret = ", ".join(["pattern_id int"] + [f"{n} string" for n in union])

    @udtf(returnType=ret)
    class ParseUDTF:
        def __init__(self) -> None:
            self._plan = compile_plan(pattern_strs)

        def eval(self, raw: str):
            pids, cols = self._plan.columns([raw], union)
            yield (pids[0], *(c[0] for c in cols))

    return ParseUDTF


def register_parse_udtf(
    spark, name: str, fmt: str, fields: list[str] | None = None
):
    """Register ``name`` as a SQL table function for preset ``fmt``."""
    cls = make_parse_udtf(fmt, fields)
    spark.udtf.register(name, cls)
    return cls
