"""SQL surface for the decode engine: a Python UDTF (Spark 4 table
function) so SQL users can parse lines without touching the DataFrame
API:

    spark.sql("SELECT t.* FROM logs, LATERAL parse_clf(logs.line) t")

Semantics match the engine exactly (first-match-wins cascade, pattern_id
= -1 + NULL fields for unmatched — parser_core.go:259-270). The UDTF is
the row-at-a-time cousin of the vectorized mapInArrow path: convenient
for SQL exploration, NOT the 100 TB hot path (use extract_fields /
parse_routed for bulk work).
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

from .. import patterns as pat


def make_parse_udtf(fmt: str, fields: list[str] | None = None):
    """Build a UDTF class for a preset. ``fields`` restricts the output
    columns (union order, silent drop — selectLabels semantics);
    default = full union schema plus pattern_id."""
    pattern_strs = list(pat.PRESETS[fmt])
    compiled0 = [pat.validate_pattern(p) for p in pattern_strs]
    union = pat.union_schema(compiled0)
    if fields is not None:
        wanted = set(fields)
        union = [n for n in union if n in wanted]
    ret = ", ".join(["pattern_id int"] + [f"{n} string" for n in union])
    out_names = list(union)

    @udtf(returnType=ret)
    class ParseUDTF:
        def __init__(self) -> None:
            self._compiled = [pat.validate_pattern(p) for p in pattern_strs]

        def eval(self, raw: str):
            if raw is None:
                yield (-1,) + (None,) * len(out_names)
                return
            for pid, p in enumerate(self._compiled):
                m = p.search(raw)
                if m is not None:
                    d = m.groupdict()
                    # Go returns "" for non-participating groups
                    yield (pid,) + tuple(
                        (d[n] if d[n] is not None else "") if n in d else None
                        for n in out_names
                    )
                    return
            yield (-1,) + (None,) * len(out_names)

    return ParseUDTF


def register_parse_udtf(
    spark, name: str, fmt: str, fields: list[str] | None = None
):
    """Register ``name`` as a SQL table function for preset ``fmt``."""
    cls = make_parse_udtf(fmt, fields)
    spark.udtf.register(name, cls)
    return cls


def register_ltsv_udtf(spark, name: str = "parse_ltsv"):
    """LTSV SQL table function: one row per field, preserving input label
    order as ``pos`` (the ordered array-of-struct answer to LTSV's
    per-line dynamic schema — SURVEY.md §1.2). Whole-line rejection on
    any field without ``:`` (parser_core.go:275-288) yields a single
    (-1, NULL, NULL) row."""
    from pyspark.sql.functions import udtf

    from ..decoders import ltsv_decode_batch

    @udtf(returnType="pos int, label string, value string")
    class ParseLTSV:
        def eval(self, raw: str):
            labels, values = ltsv_decode_batch([raw if raw is not None else ""])
            if labels[0] is None:
                yield -1, None, None
                return
            for i, (lab, val) in enumerate(zip(labels[0], values[0])):
                yield i, lab, val

    spark.udtf.register(name, ParseLTSV)
    return ParseLTSV
