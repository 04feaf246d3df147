"""Vectorized parse engine — the core of the PySpark-native rebuild.

Everything the reference does per line in its eager loop
(`/root/reference/parser_core.go:176-254`: skip-check -> decode ->
unmatched? -> filter -> selectLabels -> addLineNumber -> LineHandler ->
prefix -> write) runs here as ONE Arrow-batched Python pass followed by
pure-Catalyst finalization. Design goals at 100 TB:

- exactly one Python<->JVM hop on the hot path (regex decode + DSL filter +
  serialization all happen in the same Arrow batch function);
- regexes and filter predicates compile once per task, not per line
  (the reference recompiles filters per line — parser_core.go:220), and a
  prefix-chained pattern list such as the S3 preset compiles into one
  fused regex, so a line costs one search instead of up to five
  (:class:`.decoders.DecodePlan`);
- prefix decoration is a JVM-side Catalyst ``transform``, and no global
  ordering is ever collected to the driver;
- document-level predicates (skip lines, source pruning) stay JVM-side
  ahead of the Python stage so Catalyst pushes them into the scan.

Surfaces:

- reference parity (Option semantics, byte-exact serialized output lines,
  status routing column, error rows): ONE routed implementation. Two
  entries share one per-line core (``_RouteSpec`` built and validated
  before any task runs, ``_Router.route`` per batch) and one Arrow output
  builder (:func:`_route_arrays`), so their outputs cannot drift apart:

  - :func:`parse_documents` takes whole documents and is one
    ``mapInArrow`` stage: it splits each text with the scanner's exact
    ``bufio.ScanLines`` model, passes the reference's per-document
    ``isFirst`` to the handler (so the TSV header needs no window), and
    hands carried document columns back as Arrow arrays. The pipeline and
    the streaming surface use it;
  - :func:`parse_routed` takes exploded lines through ``mapInArrow``, for
    callers that already hold lines (string/file/zip parsers, the bench);
- :func:`extract_fields` / :func:`extract_ltsv` — the Spark-native
  structured surface: typed string columns (union of capture groups) for
  SQL, joins and aggregation. ``extract_fields`` hops through
  ``mapInArrow`` and builds ``pa.array``s directly.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import decoders, patterns as pat
from .decoders import EXCLUDED, MATCHED, SKIPPED, UNMATCHED
from .filters import apply_filters, compile_filters
from .functions.columns import multiline_prefix
from .handlers import HANDLERS, prefix_strings
from .options import Option
from .sources.ziparchive import _scan_lines

LINE_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("line_no", LongType()),
        StructField("raw", StringType()),
    ]
)

ROUTED_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("line_no", LongType()),
        StructField("status", StringType()),
        StructField("pattern_id", IntegerType()),
        StructField("out_line", StringType()),
        StructField("raw", StringType()),
    ]
)


def _resolve_patterns(fmt: str | Sequence[str]) -> list[str] | None:
    """fmt is 'ltsv', a preset name, or an explicit pattern list."""
    if isinstance(fmt, str):
        if fmt == "ltsv":
            return None
        return list(pat.PRESETS[fmt])
    return [str(p) for p in fmt]


@dataclass(frozen=True)
class _RouteSpec:
    """Everything the per-line core needs, validated on the driver and
    shipped to the tasks."""

    pattern_strs: list[str] | None
    skip_set: frozenset[int]
    labels_sel: tuple[str, ...]
    add_no: bool
    handler: Callable[[Sequence[str], Sequence[str], bool], str]
    is_tsv: bool
    filter_exprs: tuple[str, ...]
    emit_unmatch: bool

    @classmethod
    def build(cls, fmt: str | Sequence[str], opt: Option) -> _RouteSpec:
        pattern_strs = _resolve_patterns(fmt)
        if pattern_strs is not None:
            # Driver-side validation, AddPattern semantics (parser_regex.go:74-89).
            for p in pattern_strs:
                pat.validate_pattern(p)
            if not pattern_strs:
                raise decoders.NoPatternError
        # Driver-side DSL validation: syntax + operator errors surface before
        # any task runs; data-dependent errors (unknown label, non-numeric
        # value) still abort at execution, matching parser_core.go:220-223.
        compile_filters(opt.filters)
        handler = opt.resolve_handler()
        # identity check, not just the name: Option(line_handler=
        # handlers.tsv_line_handler) (the callable spelling of the same
        # built-in) must get the first-matched-per-source header row too
        is_tsv = opt.line_handler == "tsv" or handler is HANDLERS.get("tsv")
        return cls(
            pattern_strs=pattern_strs,
            skip_set=frozenset(int(s) for s in opt.skip_lines),
            labels_sel=tuple(opt.labels),
            add_no=bool(opt.line_number),
            handler=handler,
            is_tsv=is_tsv,
            filter_exprs=tuple(opt.filters),
            emit_unmatch=bool(opt.unmatch_lines),
        )

    def compile(self) -> _Router:
        """Once per task: the decode plan and the filter predicates."""
        plan = (
            decoders.compile_plan(pat.compile_patterns(self.pattern_strs))
            if self.pattern_strs is not None
            else None
        )
        return _Router(self, plan, compile_filters(self.filter_exprs))


@dataclass
class _Router:
    spec: _RouteSpec
    plan: decoders.DecodePlan | None
    filt: list

    def route(
        self,
        raws: list[str],
        line_nos: list[int],
        doc_ids: list[int] | None = None,
    ) -> tuple[list[str], list[int], list[str | None], list[str | None]]:
        """The reference's per-line loop over one batch: skip-check ->
        decode -> unmatched? -> filter -> selectLabels -> addLineNumber ->
        LineHandler (parser_core.go:176-254).

        Returns (status, pattern_id, out_line, tsv_header). With
        ``doc_ids`` (one per line, lines of a document contiguous) the
        handler gets the reference's ``isFirst``: True for the first line
        of each document that reaches it. Without, it always gets False and
        a TSV run returns each output line's header row for the caller to
        attach; otherwise ``tsv_header`` is all None."""
        spec, plan, filt = self.spec, self.plan, self.filt
        n = len(raws)
        status = [MATCHED] * n
        pids = [-1] * n
        out: list[str | None] = [None] * n
        headers: list[str | None] = [None] * n
        want_headers = spec.is_tsv and doc_ids is None

        live_idx = []
        for i, ln in enumerate(line_nos):
            if ln in spec.skip_set:
                status[i] = SKIPPED
            else:
                live_idx.append(i)

        live_raws = [raws[i] for i in live_idx]
        if plan is not None:
            sub_pids, sub_vals = plan.decode(live_raws)
            row_ls: list[list[str] | None] = [None] * n
            row_vs: list[list[str] | None] = [None] * n
            for k, i in enumerate(live_idx):
                pids[i] = sub_pids[k]
                if sub_pids[k] >= 0:
                    row_ls[i] = plan.names[sub_pids[k]]
                    row_vs[i] = sub_vals[k]
        else:
            sub_ls, sub_vs = decoders.ltsv_decode_batch(live_raws)
            row_ls = [None] * n
            row_vs = [None] * n
            for k, i in enumerate(live_idx):
                row_ls[i] = sub_ls[k]
                row_vs[i] = sub_vs[k]
                if sub_ls[k] is not None:
                    pids[i] = 0

        handler = spec.handler
        last_doc = None
        for i in live_idx:
            ls = row_ls[i]
            if ls is None:
                status[i] = UNMATCHED
                if spec.emit_unmatch:
                    out[i] = raws[i]
                continue
            vs = row_vs[i]
            if filt and not apply_filters(filt, ls, vs):
                status[i] = EXCLUDED
                continue
            if spec.labels_sel:
                ls, vs = decoders.select_labels(spec.labels_sel, ls, vs)
            if spec.add_no:
                ls = ["no", *ls]
                vs = [str(line_nos[i]), *vs]
            if doc_ids is None:
                out[i] = handler(ls, vs, False)
                if want_headers:
                    headers[i] = "\t".join(ls)
            else:
                out[i] = handler(ls, vs, doc_ids[i] != last_doc)
                last_doc = doc_ids[i]
        return status, pids, out, headers


def _route_arrays(
    router: _Router,
    raws: list[str],
    line_nos: list[int],
    doc_ids: list[int] | None = None,
) -> tuple[list[pa.Array], list[str | None]]:
    """Route one batch and build its (status, pattern_id, out_line, raw)
    Arrow arrays; ``raw`` is kept only on unmatched rows, for the errors
    sink (parser_result.go:32-36). Also returns the TSV header rows
    (:meth:`_Router.route`)."""
    status, pids, out, headers = router.route(raws, line_nos, doc_ids)
    arrays = [
        pa.array(status, pa.string()),
        pa.array(pids, pa.int32()),
        pa.array(out, pa.string()),
        pa.array(
            [r if s == UNMATCHED else None for r, s in zip(raws, status)],
            pa.string(),
        ),
    ]
    return arrays, headers


def parse_routed(
    lines_df: DataFrame,
    fmt: str | Sequence[str],
    opt: Option | None = None,
) -> DataFrame:
    """Full reference pipeline over a lines DataFrame, in one
    ``mapInArrow`` stage.

    ``lines_df`` must carry (source string, line_no long, raw string);
    line_no is 1-based within its source (the reference's scanner counter).
    Returns (source, line_no, status, pattern_id, out_line, raw) where
    ``status`` routes the row (matched/unmatched/excluded/skipped),
    ``out_line`` is the byte-exact serialized record (None when the row
    produces no output) and unmatched rows keep ``raw`` for the errors
    sink (parser_result.go:32-36).

    Divergence from the reference: lines arrive one by one, not per
    document, so the line handler is always called with
    ``is_first=False``. The reference passes True for the first line of
    each input that reaches the handler (parser_core.go:182,245). The
    built-in ``tsv`` handler's header row is restored by a window over
    ``source`` (one header per source, so two documents sharing a source
    get one between them); a custom callable never sees True. Use
    :func:`parse_documents` for the reference's per-document ``isFirst``.

    ``fast_parse_routed`` is the same function under its old name, kept
    for callers that still use it (the perfbench workloads).
    """
    opt = opt or Option()
    spec = _RouteSpec.build(fmt, opt)
    out_schema = StructType(
        ROUTED_SCHEMA.fields
        + ([StructField("tsv_header", StringType())] if spec.is_tsv else [])
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        router = spec.compile()
        for batch in batches:
            line_nos = batch.column(1)
            arrays, headers = _route_arrays(
                router, batch.column(2).to_pylist(), line_nos.to_pylist()
            )
            arrays = [batch.column(0), line_nos, *arrays]
            if spec.is_tsv:
                arrays.append(pa.array(headers, pa.string()))
            yield pa.RecordBatch.from_arrays(arrays, names=out_schema.fieldNames())

    routed = lines_df.select(
        F.col("source").cast("string"), F.col("line_no").cast("long"), "raw"
    ).mapInArrow(run, out_schema)
    return _finalize_routed(routed, spec.is_tsv, opt)


fast_parse_routed = parse_routed


def parse_documents(
    docs: DataFrame,
    fmt: str | Sequence[str],
    opt: Option | None = None,
    source_col: str = "url",
    text_col: str = "text",
    keep: Sequence[str] = (),
) -> DataFrame:
    """Whole documents in, routed lines out, in ONE ``mapInArrow`` stage.

    Each non-empty ``text_col`` is split with ``bufio.ScanLines``
    semantics (``ziparchive._scan_lines``, the model
    :func:`.sources.text.explode_lines` follows) and its lines run the same
    core as :func:`parse_routed`. Returns (source, line_no, status,
    pattern_id, out_line, raw, *keep): ``explode_lines(keep=keep)`` then
    ``parse_routed`` row for row, except that the line handler gets
    ``is_first=True`` for the first line of each DOCUMENT that reaches it,
    as in the reference (parser_core.go:182,245). So the ``tsv`` header
    row needs no window, a url on two pages gets a header on each, and a
    custom handler sees ``isFirst``. The ``keep`` columns are the
    document's own Arrow values repeated per line (``pa.Array.take``),
    never converted to Python.
    """
    opt = opt or Option()
    spec = _RouteSpec.build(fmt, opt)
    keep = list(keep)
    out_schema = StructType(ROUTED_SCHEMA.fields + [docs.schema[c] for c in keep])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        router = spec.compile()
        for batch in batches:
            doc_ids: list[int] = []
            line_nos: list[int] = []
            raws: list[str] = []
            for d, text in enumerate(batch.column(1).to_pylist()):
                lines = _scan_lines(text)
                doc_ids.extend([d] * len(lines))
                line_nos.extend(range(1, len(lines) + 1))
                raws.extend(lines)
            arrays, _ = _route_arrays(router, raws, line_nos, doc_ids)
            take = pa.array(doc_ids, pa.int32())
            arrays = [
                batch.column(0).take(take),
                pa.array(line_nos, pa.int64()),
                *arrays,
            ]
            arrays.extend(batch.column(2 + k).take(take) for k in range(len(keep)))
            yield pa.RecordBatch.from_arrays(arrays, names=out_schema.fieldNames())

    text = F.col(text_col)
    routed = (
        docs.filter(text.isNotNull() & (text != ""))
        .select(F.col(source_col).alias("source"), text.alias("text"), *keep)
        .mapInArrow(run, out_schema)
    )
    return _finalize_routed(routed, False, opt)


def _finalize_routed(routed: DataFrame, is_tsv: bool, opt: Option) -> DataFrame:
    """Catalyst-side finalization shared by both routed entries: the TSV
    first-matched-per-source header (lines-in only, from the hop's
    ``tsv_header`` column), then prefix decoration."""
    if is_tsv:
        # isFirst = first matched line per source (parser_core.go:182,245);
        # a single partition-window min, no global sort.
        w = Window.partitionBy("source")
        first_line = F.min(
            F.when(F.col("status") == MATCHED, F.col("line_no"))
        ).over(w)
        routed = routed.withColumn(
            "out_line",
            F.when(
                (F.col("status") == MATCHED) & (F.col("line_no") == first_line),
                F.concat_ws("\n", F.col("tsv_header"), F.col("out_line")),
            ).otherwise(F.col("out_line")),
        ).drop("tsv_header")

    if opt.prefix:
        # applyPrefix (parser_core.go:323-334), multi-line aware for matched
        # output; unmatched raws get the single-line UNMATCHED prefix
        # (parser_core.go:203-205). ANSI-colored pair on a tty
        # (parser_core.go:186-189) or when Option(color=True).
        mpref, upref = prefix_strings(opt.resolve_color())
        routed = routed.withColumn(
            "out_line",
            F.when(
                F.col("status") == MATCHED, multiline_prefix(F.col("out_line"), mpref)
            )
            .when(
                (F.col("status") == UNMATCHED) & F.col("out_line").isNotNull(),
                F.concat(F.lit(upref), F.col("out_line")),
            )
            .otherwise(F.col("out_line")),
        )
    return routed


def extract_fields(
    lines_df: DataFrame,
    fmt: str | Sequence[str],
    passthrough: Sequence[str] = (),
    line_col: str = "raw",
    raw_when_unmatched: bool = False,
    fields: Sequence[str] | None = None,
) -> DataFrame:
    """Structured surface: decode lines into typed string columns.

    Output = passthrough columns + (pattern_id int, one string column per
    capture group in the union schema; groups absent from the winning
    pattern are NULL; pattern_id = -1 marks unmatched rows). This is the
    column-oriented equivalent of the reference's (labels, values) slices
    (parser_core.go:69) and feeds joins/aggregations without further Python.

    The Python hop is ``mapInArrow``: passthrough columns go back as the
    Arrow arrays they arrived as, and decoded columns are built straight
    into Arrow arrays, with no pandas frame on either side.

    ``fields`` pushes column pruning through the UDF boundary: Catalyst
    cannot prune inside a black-box ``mapInArrow``, so a downstream
    ``.select`` of 5 of 33 CloudFront fields would otherwise still pay
    Python materialization + Arrow transfer for all 33. Selection keeps
    union (line) order and silently drops unknown names — the reference's
    ``selectLabels`` semantics (parser_core.go:291-305).
    """
    if isinstance(fmt, str) and fmt == "ltsv":
        raise ValueError("extract_fields is regex-only; use extract_ltsv for LTSV")
    pattern_strs = _resolve_patterns(fmt)
    if not pattern_strs:
        raise decoders.NoPatternError
    union = pat.union_schema(pat.compile_patterns(pattern_strs))
    if fields is not None:
        wanted = set(fields)
        union = [n for n in union if n in wanted]

    passthrough = list(passthrough)
    out_schema = StructType(
        [lines_df.schema[c] for c in passthrough]
        + [StructField("pattern_id", IntegerType())]
        + ([StructField("raw", StringType())] if raw_when_unmatched else [])
        + [StructField(name, StringType()) for name in union]
    )
    n_pass = len(passthrough)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        plan = decoders.compile_plan(pat.compile_patterns(pattern_strs))
        for batch in batches:
            # columns by position: line_col may also be a passthrough column
            raws = batch.column(n_pass).to_pylist()
            pids, cols = plan.columns(raws, union)
            arrays = [batch.column(k) for k in range(n_pass)]
            arrays.append(pa.array(pids, pa.int32()))
            if raw_when_unmatched:
                # built from Python strings: pyarrow's if_else would keep
                # every line's bytes in the data buffer sent back to the JVM
                arrays.append(
                    pa.array([r if p < 0 else None for r, p in zip(raws, pids)], pa.string())
                )
            arrays.extend(pa.array(c, pa.string()) for c in cols)
            yield pa.RecordBatch.from_arrays(arrays, names=out_schema.fieldNames())

    return lines_df.select(*passthrough, line_col).mapInArrow(run, out_schema)


def extract_ltsv(
    lines_df: DataFrame,
    passthrough: Sequence[str] = (),
    line_col: str = "raw",
) -> DataFrame:
    """LTSV structured surface: per-line dynamic schema kept as ordered
    parallel arrays (labels, values) — NOT a MapType, because Spark maps do
    not preserve insertion order and serialization order matters
    (SURVEY.md §1.3). ``labels`` is NULL for invalid lines."""
    passthrough = list(passthrough)
    out_schema = StructType(
        [lines_df.schema[c] for c in passthrough]
        + [
            StructField("labels", ArrayType(StringType())),
            StructField("values", ArrayType(StringType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ls, vs = decoders.ltsv_decode_batch(pdf[line_col].tolist())
            data = {c: pdf[c] for c in passthrough}
            data["labels"] = pd.Series(ls, dtype="object")
            data["values"] = pd.Series(vs, dtype="object")
            yield pd.DataFrame(data)

    return lines_df.select(*passthrough, line_col).mapInPandas(run, out_schema)
