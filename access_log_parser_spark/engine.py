"""Vectorized parse engine — the core of the PySpark-native rebuild.

Everything the reference does per line in its eager loop
(`/root/reference/parser_core.go:176-254`: skip-check -> decode ->
unmatched? -> filter -> selectLabels -> addLineNumber -> LineHandler ->
applyPrefix -> write) runs here as ONE Arrow-batched Python pass,
``_Router.route``, whose output arrays go back to the JVM as they are.
Design goals at 100 TB:

- exactly one Python<->JVM hop on the hot path (skip check, regex decode,
  DSL filter, serialization and prefix all happen in the same Arrow batch
  function);
- regexes and filter predicates compile once per task, not per line
  (the reference recompiles filters per line — parser_core.go:220), and a
  prefix-chained pattern list such as the S3 preset compiles into one
  fused regex, so a line costs one search instead of up to five
  (:class:`.decoders.DecodePlan`);
- everything the driver can settle (pattern and filter validation, the
  handler, the prefix pair and its tty color check) is settled once in
  ``_RouteSpec.build``, never in a task, and no global ordering is ever
  collected to the driver.

Surfaces:

- reference parity (Option semantics, byte-exact serialized output lines,
  status routing column, error rows): ONE routed implementation. Two
  entries share one per-line core (``_RouteSpec`` built and validated
  before any task runs, ``_Router.route`` per batch, which also builds the
  batch's routed Arrow arrays), so their outputs cannot drift apart:

  - :func:`parse_documents` takes whole documents and is one
    ``mapInArrow`` stage: it splits each text with the scanner's exact
    ``bufio.ScanLines`` model and hands carried document columns back as
    Arrow arrays. The Parser verbs, the pipeline and the streaming surface
    use it;
  - :func:`parse_routed` takes exploded lines through ``mapInArrow``, for
    callers that already hold lines (the bench, the registry queries);

  ``isFirst`` has one model, in the router: the handler gets True for the
  first line of each input that reaches it (parser_core.go:182,245), an
  input being a document for :func:`parse_documents` and a ``source`` for
  :func:`parse_routed`. No window over ``source`` fixes it up afterwards.
- :func:`extract_fields` / :func:`extract_ltsv` — the Spark-native
  structured surface: typed string columns (union of capture groups) for
  SQL, joins and aggregation. Both hop through ``mapInArrow`` and build
  ``pa.array``s directly.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
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
from .handlers import HANDLERS, apply_prefix, prefix_strings
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


# built-in handlers that never read isFirst (handler.go:15-96)
_FLAGLESS_HANDLERS = ("json", "pretty_json", "kv", "ltsv")

# the key no input has: the first line to reach a task's handler is first
_NO_KEY = object()

_BATCH_ROWS_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


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
    reads_first: bool
    filter_exprs: tuple[str, ...]
    emit_unmatch: bool
    # (matched, unmatched) prefix pair, None without Option(prefix=True)
    prefixes: tuple[str, str] | None

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
        # identity check, not the name: every built-in but tsv ignores
        # isFirst, while tsv and any user callable may read it
        reads_first = not any(handler is HANDLERS[n] for n in _FLAGLESS_HANDLERS)
        return cls(
            pattern_strs=pattern_strs,
            skip_set=frozenset(int(s) for s in opt.skip_lines),
            labels_sel=tuple(opt.labels),
            add_no=bool(opt.line_number),
            handler=handler,
            reads_first=reads_first,
            filter_exprs=tuple(opt.filters),
            emit_unmatch=bool(opt.unmatch_lines),
            # ANSI-colored pair on a tty (parser_core.go:186-189) or with
            # Option(color=True); the tty check runs here, on the driver
            prefixes=prefix_strings(opt.resolve_color()) if opt.prefix else None,
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
    # key of the last line that reached the handler, across the batches
    # of one task
    last_key: object = _NO_KEY

    def route(
        self,
        raws: list[str | None],
        line_nos: list[int],
        keys: Sequence[object],
    ) -> list[pa.Array]:
        """The reference's per-line loop over one batch: skip-check ->
        decode -> unmatched? -> filter -> selectLabels -> addLineNumber ->
        LineHandler -> applyPrefix (parser_core.go:176-254, 323-334).

        ``keys`` names each line's input, the lines of one input contiguous
        and in ``line_no`` order. The handler gets the reference's
        ``isFirst`` (parser_core.go:182,245): True when the line's key
        differs from that of the last line that reached the handler.
        Returns the (status, pattern_id, out_line, raw) Arrow arrays;
        ``raw`` is kept only on unmatched rows, for the errors sink
        (parser_result.go:32-36). A NULL line that is not skipped is
        unmatched, with a NULL ``out_line`` and ``raw``."""
        spec, plan, filt = self.spec, self.plan, self.filt
        n = len(raws)
        status = [MATCHED] * n
        pids = [-1] * n
        out: list[str | None] = [None] * n
        err: list[str | None] = [None] * n

        live = []
        for i, ln in enumerate(line_nos):
            if ln in spec.skip_set:
                status[i] = SKIPPED
            else:
                live.append(i)

        # pattern_id, labels and values per live line; labels None if
        # unmatched, a NULL line among them (the decoders' rule)
        live_raws = [raws[i] for i in live]
        if plan is not None:
            live_pids, live_vs = plan.decode(live_raws)
            names = plan.names
            live_ls = [names[pid] if pid >= 0 else None for pid in live_pids]
        else:
            live_ls, live_vs = decoders.ltsv_decode_batch(live_raws)
            live_pids = [-1 if ls is None else 0 for ls in live_ls]

        handler = spec.handler
        mpref, upref = spec.prefixes or (None, "")
        last_key = self.last_key
        for i, pid, ls, vs in zip(live, live_pids, live_ls, live_vs):
            pids[i] = pid
            if ls is None:
                status[i] = UNMATCHED
                err[i] = raws[i]
                if spec.emit_unmatch and raws[i] is not None:
                    # the single-line UNMATCHED prefix (parser_core.go:203-205)
                    out[i] = upref + raws[i]
                continue
            if filt and not apply_filters(filt, ls, vs):
                status[i] = EXCLUDED
                continue
            if spec.labels_sel:
                ls, vs = decoders.select_labels(spec.labels_sel, ls, vs)
            if spec.add_no:
                ls = ["no", *ls]
                vs = [str(line_nos[i]), *vs]
            key = keys[i]
            line = handler(ls, vs, key != last_key)
            last_key = key
            out[i] = line if mpref is None else apply_prefix(line, mpref)
        self.last_key = last_key
        return [
            pa.array(status, pa.string()),
            pa.array(pids, pa.int32()),
            pa.array(out, pa.string()),
            pa.array(err, pa.string()),
        ]


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

    Each ``source`` is one input: the handler gets ``is_first=True`` for
    the first line of each source that reaches it. When the handler can
    read that flag (``tsv`` or a user callable), the lines are
    hash-partitioned by ``source`` and sorted by ``(source, line_no)``
    ahead of the hop, one Exchange; the other built-ins run where the
    lines already are.

    ``fast_parse_routed`` is the same function under its old name, kept
    for callers that still use it (the perfbench workloads).
    """
    opt = opt or Option()
    spec = _RouteSpec.build(fmt, opt)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        router = spec.compile()
        for batch in batches:
            sources, line_nos = batch.column(0), batch.column(1)
            # flagless handlers ignore isFirst: one key for every line
            keys = sources.to_pylist() if spec.reads_first else [None] * batch.num_rows
            arrays = router.route(batch.column(2).to_pylist(), line_nos.to_pylist(), keys)
            yield pa.RecordBatch.from_arrays(
                [sources, line_nos, *arrays], names=ROUTED_SCHEMA.fieldNames()
            )

    lines = lines_df.select(
        F.col("source").cast("string"), F.col("line_no").cast("long"), "raw"
    )
    if spec.reads_first:
        lines = lines.repartition("source").sortWithinPartitions("source", "line_no")
    return lines.mapInArrow(run, ROUTED_SCHEMA)


fast_parse_routed = parse_routed


def _line_chunks(
    texts: list[str], size: int
) -> Iterator[tuple[list[int], list[int], list[str]]]:
    """The lines of ``texts`` in order, split with ``bufio.ScanLines``
    semantics, as (document index, line_no, raw) lists of at most ``size``
    lines (no limit when ``size <= 0``); a long document spans several."""
    size = size if size > 0 else sys.maxsize
    doc_ids: list[int] = []
    line_nos: list[int] = []
    raws: list[str] = []
    for d, text in enumerate(texts):
        lines = _scan_lines(text)
        lo = 0
        while lo < len(lines):
            hi = min(len(lines), lo + size - len(raws))
            doc_ids.extend([d] * (hi - lo))
            line_nos.extend(range(lo + 1, hi + 1))
            raws.extend(lines[lo:hi])
            lo = hi
            if len(raws) == size:
                yield doc_ids, line_nos, raws
                doc_ids, line_nos, raws = [], [], []
    if raws:
        yield doc_ids, line_nos, raws


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
    ``parse_routed`` row for row, except that each DOCUMENT is one input:
    the line handler gets ``is_first=True`` for the first line of each
    document that reaches it, as in the reference (parser_core.go:182,245),
    so a url on two pages gets a ``tsv`` header on each. The ``keep``
    columns are the document's own Arrow values repeated per line
    (``pa.Array.take``), never converted to Python. Lines are routed and
    yielded at most ``spark.sql.execution.arrow.maxRecordsPerBatch`` at a
    time, so a whole file (``parse_file``) spans several output batches
    instead of building one that grows with the file.
    """
    opt = opt or Option()
    spec = _RouteSpec.build(fmt, opt)
    keep = list(keep)
    out_schema = StructType(ROUTED_SCHEMA.fields + [docs.schema[c] for c in keep])

    size = int(docs.sparkSession.conf.get(_BATCH_ROWS_CONF, "10000"))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        router = spec.compile()
        for batch in batches:
            # a document never spans two Arrow batches: its index in the
            # batch is the input key
            router.last_key = _NO_KEY
            for doc_ids, line_nos, raws in _line_chunks(
                batch.column(1).to_pylist(), size
            ):
                arrays = router.route(raws, line_nos, doc_ids)
                take = pa.array(doc_ids, pa.int32())
                arrays = [
                    batch.column(0).take(take),
                    pa.array(line_nos, pa.int64()),
                    *arrays,
                ]
                arrays.extend(batch.column(2 + k).take(take) for k in range(len(keep)))
                yield pa.RecordBatch.from_arrays(arrays, names=out_schema.fieldNames())

    text = F.col(text_col)
    return (
        docs.filter(text.isNotNull() & (text != ""))
        .select(F.col(source_col).alias("source"), text.alias("text"), *keep)
        .mapInArrow(run, out_schema)
    )


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
    pattern are NULL; pattern_id = -1 marks unmatched rows, NULL lines
    among them, as in the SQL UDTF). This is the column-oriented
    equivalent of the reference's (labels, values) slices
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
    (SURVEY.md §1.3). ``labels`` and ``values`` are NULL for invalid and
    NULL lines. Like :func:`extract_fields`, the Python hop is
    ``mapInArrow``: passthrough columns go back as the Arrow arrays they
    arrived as."""
    passthrough = list(passthrough)
    out_schema = StructType(
        [lines_df.schema[c] for c in passthrough]
        + [
            StructField("labels", ArrayType(StringType())),
            StructField("values", ArrayType(StringType())),
        ]
    )
    n_pass = len(passthrough)
    list_type = pa.list_(pa.string())

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # columns by position: line_col may also be a passthrough column
            ls, vs = decoders.ltsv_decode_batch(batch.column(n_pass).to_pylist())
            arrays = [batch.column(k) for k in range(n_pass)]
            arrays += [pa.array(ls, list_type), pa.array(vs, list_type)]
            yield pa.RecordBatch.from_arrays(arrays, names=out_schema.fieldNames())

    return lines_df.select(*passthrough, line_col).mapInArrow(run, out_schema)
