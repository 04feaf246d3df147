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
- the per-line body is specialised once per pattern, per task
  (``_RouteSpec.compile``): each pattern gets its filter bound to its
  labels, the getter of its selected groups, the ``no`` slot and a row
  function from the handler's compiler (:mod:`.handlers`), so a matched
  line costs one ``Match.groups`` read, one template fill and, for the
  escaping handlers, one escape call, with no per-line label list. LTSV
  input, whose labels are the line's own, runs the same loop: each
  distinct label tuple of a batch gets one route, built for that batch
  only, so a batch that repeats its label tuples builds few. A user
  callable gets each route's label list and the line's values as fresh
  lists;
- everything the driver can settle (pattern and filter validation, the
  handler, the prefix pair and its tty color check) is settled once in
  ``_RouteSpec.build``, never in a task, and no global ordering is ever
  collected to the driver.

Surfaces:

- reference parity (Option semantics, byte-exact serialized output lines,
  status routing column, error rows): ONE routed implementation. Two
  entries share one ``mapInArrow`` body (``_route_batches``) and so one
  per-line core (``_RouteSpec`` built and validated before any task runs,
  ``_Router.route`` per batch, which also builds the batch's routed Arrow
  arrays), so their outputs cannot drift apart:

  - :func:`parse_routed` takes exploded lines, for callers that already
    hold them (the bench, the registry queries);
  - :func:`parse_documents` takes whole documents, splits them with
    :func:`.sources.text.explode_lines` (the one line scanner, in
    Catalyst) and runs the same hop, handing carried document columns
    back as Arrow arrays. The Parser verbs, the pipeline and the streaming
    surface use it;

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

from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass
from functools import partial
from itertools import accumulate
from operator import itemgetter

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
from .filters import bind_filters, compile_filters
from .handlers import COMPILERS, HANDLERS, LineHandler, RowFn, apply_prefix, prefix_strings
from .options import Option
from .sources.text import explode_lines

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


def _resolve_patterns(fmt: str | Sequence[str]) -> list[str] | None:
    """fmt is 'ltsv', a preset name, or an explicit pattern list."""
    if isinstance(fmt, str):
        if fmt == "ltsv":
            return None
        return list(pat.PRESETS[fmt])
    return [str(p) for p in fmt]


def _user_row(handler: LineHandler, labels: Sequence[str]) -> RowFn:
    """A user callable as a row function: fresh label and value lists per
    call, as the per-line loop hands them."""

    def row(values: Sequence[str], is_first: bool) -> str:
        return handler(list(labels), list(values), is_first)

    return row


def _picker(idx: Sequence[int]) -> Callable[[Sequence[str]], Sequence[str]]:
    """The values at ``idx`` of a line's groups: one slice when ``idx`` is
    a leading run (no label selection)."""
    if list(idx) == list(range(len(idx))):
        return itemgetter(slice(0, len(idx)))
    if len(idx) == 1:
        i = idx[0]
        return lambda g: (g[i],)
    return itemgetter(*idx)


# per pattern or LTSV label tuple: the pattern_id, the filter over the
# line's groups (None without filters), the output values' getter and the
# row function
_Route = tuple[
    int, Callable[[Sequence[str]], bool] | None, Callable[[Sequence[str]], Sequence[str]], RowFn
]


@dataclass(frozen=True)
class _RouteSpec:
    """Everything the per-line core needs, validated on the driver and
    shipped to the tasks."""

    pattern_strs: list[str] | None
    skip_set: frozenset[int]
    labels_sel: tuple[str, ...]
    add_no: bool
    # labels -> row function: a built-in's compiler, or a user callable
    # wrapped by ``_user_row``
    compiler: Callable[[Sequence[str]], RowFn]
    reads_first: bool
    filter_exprs: tuple[str, ...]
    emit_unmatch: bool
    # (matched, unmatched) prefix pair, None without Option(prefix=True)
    prefixes: tuple[str, str] | None

    @classmethod
    def build(cls, fmt: str | Sequence[str], opt: Option) -> _RouteSpec:
        pattern_strs = _resolve_patterns(fmt)
        if pattern_strs is not None:
            # the tasks' own compile, run here so that pattern errors
            # (AddPattern semantics, parser_regex.go:74-89) surface on the driver
            decoders.compile_plan(pattern_strs)
        # Driver-side DSL validation: syntax + operator errors surface before
        # any task runs; data-dependent errors (unknown label, non-numeric
        # value) still abort at execution, matching parser_core.go:220-223.
        compile_filters(opt.filters)
        handler = opt.resolve_handler()
        # identity, not the name: Option(line_handler=handlers.tsv_line_handler)
        # is the built-in; every built-in but tsv ignores isFirst, while tsv
        # and any user callable may read it
        name = next((n for n, h in HANDLERS.items() if h is handler), None)
        return cls(
            pattern_strs=pattern_strs,
            skip_set=frozenset(int(s) for s in opt.skip_lines),
            labels_sel=tuple(opt.labels),
            add_no=bool(opt.line_number),
            compiler=COMPILERS.get(name) or partial(_user_row, handler),
            reads_first=name not in _FLAGLESS_HANDLERS,
            filter_exprs=tuple(opt.filters),
            emit_unmatch=bool(opt.unmatch_lines),
            # ANSI-colored pair on a tty (parser_core.go:186-189) or with
            # Option(color=True); the tty check runs here, on the driver
            prefixes=prefix_strings(opt.resolve_color()) if opt.prefix else None,
        )

    def compile(self) -> _Router:
        """Once per task: the decode plan, compiled from the pattern strings
        (a plan cannot be pickled), the filter predicates and each
        pattern's route (:meth:`_route`). LTSV routes are built per batch,
        in ``_Router.route``."""
        filt = compile_filters(self.filter_exprs)
        if self.pattern_strs is None:
            return _Router(self, None, filt, ())
        plan = decoders.compile_plan(self.pattern_strs)
        routes = tuple(self._route(pid, names, filt) for pid, names in enumerate(plan.names))
        return _Router(self, plan, filt, routes)

    def _route(self, pid: int, names: Sequence[str], filt: dict) -> _Route:
        """The route of one label list: ``pid``, the filter bound to
        ``names``, the getter of the selected values (selectLabels,
        parser_core.go:291-305) and the row function compiled for the
        output labels, ``no`` first with ``Option(line_number=True)``."""
        if self.labels_sel:
            wanted = set(self.labels_sel)
            idx = [j for j, name in enumerate(names) if name in wanted]
        else:
            idx = range(len(names))
        labels = [names[j] for j in idx]
        if self.add_no:
            labels.insert(0, "no")
        keep = bind_filters(filt, names) if filt else None
        return pid, keep, _picker(idx), self.compiler(tuple(labels))


@dataclass
class _Router:
    spec: _RouteSpec
    plan: decoders.DecodePlan | None
    filt: dict
    # one route per pattern of ``plan``
    routes: tuple[_Route, ...]
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
        unmatched, with a NULL ``out_line`` and ``raw``.

        A line runs the route of its key: a regex line's key is its
        pattern_id and its groups are the match's, read once; an LTSV
        line's key is its label tuple and its groups are its values. Each
        distinct label tuple of the batch gets its route here, and no LTSV
        route outlives the batch."""
        spec = self.spec
        n = len(raws)
        status = [MATCHED] * n
        pids = [-1] * n
        out: list[str | None] = [None] * n
        err: list[str | None] = [None] * n

        if spec.skip_set:
            live = []
            for i, ln in enumerate(line_nos):
                if ln in spec.skip_set:
                    status[i] = SKIPPED
                else:
                    live.append(i)
            live_raws = [raws[i] for i in live]
        else:
            live, live_raws = range(n), raws
        regex = self.plan is not None
        if regex:
            route_keys, found = self.plan.match(live_raws)
            routes = self.routes
        else:
            route_keys, found = decoders.ltsv_decode_batch(live_raws)
            routes = {ls: spec._route(0, ls, self.filt) for ls in set(route_keys) - {None}}
        mpref, upref = spec.prefixes or (None, "")
        add_no = spec.add_no
        last_key = self.last_key
        for i, rkey, m in zip(live, route_keys, found):
            if m is None:
                status[i] = UNMATCHED
                err[i] = raws[i]
                if spec.emit_unmatch and raws[i] is not None:
                    # the single-line UNMATCHED prefix (parser_core.go:203-205)
                    out[i] = upref + raws[i]
                continue
            pid, keep, pick, row = routes[rkey]
            pids[i] = pid
            g = m.groups("") if regex else m
            if keep is not None and not keep(g):
                status[i] = EXCLUDED
                continue
            vs = pick(g)
            if add_no:
                vs = (str(line_nos[i]), *vs)
            key = keys[i]
            line = row(vs, key != last_key)
            last_key = key
            out[i] = line if mpref is None else apply_prefix(line, mpref)
        self.last_key = last_key
        return [
            pa.array(status, pa.string()),
            pa.array(pids, pa.int32()),
            pa.array(out, pa.string()),
            pa.array(err, pa.string()),
        ]


def _pylist(arr: pa.Array) -> list:
    """``arr.to_pylist()``, built by ``to_numpy`` where that gives the same
    values: pyarrow's ``to_pylist`` makes a Scalar per element, ~7x slower
    on a batch of S3 lines (pyarrow 16). An integer array with NULLs would
    come back as floats, so it keeps ``to_pylist``."""
    if arr.null_count and pa.types.is_integer(arr.type):
        return arr.to_pylist()
    return arr.to_numpy(zero_copy_only=False).tolist()


def _route_batches(
    spec: _RouteSpec, by_doc: bool, batches: Iterator[pa.RecordBatch]
) -> Iterator[pa.RecordBatch]:
    """The ``mapInArrow`` body of both routed entries: (source, line_no,
    raw, *carried) batches in, (source, line_no, status, pattern_id,
    out_line, raw, *carried) out, the source, line_no and carried columns
    being the Arrow arrays they arrived in.

    The input key is ``source``, or with ``by_doc`` a document counter
    that goes up at each ``line_no == 1`` and carries across the task's
    batches, as the router's last key does; the flagless handlers ignore
    ``isFirst``, so they get one key for every line."""
    router = spec.compile()
    doc = 0
    for batch in batches:
        sources, line_nos = batch.column(0), batch.column(1)
        nos = _pylist(line_nos)
        if not spec.reads_first:
            keys: Sequence[object] = [None] * batch.num_rows
        elif by_doc:
            # each document starts at its line 1
            starts = list(accumulate((n == 1 for n in nos), initial=doc))
            keys, doc = starts[1:], starts[-1]
        else:
            keys = _pylist(sources)
        arrays = router.route(_pylist(batch.column(2)), nos, keys)
        yield pa.RecordBatch.from_arrays(
            [sources, line_nos, *arrays, *batch.columns[3:]],
            names=ROUTED_SCHEMA.fieldNames() + batch.schema.names[3:],
        )


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
    lines = lines_df.select(
        F.col("source").cast("string"), F.col("line_no").cast("long"), "raw"
    )
    if spec.reads_first:
        lines = lines.repartition("source").sortWithinPartitions("source", "line_no")
    return lines.mapInArrow(partial(_route_batches, spec, False), ROUTED_SCHEMA)


fast_parse_routed = parse_routed


def parse_documents(
    docs: DataFrame,
    fmt: str | Sequence[str],
    opt: Option | None = None,
    source_col: str = "url",
    text_col: str = "text",
    keep: Sequence[str] = (),
) -> DataFrame:
    """Whole documents in, routed lines out: :func:`.sources.text.explode_lines`
    into the ``mapInArrow`` hop that :func:`parse_routed` runs.

    Returns (source, line_no, status, pattern_id, out_line, raw, *keep):
    ``explode_lines(keep=keep)`` then ``parse_routed`` row for row, except
    that each DOCUMENT is one input: the line handler gets
    ``is_first=True`` for the first line of each document that reaches it,
    as in the reference (parser_core.go:182,245), so a url on two pages
    gets a ``tsv`` header on each. The explode keeps each document's lines
    contiguous and in order, and the hop needs no Exchange. The ``keep``
    columns go back as the Arrow arrays they arrived in, never converted
    to Python, and the Python worker gets at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` lines at a time,
    never a whole document.
    """
    opt = opt or Option()
    spec = _RouteSpec.build(fmt, opt)
    lines = explode_lines(docs, text_col, source_col, tuple(keep))
    out_schema = StructType(ROUTED_SCHEMA.fields + [lines.schema[c] for c in keep])
    return lines.mapInArrow(partial(_route_batches, spec, True), out_schema)


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
    union = decoders.compile_plan(pattern_strs).union
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
        plan = decoders.compile_plan(pattern_strs)
        for batch in batches:
            # columns by position: line_col may also be a passthrough column
            raws = _pylist(batch.column(n_pass))
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
            ls, vs = decoders.ltsv_decode_batch(_pylist(batch.column(n_pass)))
            arrays = [batch.column(k) for k in range(n_pass)]
            arrays += [pa.array(ls, list_type), pa.array(vs, list_type)]
            yield pa.RecordBatch.from_arrays(arrays, names=out_schema.fieldNames())

    return lines_df.select(*passthrough, line_col).mapInArrow(run, out_schema)
