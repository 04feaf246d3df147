"""Line serializers ("handlers").

Byte-compatible re-implementations of the reference's five output encoders
(its `handler.go:15-144`). Each is a COMPILER: it takes a
label tuple and returns a row function ``row(values, is_first)`` that
serializes one values tuple under those labels. The engine compiles one
row function per route, inside its single ``mapInArrow`` pass
(:class:`..engine._RouteSpec`): per regex pattern once per task, per
LTSV label tuple once per batch. The public ``(labels, values,
is_first)`` functions in :data:`HANDLERS` build the same template and
call the same fill per call. They serve direct use and ``Option``
resolution: ``Option(line_handler=...)`` names one of them, by name or
by the function itself, and the engine runs its compiler from
:data:`COMPILERS`. A row function is the fill with its template bound
(``functools.partial``). They are the engine's only serializers.
``json.dumps`` /
``F.to_json`` are NOT used: the reference escapes only ``\\ " \\n \\r
\\t`` and passes every other byte through raw (`handler.go:127-144`),
which differs from standard JSON encoders.

- json, pretty_json and kv fill one ``%``-template built from the labels
  (each label ``%``-escaped), and escape a row with ONE
  :func:`escape_string` call over the values joined by ``"\\x00"``, split
  back on ``"\\x00"``. The join is exact: the five escapes are local and
  never write a NUL. A row that splits back into more parts than it has
  values held a NUL in a value, and is escaped value by value instead.
- ltsv and tsv write ``-`` for an empty value; tsv prepends the header
  row, every label, when ``is_first``.

Semantics shared by all handlers (`handler.go` loops): iterate values, guard
``i < len(labels)`` — extra values are dropped, missing values truncate. A
row function takes exactly one value per label (tsv: at most one); the
public functions truncate first.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import partial

LineHandler = Callable[[Sequence[str], Sequence[str], bool], str]
# one values tuple (one per label) and isFirst -> the serialized line
RowFn = Callable[[Sequence[str], bool], str]


def escape_string(s: str) -> str:
    """writeEscapedString (handler.go:127-144): only 5 escapes, rest raw.

    Guarded ``str.replace`` calls, backslash first so no escape is escaped
    twice: most values contain none of the five characters and cost five
    substring scans, several times cheaper than ``str.translate``."""
    if "\\" in s:
        s = s.replace("\\", "\\\\")
    if '"' in s:
        s = s.replace('"', '\\"')
    if "\n" in s:
        s = s.replace("\n", "\\n")
    if "\r" in s:
        s = s.replace("\r", "\\r")
    if "\t" in s:
        s = s.replace("\t", "\\t")
    return s


def _fill_escaped(template: str, values: Sequence[str], _is_first: bool = False) -> str:
    """``template``'s ``%s`` slots, one per value, filled with the escaped
    values: one :func:`escape_string` call over the NUL-joined values."""
    parts = escape_string("\x00".join(values)).split("\x00")
    if len(parts) != len(values):  # a value holds a NUL
        parts = [escape_string(v) for v in values]
    return template % tuple(parts)


def _fill_dashed(template: str, values: Sequence[str], _is_first: bool = False) -> str:
    """``template``'s slots filled with the values, "-" for an empty one."""
    return template % tuple([v if v else "-" for v in values])


def _tsv_row(labels: Sequence[str], values: Sequence[str], is_first: bool = False) -> str:
    """Tab-joined values, empty -> "-", the header row of every label
    prepended when is_first; the body reads only the values."""
    body = "\t".join([v if v else "-" for v in values])
    if is_first:
        return "\t".join(labels) + "\n" + body
    return body


# the templates: each label as literal text ("%" doubled) and a "%s" slot
# for its value


def _json_template(labels: Sequence[str]) -> str:
    return "{" + ",".join([f'"{k.replace("%", "%%")}":"%s"' for k in labels]) + "}"


def _pretty_json_template(labels: Sequence[str]) -> str:
    return "{\n" + ",\n".join([f'  "{k.replace("%", "%%")}": "%s"' for k in labels]) + "\n}"


def _kv_template(labels: Sequence[str]) -> str:
    return " ".join([f'{k.replace("%", "%%")}="%s"' for k in labels])


def _ltsv_template(labels: Sequence[str]) -> str:
    return "\t".join([f'{k.replace("%", "%%")}:%s' for k in labels])


def compile_json(labels: Sequence[str]) -> RowFn:
    """NDJSON object, insertion-ordered keys, all values quoted strings
    (handler.go:15-34)."""
    return partial(_fill_escaped, _json_template(labels))


def compile_pretty_json(labels: Sequence[str]) -> RowFn:
    """Indented multi-line JSON (handler.go:37-56)."""
    return partial(_fill_escaped, _pretty_json_template(labels))


def compile_kv(labels: Sequence[str]) -> RowFn:
    """Space-joined k="v" pairs (handler.go:59-75)."""
    return partial(_fill_escaped, _kv_template(labels))


def compile_ltsv(labels: Sequence[str]) -> RowFn:
    """Tab-joined k:v, empty value -> "-" (handler.go:78-96)."""
    return partial(_fill_dashed, _ltsv_template(labels))


def compile_tsv(labels: Sequence[str]) -> RowFn:
    """Tab-joined values, empty -> "-", header row of every label prepended
    when is_first (handler.go:99-123). No ANSI color (non-tty path)."""
    return partial(_tsv_row, tuple(labels))


# The per-line handlers: the same template and fill, after the
# ``i < len(labels)`` guard. The tsv header names every label, also those
# past the last value.


def _guard(labels: Sequence[str], values: Sequence[str]) -> tuple[Sequence[str], Sequence[str]]:
    if len(labels) == len(values):
        return labels, values
    n = min(len(labels), len(values))
    return labels[:n], values[:n]


def json_line_handler(labels: Sequence[str], values: Sequence[str], is_first: bool = False) -> str:
    labels, values = _guard(labels, values)
    return _fill_escaped(_json_template(labels), values)


def pretty_json_line_handler(
    labels: Sequence[str], values: Sequence[str], is_first: bool = False
) -> str:
    labels, values = _guard(labels, values)
    return _fill_escaped(_pretty_json_template(labels), values)


def kv_pair_line_handler(
    labels: Sequence[str], values: Sequence[str], is_first: bool = False
) -> str:
    labels, values = _guard(labels, values)
    return _fill_escaped(_kv_template(labels), values)


def ltsv_line_handler(labels: Sequence[str], values: Sequence[str], is_first: bool = False) -> str:
    labels, values = _guard(labels, values)
    return _fill_dashed(_ltsv_template(labels), values)


def tsv_line_handler(labels: Sequence[str], values: Sequence[str], is_first: bool = False) -> str:
    if len(values) > len(labels):
        values = values[: len(labels)]
    return _tsv_row(labels, values, is_first)


HANDLERS: dict[str, LineHandler] = {
    "json": json_line_handler,
    "pretty_json": pretty_json_line_handler,
    "kv": kv_pair_line_handler,
    "ltsv": ltsv_line_handler,
    "tsv": tsv_line_handler,
}

COMPILERS: dict[str, Callable[[Sequence[str]], RowFn]] = {
    "json": compile_json,
    "pretty_json": compile_pretty_json,
    "kv": compile_kv,
    "ltsv": compile_ltsv,
    "tsv": compile_tsv,
}


def apply_prefix(line: str, prefix: str) -> str:
    """Prefix every physical line of a (possibly multi-line) record
    (parser_core.go:323-334)."""
    return "\n".join(prefix + part for part in line.split("\n"))


MATCHED_PREFIX = "[ PROCESSED ] "
UNMATCHED_PREFIX = "[ UNMATCHED ] "

# tty path (parser_core.go:187-188): bold green / bold red around the
# prefix, reset after — byte-for-byte the reference's escape sequences
ANSI_MATCHED_PREFIX = "\033[1;32m" + MATCHED_PREFIX + "\033[0m"
ANSI_UNMATCHED_PREFIX = "\033[1;31m" + UNMATCHED_PREFIX + "\033[0m"


def prefix_strings(color: bool) -> tuple[str, str]:
    """(matched, unmatched) prefix pair for the tty/no-tty paths."""
    if color:
        return ANSI_MATCHED_PREFIX, ANSI_UNMATCHED_PREFIX
    return MATCHED_PREFIX, UNMATCHED_PREFIX
