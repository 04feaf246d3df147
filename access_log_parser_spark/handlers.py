"""Line serializers ("handlers").

Byte-compatible re-implementations of the reference's five output encoders
(`/root/reference/handler.go:15-144`). These are plain-Python functions on
(labels, values) lists so they can run inside the engine's single
``mapInArrow`` pass (and be unit-tested directly); they are the engine's
only serializers. ``json.dumps`` / ``F.to_json`` are NOT used: the
reference escapes only ``\\ " \\n \\r \\t`` and passes every other byte
through raw (`handler.go:127-144`), which differs from standard JSON
encoders.

Semantics shared by all handlers (`handler.go` loops): iterate values, guard
``i < len(labels)`` — extra values are dropped, missing values truncate.
``zip(labels, values)`` is that loop.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

LineHandler = Callable[[Sequence[str], Sequence[str], bool], str]


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


def json_line_handler(labels: Sequence[str], values: Sequence[str], _is_first: bool = False) -> str:
    """NDJSON object, insertion-ordered keys, all values quoted strings
    (handler.go:15-34)."""
    return "{" + ",".join(
        [f'"{k}":"{escape_string(v)}"' for k, v in zip(labels, values)]
    ) + "}"


def pretty_json_line_handler(labels: Sequence[str], values: Sequence[str], _is_first: bool = False) -> str:
    """Indented multi-line JSON (handler.go:37-56)."""
    return "{\n" + ",\n".join(
        [f'  "{k}": "{escape_string(v)}"' for k, v in zip(labels, values)]
    ) + "\n}"


def kv_pair_line_handler(labels: Sequence[str], values: Sequence[str], _is_first: bool = False) -> str:
    """Space-joined k="v" pairs (handler.go:59-75)."""
    return " ".join([f'{k}="{escape_string(v)}"' for k, v in zip(labels, values)])


def ltsv_line_handler(labels: Sequence[str], values: Sequence[str], _is_first: bool = False) -> str:
    """Tab-joined k:v, empty value -> "-" (handler.go:78-96)."""
    return "\t".join([f"{k}:{v if v else '-'}" for k, v in zip(labels, values)])


def tsv_line_handler(labels: Sequence[str], values: Sequence[str], is_first: bool = False) -> str:
    """Tab-joined values, empty -> "-", header row prepended when is_first
    (handler.go:99-123). No ANSI color (non-tty path)."""
    body = "\t".join([v if v else "-" for _, v in zip(labels, values)])
    if is_first:
        return "\t".join(labels) + "\n" + body
    return body


HANDLERS: dict[str, LineHandler] = {
    "json": json_line_handler,
    "pretty_json": pretty_json_line_handler,
    "kv": kv_pair_line_handler,
    "ltsv": ltsv_line_handler,
    "tsv": tsv_line_handler,
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
