"""Filter DSL: ``"<label> <op> <value>"`` expressions.

Reference semantics (`/root/reference/parser_core.go:338-483`):

- expression splits on the first two spaces into (label, operator, value);
  fewer than 3 tokens -> "invalid syntax" error;
- operators: ``== != ==* !=*`` (string, ``*`` = case-insensitive),
  ``=~ !~ =~* !~*`` (regex), ``> >= < <=`` (float64);
- filters on distinct labels are AND-ed; a later filter on the SAME label
  overwrites the earlier one (map semantics, parser_core.go:363-395);
- a filter label absent from a row's label set is an error that aborts the
  whole parse (parser_core.go:370-372), as is a non-float row value under a
  numeric operator (parser_core.go:427-432);
- filters are evaluated after decode and before projection, so they may
  reference columns later dropped by label selection;
- a regex operator's value goes through the patterns' one parse step
  (:func:`.patterns.parse_re2`: parse once, RE2 gate) before it compiles,
  on both targets, so a regex Go's ``regexp.Compile`` rejects aborts here
  too (parser_core.go:466-483).

Two compilation targets:

- :func:`compile_filters` -> Python predicate used inside the vectorized
  engine pass (exact error semantics, including per-line unknown-label and
  non-numeric aborts);
- :func:`filters_to_column` -> a Catalyst ``Column`` predicate over
  :func:`..engine.extract_fields` columns, for the Spark-native structured
  surface only, compiled once per query (the reference re-parses the DSL
  per line, parser_core.go:220). The routed entries never use it: they
  abort exactly as the reference does.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from functools import partial

from pyspark.sql import Column
from pyspark.sql import functions as F

from .patterns import parse_re2

FILTER_ERROR = "cannot evaluate filter expressions"
OPERATOR_ERROR = "unknown operator"

STRING_OPS = ("==", "!=", "==*", "!=*")
REGEX_OPS = ("=~", "!~", "=~*", "!~*")
NUMERIC_OPS = (">", ">=", "<", "<=")


class FilterError(ValueError):
    pass


def parse_filter(expr: str) -> tuple[str, str, str]:
    token = expr.split(" ", 2)
    if len(token) < 3:
        raise FilterError(f'{FILTER_ERROR}: "{expr}": invalid syntax')
    return token[0], token[1], token[2]


def _string_fn(op: str, value: str) -> Callable[[str], bool]:
    if op == "==":
        return lambda v: v == value
    if op == "!=":
        return lambda v: v != value
    low = value.lower()
    if op == "==*":
        return lambda v: v.lower() == low
    return lambda v: v.lower() != low  # "!=*"


def _regex(op: str, value: str) -> re.Pattern:
    """The regex a ``=~``-family filter runs, once it passes the RE2 gate."""
    src = ("(?i)" + value) if op.endswith("*") else value
    try:
        parse_re2(src)
    except re.error as e:
        raise FilterError(f"{FILTER_ERROR}: {e}") from e
    return re.compile(src)


def _regex_fn(op: str, value: str) -> Callable[[str], bool]:
    rx = _regex(op, value)
    if op.startswith("=~"):
        return lambda v: rx.search(v) is not None
    return lambda v: rx.search(v) is None


def _numeric_fn(op: str, value: str) -> Callable[[str], bool]:
    try:
        f = float(value)
    except ValueError as e:
        raise FilterError(f"{FILTER_ERROR}: {e}") from e

    def cmp(v: str) -> bool:
        try:
            val = float(v)
        except ValueError as e:
            # Non-numeric row value aborts the whole parse
            # (parser_core.go:220-223 via :427-432).
            raise FilterError(f"{FILTER_ERROR}: {e}") from e
        if op == ">":
            return val > f
        if op == ">=":
            return val >= f
        if op == "<":
            return val < f
        return val <= f

    return cmp


def compile_filters(filters: Sequence[str]) -> dict[str, Callable[[str], bool]]:
    """DSL -> {label: predicate}; later filter on the same label wins."""
    m: dict[str, Callable[[str], bool]] = {}
    for expr in filters:
        label, op, value = parse_filter(expr)
        if op in STRING_OPS:
            m[label] = _string_fn(op, value)
        elif op in REGEX_OPS:
            m[label] = _regex_fn(op, value)
        elif op in NUMERIC_OPS:
            m[label] = _numeric_fn(op, value)
        else:
            raise FilterError(f'{OPERATOR_ERROR}: "{op}"')
    return m


def _keep(
    missing: str | None, checks: list[tuple[int, Callable[[str], bool]]], values: Sequence[str]
) -> bool:
    """applyFilter (parser_core.go:338-355): abort on a missing filter
    label, else AND the predicates in label order."""
    if missing is not None:
        raise FilterError(f'{FILTER_ERROR}: "{missing}": invalid field name')
    for i, fn in checks:
        if not fn(values[i]):
            return False
    return True


def bind_filters(
    compiled: dict[str, Callable[[str], bool]], labels: Sequence[str]
) -> Callable[[Sequence[str]], bool]:
    """applyFilter bound to one label list: a predicate over that list's
    values, checking each label's predicate by position, in label order.
    A filter label missing from ``labels`` makes every call abort, so a
    pattern or LTSV label tuple that lacks the label fails on its first
    line, as the reference does."""
    missing = next((flabel for flabel in compiled if flabel not in labels), None)
    checks = [(i, compiled[label]) for i, label in enumerate(labels) if label in compiled]
    return partial(_keep, missing, checks)


def filters_to_column(filters: Sequence[str], columns: Sequence[str]) -> Column:
    """Compile the DSL to a single Catalyst predicate over named columns.

    Serves the structured surface only (``extract_fields`` columns; the
    routed entries run :func:`compile_filters`): string/regex ops map to
    ``==``/``rlike``/``lower``; numeric ops to ``try_cast('double')``
    comparisons, NULL for a value that does not cast, so wrap the predicate
    in ``coalesce(pred, false)`` to exclude such rows (the reference
    aborts instead). Duplicate labels keep last-wins semantics.
    """
    by_label: dict[str, tuple[str, str]] = {}
    for expr in filters:
        label, op, value = parse_filter(expr)
        if label not in columns:
            raise FilterError(f'{FILTER_ERROR}: "{label}": invalid field name')
        if op not in STRING_OPS + REGEX_OPS + NUMERIC_OPS:
            raise FilterError(f'{OPERATOR_ERROR}: "{op}"')
        by_label[label] = (op, value)

    pred = F.lit(True)
    for label, (op, value) in by_label.items():
        c = F.col(label)
        if op == "==":
            p = c == F.lit(value)
        elif op == "!=":
            p = c != F.lit(value)
        elif op == "==*":
            p = F.lower(c) == F.lit(value.lower())
        elif op == "!=*":
            p = F.lower(c) != F.lit(value.lower())
        elif op in REGEX_OPS:
            p = c.rlike(_regex(op, value).pattern)
            if op.startswith("!~"):
                p = ~p
        else:  # numeric
            # try_cast, not cast: under Spark 4 ANSI mode (on by
            # default) a plain cast ABORTS the job with
            # CAST_INVALID_INPUT on the first non-numeric field value;
            # try_cast yields NULL, which the caller's coalesce(pred,
            # false) turns into an excluded row.
            d = c.try_cast("double")
            f = F.lit(float(value))
            if op == ">":
                p = d > f
            elif op == ">=":
                p = d >= f
            elif op == "<":
                p = d < f
            else:
                p = d <= f
        pred = pred & p
    return pred
