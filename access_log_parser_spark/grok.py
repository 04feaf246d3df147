"""Grok-lite: %{MACRO:name} pattern macros compiled to named-group regexes.

The north_rule calls for "grok/regex parse"; the reference only ships raw
regex presets, so this layer adds the grok ergonomics on top of the same
engine: a grok expression expands to a Python named-group regex and feeds
the standard pattern registry/validation (`patterns.validate_pattern`),
so the one routed core and every other decode surface accept
grok-authored formats.

Supported macro grammar: ``%{MACRO}`` (match, no capture) and
``%{MACRO:name}`` (named capture). Macros are a curated subset of the
community grok core patterns, restricted to the regex dialect shared by
Python/Java/RE2.
"""

from __future__ import annotations

import re

from .patterns import PatternError, validate_pattern

GROK_MACROS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE16NUM": r"[0-9A-Fa-f]+",
    "POSINT": r"\d+",
    "IPV4": r"(?:\d{1,3}\.){3}\d{1,3}",
    "HOSTNAME": r"[0-9A-Za-z][0-9A-Za-z\-]*(?:\.[0-9A-Za-z][0-9A-Za-z\-]*)*",
    "IPORHOST": r"(?:(?:\d{1,3}\.){3}\d{1,3}|[0-9A-Za-z][0-9A-Za-z\-.]*)",
    "USER": r"[a-zA-Z0-9._-]+",
    "QS": r'"[^"]*"',
    "QUOTEDSTRING": r'"[^"]*"',
    "URIPATH": r"/[^\s?\"]*",
    "URIPARAM": r"\?[^\s\"]*",
    "HTTPDATE": r"\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
}

_MACRO_RE = re.compile(r"%\{(?P<macro>[A-Z0-9_]+)(?::(?P<name>[a-zA-Z_][a-zA-Z0-9_]*))?\}")


def grok_to_regex(expr: str) -> str:
    """Expand a grok expression into a named-group regex string.

    Text outside macros is treated literally (regex-escaped), so grok
    authors never fight regex metacharacters; a macro without a name
    matches without capturing.
    """
    out: list[str] = []
    pos = 0
    for m in _MACRO_RE.finditer(expr):
        out.append(re.escape(expr[pos : m.start()]))
        macro = m.group("macro")
        if macro not in GROK_MACROS:
            raise PatternError(f"unknown grok macro: %{{{macro}}}")
        body = GROK_MACROS[macro]
        name = m.group("name")
        if name:
            out.append(f"(?P<{name}>{body})")
        else:
            out.append(f"(?:{body})")
        pos = m.end()
    out.append(re.escape(expr[pos:]))
    return "".join(out)


def compile_grok(expr: str, anchored: bool = True):
    """Grok expression -> validated pattern string (engine-ready)."""
    pattern = grok_to_regex(expr)
    if anchored and not pattern.startswith("^"):
        pattern = "^" + pattern
    validate_pattern(pattern)
    return pattern


def grok_parser(spark, exprs: list[str], opt=None):
    """Build a RegexParser from grok expressions (first-match-wins order
    preserved, like the preset pattern cascades)."""
    from .parser import RegexParser

    return RegexParser(spark, opt, patterns=[compile_grok(e) for e in exprs])
