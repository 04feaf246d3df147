"""Preset pattern registry and validation.

The preset regexes are the public log-format grammars from the reference
(`/root/reference/parser_regex.go:104-237`): Apache CLF (4 patterns),
Apache CLF + vhost (4), Amazon S3 access logs (5, trailing-truncation
fallbacks), CloudFront (1, tab-separated), ALB (1), NLB (1), CLB (2).
They use only the RE2 subset shared with Python ``re`` (named groups
``(?P<x>...)``, char classes, no backrefs), so they compile unchanged.

Validation mirrors ``AddPattern`` (`/root/reference/parser_regex.go:74-89`):
the pattern must compile, contain at least one capture group, and every
group must be named.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from re import _parser as _sre

REGEX_PATTERN_ERROR = "invalid regex pattern"

# --- Apache CLF (parser_regex.go:110-115): space/tab x with/without referer+agent
APACHE_CLF = [
    r'^(?P<remote_host>\S+) (?P<remote_logname>\S+) (?P<remote_user>[\S ]+) (?P<datetime>\[[^\]]+\]) \"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\" (?P<status>[0-9]{3}) (?P<size>[0-9]+|-) "(?P<referer>[^\"]*)" "(?P<user_agent>[^\"]*)"',
    r'^(?P<remote_host>\S+) (?P<remote_logname>\S+) (?P<remote_user>[\S ]+) (?P<datetime>\[[^\]]+\]) \"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\" (?P<status>[0-9]{3}) (?P<size>[0-9]+|-)',
    '^(?P<remote_host>\\S+)\t(?P<remote_logname>\\S+)\t(?P<remote_user>[\\S ]+)\t(?P<datetime>\\[[^\\]]+\\])\t\\"(?P<method>[A-Z\\-]+) (?P<request_uri>[^ \\"]+) (?P<protocol>HTTP/[0-9.]+|-)\\"\t(?P<status>[0-9]{3})\t(?P<size>[0-9]+|-)\t"(?P<referer>[^\\"]*)"\t"(?P<user_agent>[^\\"]*)"',
    '^(?P<remote_host>\\S+)\t(?P<remote_logname>\\S+)\t(?P<remote_user>[\\S ]+)\t(?P<datetime>\\[[^\\]]+\\])\t\\"(?P<method>[A-Z\\-]+) (?P<request_uri>[^ \\"]+) (?P<protocol>HTTP/[0-9.]+|-)\\"\t(?P<status>[0-9]{3})\t(?P<size>[0-9]+|-)',
]

# --- Apache CLF with virtual host (parser_regex.go:131-136)
APACHE_CLF_VHOST = [
    r'^(?P<virtual_host>\S+) ' + APACHE_CLF[0][1:],
    r'^(?P<virtual_host>\S+) ' + APACHE_CLF[1][1:],
    '^(?P<virtual_host>\\S+)\t' + APACHE_CLF[2][1:],
    '^(?P<virtual_host>\\S+)\t' + APACHE_CLF[3][1:],
]

# --- Amazon S3 access log (parser_regex.go:152-158): 28/27/26/25/20-field
# trailing-truncation fallbacks; first match wins.
_S3_HEAD = (
    r'^(?P<bucket_owner>[!-~]+) (?P<bucket>[!-~]+) (?P<time>\[[^\]]+\]) '
    r'(?P<remote_ip>[!-~]+) (?P<requester>[!-~]+) (?P<request_id>[!-~]+) '
    r'(?P<operation>[!-~]+) (?P<key>[!-~]+) '
    r'\"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\" '
    r'(?P<http_status>\d{1,3}) (?P<error_code>[!-~]+) (?P<bytes_sent>[\d\-.]+) '
    r'(?P<object_size>[\d\-.]+) (?P<total_time>[\d\-.]+) (?P<turn_around_time>[\d\-.]+) '
    r'"(?P<referer>[^\"]*)" "(?P<user_agent>[^\"]*)" (?P<version_id>[!-~]+)'
)
_S3_TAIL = [
    ' (?P<host_id>[!-~]+)',
    ' (?P<signature_version>[!-~]+)',
    ' (?P<cipher_suite>[!-~]+)',
    ' (?P<authentication_type>[!-~]+)',
    ' (?P<host_header>[!-~]+)',
    ' (?P<tls_version>[!-~]+)',
    ' (?P<access_point_arn>[!-~]+)',
    ' (?P<acl_required>[!-~]+)',
]
S3 = [
    _S3_HEAD + ''.join(_S3_TAIL),        # 28 fields
    _S3_HEAD + ''.join(_S3_TAIL[:7]),    # 27
    _S3_HEAD + ''.join(_S3_TAIL[:6]),    # 26
    _S3_HEAD + ''.join(_S3_TAIL[:5]),    # 25
    _S3_HEAD,                            # 20
]

# --- CloudFront (parser_regex.go:175), tab-separated, 33 fields
CLOUDFRONT = [
    '^(?P<date>[\\d\\-.:]+)\t(?P<time>[\\d\\-.:]+)\t(?P<x_edge_location>[ -~]+)\t'
    '(?P<sc_bytes>[\\d\\-.]+)\t(?P<c_ip>[ -~]+)\t(?P<cs_method>[ -~]+)\t'
    '(?P<cs_host>[ -~]+)\t(?P<cs_uri_stem>[ -~]+)\t(?P<sc_status>\\d{1,3}|-)\t'
    '(?P<cs_referer>[^\\"]*)\t(?P<cs_user_agent>[^\\"]*)\t(?P<cs_uri_query>[ -~]+)\t'
    '(?P<cs_cookie>\\S+)\t(?P<x_edge_result_type>[ -~]+)\t(?P<x_edge_request_id>[ -~]+)\t'
    '(?P<x_host_header>[ -~]+)\t(?P<cs_protocol>[ -~]+)\t(?P<cs_bytes>[\\d\\-.]+)\t'
    '(?P<time_taken>[\\d\\-.]+)\t(?P<x_forwarded_for>[ -~]+)\t(?P<ssl_protocol>[ -~]+)\t'
    '(?P<ssl_cipher>[ -~]+)\t(?P<x_edge_response_result_type>[ -~]+)\t'
    '(?P<cs_protocol_version>[ -~]+)\t(?P<fle_status>[ -~]+)\t(?P<fle_encrypted_fields>\\S+)\t'
    '(?P<c_port>[\\d\\-.]+)\t(?P<time_to_first_byte>[\\d\\-.]+)\t'
    '(?P<x_edge_detailed_result_type>[ -~]+)\t(?P<sc_content_type>[ -~]+)\t'
    '(?P<sc_content_len>[\\d\\-.]+)\t(?P<sc_range_start>[\\d\\-.]+)\t(?P<sc_range_end>[\\d\\-.]+)'
]

# --- ALB (parser_regex.go:193), 31 fields
ALB = [
    r'^(?P<type>[!-~]+) (?P<time>[!-~]+) (?P<elb>[!-~]+) (?P<client_port>[!-~]+) '
    r'(?P<target_port>[!-~]+) (?P<request_processing_time>[\d\-.]+) '
    r'(?P<target_processing_time>[\d\-.]+) (?P<response_processing_time>[\d\-.]+) '
    r'(?P<elb_status_code>\d{1,3}|-) (?P<target_status_code>\d{1,3}|-) '
    r'(?P<received_bytes>[\d\-.]+) (?P<sent_bytes>[\d\-.]+) '
    r'\"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-|-)\" '
    r'"(?P<user_agent>[^\"]*)" (?P<ssl_cipher>[!-~]+) (?P<ssl_protocol>[!-~]+) '
    r'(?P<target_group_arn>[!-~]+) "(?P<trace_id>[ -~]+)" "(?P<domain_name>[ -~]+)" '
    r'"(?P<chosen_cert_arn>[ -~]+)" (?P<matched_rule_priority>[!-~]+) '
    r'(?P<request_creation_time>[!-~]+) "(?P<actions_executed>[ -~]+)" '
    r'"(?P<redirect_url>[ -~]+)" "(?P<error_reason>[ -~]+)" "(?P<target_port_list>[ -~]+)" '
    r'"(?P<target_status_code_list>[ -~]+)" "(?P<classification>[ -~]+)" '
    r'"(?P<classification_reason>[ -~]+)"'
]

# --- NLB (parser_regex.go:211), 22 fields
NLB = [
    r'^(?P<type>[!-~]+) (?P<version>[!-~]+) (?P<time>[!-~]+) (?P<elb>[!-~]+) '
    r'(?P<listener>[!-~]+) (?P<client_port>[!-~]+) (?P<destination_port>[!-~]+) '
    r'(?P<connection_time>[\d\-.]+) (?P<tls_handshake_time>[\d\-.]+) '
    r'(?P<received_bytes>[!-~]+) (?P<sent_bytes>[!-~]+) (?P<incoming_tls_alert>[!-~]+) '
    r'(?P<chosen_cert_arn>[!-~]+) (?P<chosen_cert_serial>[ -~]+) (?P<tls_cipher>\S+) '
    r'(?P<tls_protocol_version>[!-~]+) (?P<tls_named_group>[!-~]+) (?P<domain_name>[!-~]+) '
    r'(?P<alpn_fe_protocol>[!-~]+) (?P<alpn_be_protocol>[!-~]+) '
    r'(?P<alpn_client_preference_list>[ -~]+) (?P<tls_connection_creation_time>[!-~]+)'
]

# --- CLB (parser_regex.go:229-230), 17/14 fields
_CLB_HEAD = (
    r'^(?P<time>[!-~]+) (?P<elb>[!-~]+) (?P<client_port>[!-~]+) (?P<backend_port>[!-~]+) '
    r'(?P<request_processing_time>[\d\-.]+) (?P<backend_processing_time>[\d\-.]+) '
    r'(?P<response_processing_time>[\d\-.]+) (?P<elb_status_code>\d{1,3}|-) '
    r'(?P<backend_status_code>\d{1,3}|-) (?P<received_bytes>[\d\-.]+) (?P<sent_bytes>[\d\-.]+) '
    r'\"(?P<method>[A-Z\-]+) (?P<request_uri>[^ \"]+) (?P<protocol>HTTP/[0-9.]+|-)\"'
)
CLB = [
    _CLB_HEAD + r' "(?P<user_agent>[^\"]*)" (?P<ssl_cipher>[!-~]+) (?P<ssl_protocol>[!-~]+)',
    _CLB_HEAD,
]

PRESETS: dict[str, list[str]] = {
    "apache_clf": APACHE_CLF,
    "apache_clf_vhost": APACHE_CLF_VHOST,
    "s3": S3,
    "cloudfront": CLOUDFRONT,
    "alb": ALB,
    "nlb": NLB,
    "clb": CLB,
}


class PatternError(ValueError):
    pass


# Constructs Go's RE2 cannot compile but Python's `re` accepts: the
# reference (regexp.Compile, parser_regex.go:75) would reject a pattern
# using these, so accepting them here would let user patterns silently
# mean something the reference cannot express. Scanned outside character
# classes.
_RE2_UNSUPPORTED = (
    ("(?=", "lookahead"),
    ("(?!", "negative lookahead"),
    ("(?<=", "lookbehind"),
    ("(?<!", "negative lookbehind"),
    ("(?P=", "backreference"),
)


def _re2_incompatibility(src: str) -> str | None:
    """Name of the first RE2-unsupported construct in ``src``, or None."""
    in_class = [False] * len(src)
    for m in _CLASS_RE.finditer(src):
        for i in range(m.start(), m.end()):
            in_class[i] = True
    i = 0
    while i < len(src):
        if in_class[i]:
            i += 1
            continue
        ch = src[i]
        if ch == "\\":
            nxt = src[i + 1] if i + 1 < len(src) else ""
            if nxt.isdigit() and nxt != "0":
                return "backreference"
            i += 2
            continue
        for tok, name in _RE2_UNSUPPORTED:
            if src.startswith(tok, i):
                return name
        i += 1
    return None


def validate_pattern(pattern: str) -> re.Pattern:
    """Compile + validate one pattern (parser_regex.go:74-89 semantics).

    Rejects: non-compiling patterns, patterns with no capture group,
    patterns with any unnamed capture group, and patterns using regex
    constructs Go's RE2 cannot compile (lookaround, backreferences) —
    the reference's ``regexp.Compile`` errors on those, so parity
    requires rejecting them even though Python's ``re`` would accept.
    """
    incompat = _re2_incompatibility(pattern)
    if incompat is not None:
        raise PatternError(
            f"{REGEX_PATTERN_ERROR}: {incompat} is not supported by the "
            "reference's RE2 dialect"
        )
    try:
        ptn = re.compile(pattern)
    except re.error as e:
        raise PatternError(f"{REGEX_PATTERN_ERROR}: {e}") from e
    if ptn.groups < 1:
        raise PatternError(f"{REGEX_PATTERN_ERROR}: capture group not found")
    if len(ptn.groupindex) != ptn.groups:
        raise PatternError(f"{REGEX_PATTERN_ERROR}: non-named capture group detected")
    return ptn


def compile_patterns(patterns: list[str]) -> list[re.Pattern]:
    return [validate_pattern(p) for p in patterns]


_CLASS_RE = re.compile(r"\[\^?(?:\\.|[^\]\\])*\]")


def _tabs_all_mandatory(src: str, in_class: list[bool]) -> bool:
    """True iff every literal tab outside a character class is MANDATORY:
    traversed at least once in every successful match. The tab-count
    guard's soundness argument needs this — a tab inside an optional /
    min-0-quantified group, inside any scope with an alternation ``|``, or
    inside a lookaround may be skipped by a successful match, leaving a
    line tab for a greedy class to span even when ``line.count('\\t') ==
    n_tabs`` (the unsound case: twin rejects a line the original accepts).

    Single pass with a scope stack: a frame accumulates the tabs seen in
    its span; at ``)`` the frame's tabs are discarded as unsafe if the
    frame had a direct ``|``, is a lookaround, or its quantifier allows
    zero traversals — otherwise they propagate to the parent (an outer
    scope may still invalidate them).
    """
    frames: list[dict] = [{"tabs": 0, "pipe": False, "look": False}]
    i, n = 0, len(src)
    unsafe = False
    while i < n:
        if in_class[i]:
            i += 1
            continue
        ch = src[i]
        if ch == "\\":
            i += 2
            continue
        if ch == "(":
            look = src.startswith(("(?=", "(?!", "(?<=", "(?<!"), i)
            frames.append({"tabs": 0, "pipe": False, "look": look})
            i += 1
            continue
        if ch == ")":
            if len(frames) == 1:  # unbalanced; be conservative
                return False
            fr = frames.pop()
            j = i + 1
            min0 = False
            if j < n and src[j] in "?*":
                min0 = True
            elif j < n and src[j] == "{":
                m = re.match(r"\{(\d*)(?:,\d*)?\}", src[j:])
                min0 = bool(m) and (m.group(1) == "" or int(m.group(1)) == 0)
            if fr["tabs"]:
                if fr["pipe"] or fr["look"] or min0:
                    unsafe = True
                else:
                    frames[-1]["tabs"] += fr["tabs"]
            i += 1
            continue
        if ch == "|":
            frames[-1]["pipe"] = True
        elif ch == "\t":
            # A min-0 quantifier directly on the bare tab ("\t?", "\t*",
            # "\t{0,2}") makes it skippable — same unsoundness as a min-0
            # group, so mirror the group-close check here.
            j = i + 1
            if j < n and src[j] in "?*":
                unsafe = True
            elif j < n and src[j] == "{":
                m = re.match(r"\{(\d*)(?:,\d*)?\}", src[j:])
                if m and (m.group(1) == "" or int(m.group(1)) == 0):
                    unsafe = True
            frames[-1]["tabs"] += 1
        i += 1
    if frames[-1]["pipe"] and frames[-1]["tabs"]:
        unsafe = True
    return not unsafe


def fast_twin(pattern: re.Pattern) -> tuple[re.Pattern, int] | None:
    """Derive a backtracking-free twin for a tab-separated pattern.

    Greedy negated classes like ``[^\"]*`` may span tab separators and
    force the Python engine to backtrack across the remaining fields
    (~150us/line on the 33-field CloudFront preset). If a line contains
    exactly as many tabs as the pattern has literal ``\\t`` separators,
    every tab must be consumed by a separator literal in any successful
    match, so no class can span a tab — narrowing every class to exclude
    tab then accepts exactly the same lines with identical group values
    (~2us/line, 67x). Returns ``(twin, n_separator_tabs)``; the caller
    must apply the twin only to lines where ``line.count('\\t') ==
    n_separator_tabs`` and fall back to the original otherwise.

    Returns None when the pattern has no tab separators, already excludes
    tabs everywhere, has a tab inside a character class, or has any
    NON-MANDATORY literal tab — one inside an optional/min-0 group, an
    alternation scope, or a lookaround (see :func:`_tabs_all_mandatory`:
    a skippable pattern tab breaks the "every line tab is consumed by a
    separator literal" step of the exchangeability argument, so the twin
    could reject lines the original accepts).
    """
    src = pattern.pattern
    classes = list(_CLASS_RE.finditer(src))
    if any("\t" in m.group(0) or "\\t" in m.group(0) for m in classes):
        return None
    in_class = [False] * len(src)
    for m in classes:
        for i in range(m.start(), m.end()):
            in_class[i] = True
    n_tabs = sum(1 for i, ch in enumerate(src) if ch == "\t" and not in_class[i])
    if n_tabs == 0:
        return None
    if not _tabs_all_mandatory(src, in_class):
        return None
    # widen every negated class to also exclude tab
    out, changed = [], False
    pos = 0
    for m in classes:
        out.append(src[pos:m.start()])
        cls = m.group(0)
        if cls.startswith("[^"):
            cls = "[^\\t" + cls[2:]
            changed = True
        out.append(cls)
        pos = m.end()
    out.append(src[pos:])
    if not changed:
        return None
    return re.compile("".join(out)), n_tabs


class _Unproven(Exception):
    """Raised inside the fusion analysis for anything it cannot prove."""


_CATEGORIES = {
    _sre.CATEGORY_DIGIT: re.compile(r"\d"),
    _sre.CATEGORY_NOT_DIGIT: re.compile(r"\D"),
    _sre.CATEGORY_SPACE: re.compile(r"\s"),
    _sre.CATEGORY_NOT_SPACE: re.compile(r"\S"),
    _sre.CATEGORY_WORD: re.compile(r"\w"),
    _sre.CATEGORY_NOT_WORD: re.compile(r"\W"),
}


def _char_test(op, av) -> Callable[[str], bool] | None:
    """Membership test of a one-character item (literal, negated literal,
    class, ``.``); None for any other item."""
    if op is _sre.LITERAL:
        return chr(av).__eq__
    if op is _sre.NOT_LITERAL:
        return chr(av).__ne__
    if op is _sre.ANY:
        return "\n".__ne__
    if op is not _sre.IN:
        return None
    negate, tests = False, []
    for iop, iav in av:
        if iop is _sre.NEGATE:
            negate = True
        elif iop is _sre.LITERAL:
            tests.append(chr(iav).__eq__)
        elif iop is _sre.RANGE:
            tests.append(lambda c, lo=iav[0], hi=iav[1]: lo <= ord(c) <= hi)
        elif iop is _sre.CATEGORY and iav in _CATEGORIES:
            tests.append(lambda c, rx=_CATEGORIES[iav]: rx.fullmatch(c) is not None)
        else:
            raise _Unproven
    return lambda c: any(t(c) for t in tests) != negate


# A first-character set: a frozenset of literal characters, or a
# membership test when the set is a class.
_First = frozenset | Callable[[str], bool]


def _first(items) -> _First:
    """Set holding the first character of every match of ``items``, which
    must be proven to consume at least one character."""
    if not items:
        raise _Unproven
    op, av = items[0]
    if op is _sre.LITERAL:
        return frozenset(chr(av))
    test = _char_test(op, av)
    if test is not None:
        return test
    if op is _sre.MAX_REPEAT and av[0] >= 1:
        return _first(av[2])
    if op is _sre.SUBPATTERN:
        return _first(av[3])
    if op is _sre.BRANCH:
        firsts = [_first(alt) for alt in av[1]]
        if all(isinstance(f, frozenset) for f in firsts):
            return frozenset().union(*firsts)
    raise _Unproven


def _disjoint(a: _First, b: _First) -> bool:
    if isinstance(a, frozenset) and isinstance(b, frozenset):
        return a.isdisjoint(b)
    if isinstance(a, frozenset):
        return not any(b(c) for c in a)
    if isinstance(b, frozenset):
        return not any(a(c) for c in b)
    return False


def _check_forced(items, follow: Callable[[], _First | None]) -> None:
    """Raise :class:`_Unproven` unless every item of ``items`` ends where
    it must (see :func:`fuse_cascade`). ``follow`` returns the first set of
    what comes after ``items``, or None at the end of the pattern."""
    for k, (op, av) in enumerate(items):
        rest = items[k + 1:]
        nxt = (lambda rest=rest: _first(rest)) if rest else follow
        if _char_test(op, av) is not None:
            continue
        if op is _sre.MAX_REPEAT:
            lo, hi, sub = av
            test = _char_test(*sub[0]) if len(sub) == 1 else None
            if test is None:
                raise _Unproven
            if lo == hi:
                continue
            after = nxt()
            if after is not None and not _disjoint(test, after):
                raise _Unproven
        elif op is _sre.SUBPATTERN:
            if av[1] or av[2]:  # scoped inline flags
                raise _Unproven
            _check_forced(av[3], nxt)
        elif op is _sre.BRANCH:
            alts = av[1]
            firsts = [_first(alt) for alt in alts]
            for i in range(len(firsts)):
                for j in range(i + 1, len(firsts)):
                    if not _disjoint(firsts[i], firsts[j]):
                        raise _Unproven
            for alt in alts:
                _check_forced(alt, nxt)
        else:
            raise _Unproven


@dataclass(frozen=True)
class FusedCascade:
    """One regex standing in for a whole first-match-wins pattern list.

    ``levels`` maps a match of ``regex`` back to the list, deepest tail
    first: ``(marker, pattern_id)`` says that when 0-based group ``marker``
    took part, the cascade's winner is ``pattern_id``, whose values are the
    match's first ``patterns[pattern_id].groups`` groups. The last level is
    the head and has ``marker = -1``.
    """

    regex: re.Pattern
    levels: tuple[tuple[int, int], ...]


def fuse_cascade(patterns: Sequence[re.Pattern]) -> FusedCascade | None:
    """Fuse a prefix-chained pattern list into ONE regex, or return None.

    The reference tries an ordered list until one pattern matches. The S3
    preset is ``HEAD + TAIL[:k]`` for shrinking k, so a depth-5 line parses
    the same head five times. When the list is ``P0 = H T1 .. Tk``,
    ``P1 = H T1 .. Tk-1``, ..., ``Pk = H``, one search of
    ``H(?:T1(?:T2(?:..Tk)?)?)?`` gives the same answer, and the deepest tail
    that took part names the winner. Three conditions make that exact:

    1. Every pattern is the next one's source plus a suffix, and its parse
       tree is the next one's tree plus the suffix's items, so group
       numbers and names agree across the list and the fused regex.
    2. The first item is ``^`` (or ``\\A``) and no other anchor appears, so
       every search starts at offset 0 only. Without it ``search`` takes
       the leftmost start: the head alone could match at 0 while a longer
       pattern matches at 5, and the two would disagree.
    3. Every match is forced. Each variable-length item is a repeated
       one-character class whose class excludes every character that can
       start the item after it. Such a repeat must stop exactly at the end
       of its run of class characters, since a shorter run leaves a class
       character where the next item needs a non-class one. Alternatives
       must start with disjoint character sets, so at most one can match.
       A repeat at the very end is followed by nothing and takes its
       greedy run, as it does at the end of any shorter pattern and, in
       the fused regex, ahead of an optional tail that needs a non-class
       character. So each prefix ``H T1 .. Tj`` matches a line in at most
       one way, its final repeat aside, and a longer prefix's match extends
       a shorter one's.

    Under these, the cascade's winner is the longest prefix that matches,
    and the fused regex, which tries each optional tail before skipping
    it, takes exactly that many tails with the same group values. Condition
    3 is checked on the ``re`` parse tree, item by item, and anything it
    cannot prove (lazy or possessive repeats, repeated groups, nullable
    items ahead of a repeat, lookaround, backreferences, inline flags,
    ``$``) keeps the cascade. Apache CLF fails it: ``remote_user`` is
    ``[\\S ]+`` followed by a space, so the fused regex can let it run on
    into the next fields of a line the first pattern matches.

    Each tail must also hold a capture group directly, not inside a repeat
    or alternative: the marker that shows the tail took part.
    """
    if len(patterns) < 2:
        return None
    srcs = [p.pattern for p in patterns]
    if any(p.flags != re.UNICODE for p in patterns) or any(
        not longer.startswith(shorter) or longer == shorter
        for longer, shorter in zip(srcs, srcs[1:])
    ):
        return None
    trees = [_sre.parse(s).data for s in srcs]
    full = [repr(item) for item in trees[0]]
    if any([repr(item) for item in t] != full[: len(t)] for t in trees[1:]):
        return None
    names = patterns[0].groupindex
    for p in patterns[1:]:
        if dict(p.groupindex) != {k: v for k, v in names.items() if v <= p.groups}:
            return None
    first = trees[0][0] if trees[0] else None
    if first is None or first[0] is not _sre.AT or first[1] not in (
        _sre.AT_BEGINNING,
        _sre.AT_BEGINNING_STRING,
    ):
        return None
    try:
        _check_forced(trees[0][1:], lambda: None)
    except _Unproven:
        return None

    # tree lengths from the head outwards; tail d is full[cuts[d-1]:cuts[d]]
    cuts = [len(t) for t in reversed(trees)]
    levels = [(-1, len(patterns) - 1)]
    for depth in range(1, len(patterns)):
        tail = trees[0][cuts[depth - 1]: cuts[depth]]
        marker = next((av[0] for op, av in tail if op is _sre.SUBPATTERN and av[0]), None)
        if marker is None:
            return None
        levels.append((marker - 1, len(patterns) - 1 - depth))

    shortest_first = srcs[::-1]
    fused_src = (
        shortest_first[0]
        + "".join(
            "(?:" + longer[len(shorter):]
            for shorter, longer in zip(shortest_first, shortest_first[1:])
        )
        + ")?" * (len(srcs) - 1)
    )
    # the fused tree must be the head's items, then each tail's items
    # nested in an optional group, exactly as they parse in the full pattern
    items, start = list(_sre.parse(fused_src).data), 0
    for depth, cut in enumerate(cuts):
        own, rest = items[: cut - start], items[cut - start:]
        if [repr(i) for i in own] != full[start:cut]:
            return None
        if depth == len(cuts) - 1:
            if rest:
                return None
        elif (
            len(rest) != 1
            or rest[0][0] is not _sre.MAX_REPEAT
            or rest[0][1][:2] != (0, 1)
        ):
            return None
        else:
            items = list(rest[0][1][2])
        start = cut
    fused = re.compile(fused_src)
    if fused.groups != patterns[0].groups or fused.groupindex != names:
        return None
    return FusedCascade(fused, tuple(reversed(levels)))


def group_names(pattern: re.Pattern) -> list[str]:
    """Capture group names in positional order (SubexpNames()[1:] analogue)."""
    inv = {v: k for k, v in pattern.groupindex.items()}
    return [inv[i] for i in range(1, pattern.groups + 1)]


def union_schema(patterns: list[re.Pattern]) -> list[str]:
    """Union of all group names, preserving first-seen positional order.

    The widest preset pattern comes first in every preset, so for presets
    this equals pattern 0's field list.
    """
    seen: dict[str, None] = {}
    for p in patterns:
        for name in group_names(p):
            seen.setdefault(name)
    return list(seen)
