"""Preset pattern registry and validation.

The preset regexes are the public log-format grammars from the reference
(`/root/reference/parser_regex.go:104-237`): Apache CLF (4 patterns),
Apache CLF + vhost (4), Amazon S3 access logs (5, trailing-truncation
fallbacks), CloudFront (1, tab-separated), ALB (1), NLB (1), CLB (2).
They use only syntax shared by RE2 and Python ``re`` (named groups
``(?P<x>...)``, char classes, no backrefs), so they compile unchanged.
They do not always match the same: ``\\d`` and ``\\S`` follow Unicode
under ``re`` and ASCII under RE2, so here ``\\d`` matches ``٣`` and ``\\S``
stops at ``\\x0b`` and NBSP where the reference's would not (ROADMAP
item 3).

A regex string is parsed in one place, :func:`parse_re2`, and every
analysis reads that ``re`` parse tree, never the source text: the RE2
gate, the capture-group checks (:func:`parse_pattern`), group names, the
tab twin and cascade fusion. :func:`.decoders.compile_plan` is the compile
point that hands one tree per pattern to all of them. Validation mirrors
the reference's ``AddPattern`` (`parser_regex.go:74-89`): the pattern must
compile in RE2's dialect, contain at least one capture group, and every
group must be named.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from re import _compiler
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


# Parse-tree opcodes of the constructs Go's RE2 cannot compile but
# Python's `re` accepts (https://github.com/google/re2/wiki/Syntax). The
# reference's regexp.Compile (parser_regex.go:75, parser_core.go:466-483)
# rejects a pattern using any of them, so accepting one here would let a
# pattern mean something the reference cannot express. Lookaround
# (ASSERT, ASSERT_NOT) is named by its direction in `_re2_construct`.
_NOT_RE2 = {
    _sre.GROUPREF: "backreference",
    _sre.GROUPREF_EXISTS: "conditional",
    _sre.ATOMIC_GROUP: "atomic group",
    _sre.POSSESSIVE_REPEAT: "possessive repeat",
}


def _subtrees(op, av) -> list:
    """The item lists nested in a group, repeat or alternation item."""
    if op is _sre.SUBPATTERN:
        return [av[3]]
    if op is _sre.MAX_REPEAT or op is _sre.MIN_REPEAT:
        return [av[2]]
    if op is _sre.BRANCH:
        return av[1]
    return []


def _re2_construct(items) -> str | None:
    """Name of the first construct in ``items`` that RE2 cannot compile."""
    for op, av in items:
        if op is _sre.ASSERT or op is _sre.ASSERT_NOT:
            look = "lookahead" if av[0] == 1 else "lookbehind"
            return f"negative {look}" if op is _sre.ASSERT_NOT else look
        if op in _NOT_RE2:
            return _NOT_RE2[op]
        for sub in _subtrees(op, av):
            found = _re2_construct(sub)
            if found is not None:
                return found
    return None


def parse_re2(src: str) -> _sre.SubPattern:
    """The one parse of a regex string: ``src``'s ``re`` parse tree, gated
    for the reference's RE2 dialect.

    Raises ``re.error`` when ``re`` cannot parse ``src``, or when the tree
    holds a construct the RE2 dialect lacks: lookaround, backreference,
    conditional, atomic group or possessive repeat. Callers report both
    the way the reference reports a failed ``regexp.Compile``.
    """
    tree = _sre.parse(src)
    construct = _re2_construct(tree)
    if construct is not None:
        raise re.error(f"{construct} is not supported by the reference's RE2 dialect")
    return tree


def parse_pattern(src: str) -> _sre.SubPattern:
    """:func:`parse_re2` plus the reference's ``AddPattern`` checks
    (parser_regex.go:74-89), read off the tree: at least one capture
    group, and every group named. Raises :class:`PatternError`."""
    try:
        tree = parse_re2(src)
    except re.error as e:
        raise PatternError(f"{REGEX_PATTERN_ERROR}: {e}") from e
    groups = tree.state.groups - 1
    if groups < 1:
        raise PatternError(f"{REGEX_PATTERN_ERROR}: capture group not found")
    if len(tree.state.groupdict) != groups:
        raise PatternError(f"{REGEX_PATTERN_ERROR}: non-named capture group detected")
    return tree


def validate_pattern(pattern: str) -> re.Pattern:
    """Compile + validate one pattern (:func:`parse_pattern`)."""
    parse_pattern(pattern)
    return re.compile(pattern)


class _Unproven(Exception):
    """Raised inside a tree analysis for anything it cannot prove."""


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


_TAB = ord("\t")


def _mandatory_tabs(items) -> int:
    """Tabs that one pass over ``items`` consumes in every match: each tab
    literal, counted once per minimum iteration of the repeats around it.

    Raises :class:`_Unproven` for a tab that a match may skip (under an
    alternation or a min-0 repeat), for a set that lists the tab (``[\\t ]``,
    ``\\s``, ``[^\\t"]``, or ``[^\\t]``, which the parser stores as a negated
    literal), and for any item other than a literal, set, ``.``, anchor,
    group, repeat or alternation (lookaround and the like).
    """
    n = 0
    for op, av in items:
        if op is _sre.LITERAL:
            if av == _TAB:
                n += 1
        elif op is _sre.NOT_LITERAL or op is _sre.IN:
            # a set lists the tab when, negation undone, it matches the tab
            negated = op is _sre.NOT_LITERAL or av[0][0] is _sre.NEGATE
            if _char_test(op, av)("\t") != negated:
                raise _Unproven
        elif op is _sre.SUBPATTERN:
            n += _mandatory_tabs(av[3])
        elif op is _sre.MAX_REPEAT or op is _sre.MIN_REPEAT:
            per_pass = _mandatory_tabs(av[2])
            if per_pass and av[0] == 0:
                raise _Unproven
            n += per_pass * av[0]
        elif op is _sre.BRANCH:
            if any(_mandatory_tabs(alt) for alt in av[1]):
                raise _Unproven
        elif op is not _sre.ANY and op is not _sre.AT:
            raise _Unproven
    return n


def _widen(p: _sre.SubPattern) -> tuple[_sre.SubPattern, bool]:
    """A copy of ``p`` with the tab added to every negated set, and True if
    there was one. ``p`` is a shared tree and is left as it is."""
    items, widened = [], False
    for op, av in p.data:
        if op is _sre.NOT_LITERAL:
            op, av = _sre.IN, [(_sre.NEGATE, None), (_sre.LITERAL, av), (_sre.LITERAL, _TAB)]
            widened = True
        elif op is _sre.IN and av[0][0] is _sre.NEGATE:
            av = [*av, (_sre.LITERAL, _TAB)]
            widened = True
        elif op is _sre.SUBPATTERN or op is _sre.MAX_REPEAT or op is _sre.MIN_REPEAT:
            # the nested tree is the last field of the argument
            sub, w = _widen(av[-1])
            av, widened = (*av[:-1], sub), widened or w
        elif op is _sre.BRANCH:
            alts = [_widen(alt) for alt in av[1]]
            av = (av[0], [alt for alt, _ in alts])
            widened = widened or any(w for _, w in alts)
        items.append((op, av))
    return _sre.SubPattern(p.state, items), widened


def fast_twin(tree: _sre.SubPattern) -> tuple[re.Pattern, int] | None:
    """Derive a backtracking-free twin for a tab-separated pattern.

    Greedy negated classes like ``[^\\"]*`` may span tab separators and
    force the Python engine to backtrack across the remaining fields
    (~150us/line on the 33-field CloudFront preset). If a line contains
    exactly as many tabs as every match of the pattern consumes with its
    tab literals, no other item can consume a tab in a successful match,
    so adding the tab to every negated set accepts exactly the same lines
    with identical group values (~2us/line, 67x). Returns ``(twin,
    n_tabs)``; the caller must apply the twin only to lines where
    ``line.count('\\t') == n_tabs`` and fall back to the original
    otherwise.

    ``tree`` is the pattern's ``re`` parse tree, so every spelling of the
    tab (the character, ``\\t``, ``\\x09``) counts. The twin is compiled
    from a widened copy of it; it has no source, so it is built where it is
    used and never pickled.

    Returns None when the pattern has no mandatory tab, has no negated set
    to widen, or when :func:`_mandatory_tabs` cannot count its tabs: a tab
    that a match may skip leaves a line tab for a greedy class to span
    even when the counts agree, so the twin could reject lines the
    original accepts.
    """
    try:
        n_tabs = _mandatory_tabs(tree)
    except _Unproven:
        return None
    if n_tabs == 0:
        return None
    twin, widened = _widen(tree)
    return (_compiler.compile(twin), n_tabs) if widened else None


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
    """One regex standing in for a whole first-match-wins pattern list:
    ``pids[m.lastindex or 0]`` is the winner of a match ``m`` of ``regex``,
    whose values are the match's first ``len(names[pid])`` groups."""

    regex: re.Pattern
    pids: tuple[int, ...]


def fuse_cascade(trees: Sequence[_sre.SubPattern]) -> FusedCascade | None:
    """Fuse a prefix-chained pattern list into ONE regex, or return None.

    The reference tries an ordered list until one pattern matches. The S3
    preset is ``HEAD + TAIL[:k]`` for shrinking k, so a depth-5 line parses
    the same head five times. When the list is ``P0 = H T1 .. Tk``,
    ``P1 = H T1 .. Tk-1``, ..., ``Pk = H``, one search of
    ``H(?:T1(?:T2(?:..Tk)?)?)?`` gives the same answer, and the deepest tail
    that took part names the winner. Three conditions make that exact:

    1. Every pattern's parse tree is the next one's items plus more (its
       tail), and the two agree on the names of their shared groups, so
       group numbers and names agree across the list and the fused regex.
       The trees are compared, not the sources: ``[a-z]+`` and
       ``[a-z]{1,}`` are the same item.
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

    The winner is ``pids[m.lastindex or 0]``. ``lastindex``, the last
    group to close, falls in the groups of the deepest tail that took
    part when each tail holds a capture group directly, not inside a
    repeat or alternative: such a tail sets that group, after every group
    of the head and of earlier tails, and no group of a deeper tail is
    set; an optional tail that fails part way has ``lastindex`` restored
    with the marks (sre's ``LASTMARK_RESTORE``); and a head match that
    sets no group (``(?:(?P<a>x)|y)`` on ``y``) has ``lastindex`` None,
    which index 0 maps to the head.

    ``trees`` are the patterns' ``re`` parse trees. They are shared and
    left as they are: the fused tree is built from the first tree's items,
    under its parse state, and compiled from the tree.
    """
    if len(trees) < 2 or any(t.state.flags != re.UNICODE for t in trees):
        return None
    full = trees[0].data
    cuts = [len(t.data) for t in reversed(trees)]  # from the head outwards
    if any(shorter >= longer for shorter, longer in zip(cuts, cuts[1:])):
        return None
    full_reprs = [repr(item) for item in full]
    if any(
        any(repr(item) != r for item, r in zip(t.data, full_reprs)) for t in trees[1:]
    ):
        return None
    names = trees[0].state.groupdict
    for t in trees[1:]:
        if t.state.groupdict != {k: v for k, v in names.items() if v < t.state.groups}:
            return None
    # the lengths rise strictly, so the full tree has a first item
    op, av = full[0]
    if op is not _sre.AT or av not in (_sre.AT_BEGINNING, _sre.AT_BEGINNING_STRING):
        return None
    try:
        _check_forced(full[1:], lambda: None)
    except _Unproven:
        return None

    # tail d is full[cuts[d-1]:cuts[d]]; each holds a group directly
    for lo, hi in zip(cuts, cuts[1:]):
        if not any(op is _sre.SUBPATTERN and av[0] for op, av in full[lo:hi]):
            return None

    # pattern pid owns the group numbers no shorter pattern holds
    pids: list[int] = []
    for pid in reversed(range(len(trees))):
        pids += [pid] * (trees[pid].state.groups - len(pids))

    # H(?:T1(?:T2(?:..Tk)?)?)?: the head's items, then each tail's items
    # nested in an optional group, as the parser builds that source
    state, items = trees[0].state, []
    for lo, hi in reversed(list(zip([0, *cuts], cuts))):
        opt = [(_sre.MAX_REPEAT, (0, 1, _sre.SubPattern(state, items)))] if items else []
        items = full[lo:hi] + opt
    return FusedCascade(_compiler.compile(_sre.SubPattern(state, items)), tuple(pids))


def group_names(tree: _sre.SubPattern) -> list[str]:
    """Capture group names in positional order (SubexpNames()[1:] analogue)."""
    inv = {v: k for k, v in tree.state.groupdict.items()}
    return [inv[i] for i in range(1, tree.state.groups)]

