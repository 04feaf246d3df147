"""fast_twin: the guarded backtracking-free rewrite for tab-separated
patterns (patterns.fast_twin) must be observationally identical to the
original pattern through the batch decoder, including on adversarial
lines (extra/missing tabs, quotes inside fields, trailing garbage) where
the guard forces fallback to the original engine.
"""

from __future__ import annotations

import itertools
import random
import re
from re import _parser

import pytest

from access_log_parser_spark import decoders
from access_log_parser_spark.patterns import (
    ALB,
    APACHE_CLF,
    CLOUDFRONT,
    NLB,
    S3,
    PatternError,
    fast_twin,
)

# the same CloudFront regex with every tab written as the two-character
# escape, the natural raw-string spelling
CLOUDFRONT_ESCAPED = CLOUDFRONT[0].replace("\t", "\\t")


def _cf_line(n_fields: int = 33, inject: str | None = None) -> str:
    fields = [
        "2024-01-01", "00:00:01", "LAX1", "655", "192.0.2.8", "GET",
        "d0.cloudfront.net", "/x/0", "200", "-", "ua/0", "-", "-", "Hit",
        "req0", "example.com", "https", "100", "0.001", "-", "TLSv1.2",
        "ECDHE", "Hit", "HTTP/2.0", "-", "-", "10000", "0.001", "Hit",
        "text/html", "655", "-", "-",
    ][:n_fields]
    if inject is not None:
        fields[9] = inject  # cs_referer: the [^\"]* backtracking hotspot
    return "\t".join(fields)


ADVERSARIAL = [
    _cf_line(),                          # well-formed
    _cf_line(32),                        # one field short
    _cf_line() + "\textra",              # extra 34th field
    _cf_line() + " trailing",            # trailing junk, same tab count
    _cf_line(inject="has space ref"),    # spaces inside referer
    _cf_line(inject='q"uote'),           # quote inside referer
    "GARBAGE",                           # no tabs at all
    "",                                  # empty line
    "\t".join(["-"] * 33),               # all-dash fields
    "a\tb",                              # 2 fields
]


def test_cf_twin_exists_and_clf_space_variant_does_not():
    assert fast_twin(_parser.parse(CLOUDFRONT[0])) is not None
    assert fast_twin(_parser.parse(CLOUDFRONT_ESCAPED)) is not None
    assert fast_twin(_parser.parse(APACHE_CLF[0])) is None  # space-separated
    assert fast_twin(_parser.parse(APACHE_CLF[2])) is not None  # tab variant
    assert fast_twin(_parser.parse(ALB[0])) is None
    assert fast_twin(_parser.parse(NLB[0])) is None
    assert fast_twin(_parser.parse(S3[0])) is None


@pytest.mark.parametrize(
    "pattern", [CLOUDFRONT[0], APACHE_CLF[2], APACHE_CLF[3], CLOUDFRONT_ESCAPED]
)
def test_twin_identical_to_original_on_adversarial_lines(pattern):
    orig = re.compile(pattern)
    lines = ADVERSARIAL + [
        '1.2.3.4\t-\tu\t[12/Mar/2023:10:55:36 +0000]\t"GET / HTTP/1.1"\t200\t1\t"-"\t"ua"',
        '1.2.3.4\t-\tu\t[12/Mar/2023:10:55:36 +0000]\t"GET / HTTP/1.1"\t200\t1',
        '1.2.3.4\t-\tu\t[tab\tin brackets]\t"GET / HTTP/1.1"\t200\t1\t"-"\t"ua"',
    ]
    pids, vals = decoders.compile_plan([orig.pattern]).decode(lines)
    for line, pid, val in zip(lines, pids, vals):
        m = orig.search(line)  # plain engine, no twin
        if m is None:
            assert pid == -1 and val is None, line
        else:
            assert pid == 0, line
            assert val == ["" if g is None else g for g in m.groups()], line


def test_non_mandatory_tab_patterns_get_no_twin():
    """A literal tab that a successful match may SKIP makes the tab-count
    guard unsound (the skipped pattern tab leaves a line tab for a greedy
    class to span even when counts agree) — such patterns must not derive
    a twin. Regression for the optional-group case: the original matches
    'hdr\\tfoo\\tbar' with b='foo\\tbar' but a narrowed twin would not."""
    # NOTE: patterns below embed real tab characters ("\t" in a non-raw
    # string); fast_twin reads the parse tree, so the "\\t" escape and
    # "\\x09" spell the same tab and derive the same twin, or none.
    optional = re.compile('^(?P<a>\\S+)\t(?:x\t)?(?P<b>[^"]*)$')
    assert fast_twin(_parser.parse(optional.pattern)) is None
    line = "hdr\tfoo\tbar"
    pids, vals = decoders.compile_plan([optional.pattern]).decode([line])
    assert pids[0] == 0 and vals[0] == ["hdr", "foo\tbar"]

    # tab inside an alternation branch: skippable via the other branch
    assert fast_twin(_parser.parse('^(?P<a>\\S+)(?:\tx|y)(?P<b>[^"]*)$')) is None
    # top-level alternation with tabs on one side
    assert fast_twin(_parser.parse('(?P<a>\\S+)\tz(?P<b>[^"]*)|w')) is None
    # tab inside a min-0 counted repetition
    assert fast_twin(_parser.parse('^(?P<a>\\S+)(?:\tq){0,3}(?P<b>[^"]*)$')) is None
    # tab inside a lookahead never consumes
    assert fast_twin(_parser.parse('^(?=x\t)(?P<a>[^"]*)\t(?P<b>\\S+)$')) is None
    # a negated class inside a lookahead may look across a separator tab
    ahead = re.compile('^(?=[^"]*z)(?P<a>[^"]*)\t(?P<b>\\S+)$')
    assert fast_twin(_parser.parse(ahead.pattern)) is None
    # and no decoder ever runs it: RE2 has no lookaround, so compile_plan's
    # gate refuses the pattern
    with pytest.raises(PatternError, match="lookahead"):
        decoders.compile_plan([ahead.pattern])
    # bare tab with a min-0 quantifier directly on it (round-2 ADVICE
    # repro: '^(?P<a>[^"]*)q\t?(?P<b>\S+)$' matches 'x\tyqz' with the tab
    # inside <a>, but a narrowed twin would reject it even though the
    # line's tab count equals n_tabs=1)
    bare_opt = re.compile('^(?P<a>[^"]*)q\t?(?P<b>\\S+)$')
    assert fast_twin(_parser.parse(bare_opt.pattern)) is None
    pids, vals = decoders.compile_plan([bare_opt.pattern]).decode(["x\tyqz"])
    assert pids[0] == 0 and vals[0] == ["x\ty", "z"]
    assert fast_twin(_parser.parse('^(?P<a>[^"]*)q\t*(?P<b>\\S+)$')) is None
    assert fast_twin(_parser.parse('^(?P<a>[^"]*)q\t{0,2}(?P<b>\\S+)$')) is None
    assert fast_twin(_parser.parse('^(?P<a>[^"]*)q\t{,2}(?P<b>\\S+)$')) is None
    # min-1 quantifiers on a bare tab stay twin-eligible
    assert fast_twin(_parser.parse('^(?P<a>\\S+)\t+(?P<b>[^"]*)$')) is not None
    assert fast_twin(_parser.parse('^(?P<a>\\S+)\t{1,2}(?P<b>[^"]*)$')) is not None
    # ... but a min-1 group keeps the mandatoriness argument intact
    assert fast_twin(_parser.parse('^(?P<a>\\S+)(?:\t(?P<b>[^"]*))$')) is not None
    # ... and an optional group WITHOUT a tab inside stays twin-eligible
    assert fast_twin(_parser.parse('^(?P<a>\\S+)\t(?:x)?(?P<b>[^"]*)$')) is not None


def test_optional_tab_pattern_identical_through_batch_decoder():
    """End-to-end: the decoder must route the ADVICE repro line through
    the plain engine and return the original's group values."""
    pat = re.compile('^(?P<a>\\S+)\t(?:x\t)?(?P<b>[^"]*)$')
    lines = ["hdr\tfoo\tbar", "hdr\tx\tval", "hdr\tonly", "no-tabs"]
    pids, vals = decoders.compile_plan([pat.pattern]).decode(lines)
    for line, pid, val in zip(lines, pids, vals):
        m = pat.search(line)
        if m is None:
            assert pid == -1 and val is None, line
        else:
            assert pid == 0, line
            assert val == ["" if g is None else g for g in m.groups()], line


def test_twin_group_values_match_on_matched_corpus():
    for pattern in (CLOUDFRONT[0], CLOUDFRONT_ESCAPED):
        orig = re.compile(pattern)
        twin, n_tabs = fast_twin(_parser.parse(orig.pattern))
        assert n_tabs == 32
        line = _cf_line()
        assert line.count("\t") == n_tabs
        assert twin.search(line).groupdict() == orig.search(line).groupdict()


def test_twin_is_fast():
    import time

    orig = re.compile(CLOUDFRONT[0])
    twin, _ = fast_twin(_parser.parse(orig.pattern))
    line = _cf_line()
    t0 = time.monotonic()
    for _ in range(500):
        twin.search(line)
    fast_t = time.monotonic() - t0
    t0 = time.monotonic()
    for _ in range(500):
        orig.search(line)
    slow_t = time.monotonic() - t0
    assert fast_t < slow_t / 5  # conservatively 5x; measured ~67x


# --- property-based equivalence ---

try:
    from hypothesis import given, settings, strategies as st

    _field = st.text(
        alphabet=st.sampled_from(list("ab5.-\"' \t[]/:")), min_size=0, max_size=8
    )

    @given(st.lists(_field, min_size=0, max_size=40), st.sampled_from([0, 1, 2]))
    @settings(max_examples=300, deadline=None)
    def test_twin_property_random_lines(parts, which):
        pattern = [CLOUDFRONT[0], APACHE_CLF[2], APACHE_CLF[3]][which]
        orig = re.compile(pattern)
        line = "\t".join(parts)
        pids, vals = decoders.compile_plan([orig.pattern]).decode([line])
        m = orig.search(line)
        if m is None:
            assert pids[0] == -1 and vals[0] is None
        else:
            assert pids[0] == 0
            assert vals[0] == ["" if g is None else g for g in m.groups()]
except ImportError:  # pragma: no cover
    pass


# --- soundness over RANDOM PATTERNS ---
#
# Two earlier versions of the twin-eligibility analysis were unsound:
# optional tabs inside groups and a bare min-0-quantified tab each made
# the decoder trust a twin that disagreed with the original. This grammar
# holds exactly the risky ingredients — greedy classes that span tabs,
# tabs under every quantifier shape, optional/alternation scopes
# containing tabs — and the checks assert the ONLY property that matters:
# through the batch decoder (twin + tab-count guard engaged), every line
# decodes identically to the original pattern's plain search().

_GROUP_BODIES = ["[^\\t]*", "\\S+", "[^\"]*", ".*", "[^\\t\"]*"]
_PLAIN_TOKENS = [
    "\\t", "\\t?", "\\t*", "\\t{0,2}", "\\t{1,2}", "\\t{2}",
    "q", "x?", '"',
    "(?:x\\t)?", "(?:a|b\\t)", "(?:\\t|;)", "(?:q\\t)",
]
_TOKENS = [("G", b) for b in _GROUP_BODIES] + [("L", t) for t in _PLAIN_TOKENS]
# The twin-friendly part of the grammar: mandatory tabs between fields, and
# field groups a twin widens ([^"]*), leaves alone (.*) or must refuse
# ([^\t"]*, a set that lists the tab), weighted so that most records
# build a twin.
_TWIN_SEPS = [("L", t) for t in ["\\t", "\\t{1,2}", "\\t{2}", "(?:q\\t)"]]
_TWIN_FIELDS = [("G", b) for b in ['[^"]*', ".*", '[^\\t"]*']]
_TWIN_FIELD_WEIGHTS = [6, 3, 1]


def _grammar_pattern(tokens) -> re.Pattern:
    """``^...$`` from (kind, text) tokens; kind "G" wraps the text in a
    named group, and a pattern with none gets one (decoder contract)."""
    parts, gi = [], 0
    for kind, val in tokens:
        if kind == "G":
            parts.append(f"(?P<g{gi}>{val})")
            gi += 1
        else:
            parts.append(val)
    if gi == 0:
        parts.append("(?P<g0>[^\\t]*)")
    return re.compile("^" + "".join(parts) + "$")


def _draw_tokens(rng: random.Random) -> list[tuple[str, str]]:
    """One pattern's tokens: half the draws a tab-separated record of 2-5
    twin-friendly fields, the rest 1-8 tokens of the whole grammar."""
    if rng.randrange(2):
        return [rng.choice(_TOKENS) for _ in range(rng.randint(1, 8))]
    tokens = rng.choices(_TWIN_FIELDS, _TWIN_FIELD_WEIGHTS)
    for _ in range(rng.randint(1, 4)):
        tokens += [rng.choice(_TWIN_SEPS), *rng.choices(_TWIN_FIELDS, _TWIN_FIELD_WEIGHTS)]
    return tokens


def _assert_decodes_like_search(orig: re.Pattern, lines) -> None:
    # also probe lines with the twin's tab count, where the guard lets the
    # twin take over
    twin = fast_twin(_parser.parse(orig.pattern))
    n_tabs = twin[1] if twin else 1
    probe = list(lines) + ["\t".join(["ab"] * (n_tabs + 1)), "\t" * n_tabs]
    pids, vals = decoders.compile_plan([orig.pattern]).decode(probe)
    for line, pid, val in zip(probe, pids, vals):
        m = orig.search(line)
        if m is None:
            assert pid == -1 and val is None, (orig.pattern, line)
        else:
            assert pid == 0, (orig.pattern, line)
            assert val == ["" if g is None else g for g in m.groups()], (
                orig.pattern,
                line,
            )


def test_random_pattern_grammar_builds_twins():
    """The fuzz below tests the twin only if its grammar yields twins. It
    spells every tab as the escape, so a twin that counted only tab
    characters in the source would never be built. Every 3-token pattern,
    checked on lines with and without the twin's tab count."""
    pats = [_grammar_pattern(t) for t in itertools.product(_TOKENS, repeat=3)]
    twinned = [p for p in pats if fast_twin(_parser.parse(p.pattern)) is not None]
    assert twinned
    for p in twinned:
        _assert_decodes_like_search(p, ["ab\tq", 'a"b\tab', "\t\tx\tq\t", "q\t\t"])


def test_random_pattern_draws_build_twins():
    """The soundness fuzz below exercises the twin on at least a quarter
    of its patterns: 500 seeded draws of its token generator."""
    twinned = sum(
        fast_twin(_parser.parse(_grammar_pattern(_draw_tokens(random.Random(seed))).pattern))
        is not None
        for seed in range(500)
    )
    assert twinned >= 125


try:
    from hypothesis import given, settings, strategies as st

    _line_text = st.text(
        alphabet=st.sampled_from(list('abqx;" \t')), min_size=0, max_size=24
    )

    @given(
        st.randoms(use_true_random=False),
        st.lists(_line_text, min_size=1, max_size=6),
    )
    @settings(max_examples=400, deadline=None)
    def test_random_pattern_twin_soundness(rng, lines):
        _assert_decodes_like_search(_grammar_pattern(_draw_tokens(rng)), lines)
except ImportError:  # pragma: no cover
    pass
