"""fast_twin: the guarded backtracking-free rewrite for tab-separated
patterns (patterns.fast_twin) must be observationally identical to the
original pattern through the batch decoder, including on adversarial
lines (extra/missing tabs, quotes inside fields, trailing garbage) where
the guard forces fallback to the original engine.
"""

from __future__ import annotations

import re

import pytest

from access_log_parser_spark import decoders
from access_log_parser_spark.patterns import (
    ALB,
    APACHE_CLF,
    CLOUDFRONT,
    NLB,
    S3,
    fast_twin,
)


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
    assert fast_twin(re.compile(CLOUDFRONT[0])) is not None
    assert fast_twin(re.compile(APACHE_CLF[0])) is None  # space-separated
    assert fast_twin(re.compile(APACHE_CLF[2])) is not None  # tab variant
    assert fast_twin(re.compile(ALB[0])) is None
    assert fast_twin(re.compile(NLB[0])) is None
    assert fast_twin(re.compile(S3[0])) is None


@pytest.mark.parametrize("pattern", [CLOUDFRONT[0], APACHE_CLF[2], APACHE_CLF[3]])
def test_twin_identical_to_original_on_adversarial_lines(pattern):
    orig = re.compile(pattern)
    lines = ADVERSARIAL + [
        '1.2.3.4\t-\tu\t[12/Mar/2023:10:55:36 +0000]\t"GET / HTTP/1.1"\t200\t1\t"-"\t"ua"',
        '1.2.3.4\t-\tu\t[12/Mar/2023:10:55:36 +0000]\t"GET / HTTP/1.1"\t200\t1',
        '1.2.3.4\t-\tu\t[tab\tin brackets]\t"GET / HTTP/1.1"\t200\t1\t"-"\t"ua"',
    ]
    pids, vals = decoders.compile_plan([orig]).decode(lines)
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
    # NOTE: patterns below embed REAL tab characters ("\t" in a non-raw
    # string) — fast_twin only counts literal tab chars in the source
    # (a 2-char "\\t" escape already derives no twin, which is safe).
    optional = re.compile('^(?P<a>\\S+)\t(?:x\t)?(?P<b>[^"]*)$')
    assert fast_twin(optional) is None
    line = "hdr\tfoo\tbar"
    pids, vals = decoders.compile_plan([optional]).decode([line])
    assert pids[0] == 0 and vals[0] == ["hdr", "foo\tbar"]

    # tab inside an alternation branch: skippable via the other branch
    assert fast_twin(re.compile('^(?P<a>\\S+)(?:\tx|y)(?P<b>[^"]*)$')) is None
    # top-level alternation with tabs on one side
    assert fast_twin(re.compile('(?P<a>\\S+)\tz(?P<b>[^"]*)|w')) is None
    # tab inside a min-0 counted repetition
    assert fast_twin(re.compile('^(?P<a>\\S+)(?:\tq){0,3}(?P<b>[^"]*)$')) is None
    # tab inside a lookahead never consumes
    assert fast_twin(re.compile('^(?=x\t)(?P<a>[^"]*)\t(?P<b>\\S+)$')) is None
    # bare tab with a min-0 quantifier directly on it (round-2 ADVICE
    # repro: '^(?P<a>[^"]*)q\t?(?P<b>\S+)$' matches 'x\tyqz' with the tab
    # inside <a>, but a narrowed twin would reject it even though the
    # line's tab count equals n_tabs=1)
    bare_opt = re.compile('^(?P<a>[^"]*)q\t?(?P<b>\\S+)$')
    assert fast_twin(bare_opt) is None
    pids, vals = decoders.compile_plan([bare_opt]).decode(["x\tyqz"])
    assert pids[0] == 0 and vals[0] == ["x\ty", "z"]
    assert fast_twin(re.compile('^(?P<a>[^"]*)q\t*(?P<b>\\S+)$')) is None
    assert fast_twin(re.compile('^(?P<a>[^"]*)q\t{0,2}(?P<b>\\S+)$')) is None
    assert fast_twin(re.compile('^(?P<a>[^"]*)q\t{,2}(?P<b>\\S+)$')) is None
    # min-1 quantifiers on a bare tab stay twin-eligible
    assert fast_twin(re.compile('^(?P<a>\\S+)\t+(?P<b>[^"]*)$')) is not None
    assert fast_twin(re.compile('^(?P<a>\\S+)\t{1,2}(?P<b>[^"]*)$')) is not None
    # ... but a min-1 group keeps the mandatoriness argument intact
    assert fast_twin(re.compile('^(?P<a>\\S+)(?:\t(?P<b>[^"]*))$')) is not None
    # ... and an optional group WITHOUT a tab inside stays twin-eligible
    assert fast_twin(re.compile('^(?P<a>\\S+)\t(?:x)?(?P<b>[^"]*)$')) is not None


def test_optional_tab_pattern_identical_through_batch_decoder():
    """End-to-end: the decoder must route the ADVICE repro line through
    the plain engine and return the original's group values."""
    pat = re.compile('^(?P<a>\\S+)\t(?:x\t)?(?P<b>[^"]*)$')
    lines = ["hdr\tfoo\tbar", "hdr\tx\tval", "hdr\tonly", "no-tabs"]
    pids, vals = decoders.compile_plan([pat]).decode(lines)
    for line, pid, val in zip(lines, pids, vals):
        m = pat.search(line)
        if m is None:
            assert pid == -1 and val is None, line
        else:
            assert pid == 0, line
            assert val == ["" if g is None else g for g in m.groups()], line


def test_twin_group_values_match_on_matched_corpus():
    orig = re.compile(CLOUDFRONT[0])
    twin, n_tabs = fast_twin(orig)
    assert n_tabs == 32
    line = _cf_line()
    assert line.count("\t") == n_tabs
    assert twin.search(line).groupdict() == orig.search(line).groupdict()


def test_twin_is_fast():
    import time

    orig = re.compile(CLOUDFRONT[0])
    twin, _ = fast_twin(orig)
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
        pids, vals = decoders.compile_plan([orig]).decode([line])
        m = orig.search(line)
        if m is None:
            assert pids[0] == -1 and vals[0] is None
        else:
            assert pids[0] == 0
            assert vals[0] == ["" if g is None else g for g in m.groups()]
except ImportError:  # pragma: no cover
    pass


# --- property-based soundness over RANDOM PATTERNS ---
#
# Both prior advisory reviews found real unsoundness in the
# twin-eligibility scanner (_tabs_all_mandatory): optional tabs inside
# groups (round 1) and a bare min-0-quantified tab (round 2) each made
# the decoder trust a twin that disagreed with the original. This fuzz
# generates patterns from a grammar of exactly the risky ingredients —
# greedy classes that span tabs, tabs under every quantifier shape,
# optional/alternation scopes containing tabs — and asserts the ONLY
# property that matters: through the batch decoder (twin + tab-count
# guard engaged), every line decodes identically to the original
# pattern's plain search().

try:
    from hypothesis import given, settings, strategies as st

    _GROUP_BODIES = ["[^\\t]*", "\\S+", "[^\"]*", ".*", "[^\\t\"]*"]
    _PLAIN_TOKENS = [
        "\\t", "\\t?", "\\t*", "\\t{0,2}", "\\t{1,2}", "\\t{2}",
        "q", "x?", '"',
        "(?:x\\t)?", "(?:a|b\\t)", "(?:\\t|;)", "(?:q\\t)",
    ]
    _token = st.one_of(
        st.sampled_from(_GROUP_BODIES).map(lambda b: ("G", b)),
        st.sampled_from(_PLAIN_TOKENS).map(lambda t: ("L", t)),
    )
    _line_text = st.text(
        alphabet=st.sampled_from(list('abqx;" \t')), min_size=0, max_size=24
    )

    @given(
        st.lists(_token, min_size=1, max_size=8),
        st.lists(_line_text, min_size=1, max_size=6),
    )
    @settings(max_examples=400, deadline=None)
    def test_random_pattern_twin_soundness(tokens, lines):
        parts, names, gi = [], [], 0
        for kind, val in tokens:
            if kind == "G":
                parts.append(f"(?P<g{gi}>{val})")
                names.append(f"g{gi}")
                gi += 1
            else:
                parts.append(val)
        if not names:  # decoder contract: >=1 named group
            parts.append("(?P<g0>[^\\t]*)")
            names.append("g0")
        orig = re.compile("^" + "".join(parts) + "$")
        # also probe lines with the exact separator tab count, where the
        # guard lets the twin (if any) take over
        n_tabs = "".join(parts).count("\\t")
        probe = lines + ["\t".join(["ab"] * (n_tabs + 1)), "\t" * n_tabs]
        pids, vals = decoders.compile_plan([orig]).decode(probe)
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
except ImportError:  # pragma: no cover
    pass
