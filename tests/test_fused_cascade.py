"""Fused decode plans: a prefix-chained pattern list decoded with ONE
regex search per line (patterns.fuse_cascade) must be observationally
identical to the first-match-wins cascade, which stays the oracle here.
Lists the fusion analysis cannot prove keep the cascade.
"""

from __future__ import annotations

import dataclasses
import re

import golden_s3 as g
import pytest

from access_log_parser_spark import decoders
from access_log_parser_spark.patterns import (
    APACHE_CLF,
    APACHE_CLF_VHOST,
    CLOUDFRONT,
    PRESETS,
    S3,
    FusedCascade,
    fuse_cascade,
)
from tests.test_presets_golden import CLB_IN, CLB_SHORT_IN, CLB_UNMATCH

S3_LINES = [g.L1, g.L2, g.L3, g.L4_FULL, g.L4_TRUNC, g.L5, g.AU1, g.AU2, g.AU3]
CLB_LINES = [CLB_IN, CLB_SHORT_IN, CLB_UNMATCH]

# Decodes as pattern 0 in the cascade, but a fused Apache regex would let
# remote_user ([\S ]+) run on into the next fields and report pattern 1.
APACHE_COUNTEREXAMPLE = (
    'h l u [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 5 "r" "a" '
    '[10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.1" 200 5'
)


def cascade(patterns: list[re.Pattern], line: str) -> tuple[int, list[str] | None]:
    """The reference's loop: try each pattern in order, first match wins."""
    for pid, p in enumerate(patterns):
        m = p.search(line)
        if m is not None:
            return pid, ["" if v is None else v for v in m.groups()]
    return -1, None


def naive_fusion(shorter: str, longer: str) -> re.Pattern:
    """``shorter(?:suffix)?`` with no soundness check."""
    return re.compile(shorter + "(?:" + longer[len(shorter):] + ")?")


def plan_for(preset: str) -> decoders.DecodePlan:
    return decoders.compile_plan([re.compile(p) for p in PRESETS[preset]])


def assert_same_as_cascade(plan: decoders.DecodePlan, lines: list[str]) -> None:
    pats = list(plan.patterns)
    want = [cascade(pats, line) for line in lines]
    pids, vals = plan.decode(lines)
    assert list(zip(pids, vals)) == want
    fields = ["bucket", "acl_required", "tls_version", "user_agent", "ssl_protocol", "nope"]
    cpids, cols = plan.columns(lines, fields)
    assert cpids == pids
    for i, (pid, vs) in enumerate(want):
        pos = {} if pid < 0 else {n: k for k, n in enumerate(plan.names[pid])}
        row = [vs[pos[f]] if f in pos else None for f in fields]
        assert [c[i] for c in cols] == row, lines[i]


class CountingRegex:
    """Stands in for a compiled pattern and counts its searches."""

    def __init__(self, regex: re.Pattern) -> None:
        self.regex = regex
        self.groups = regex.groups
        self.calls = 0

    def search(self, line: str):
        self.calls += 1
        return self.regex.search(line)


def counted(plan: decoders.DecodePlan) -> tuple[decoders.DecodePlan, list[CountingRegex]]:
    """The same plan with every regex it can search wrapped in a counter."""
    pats = [CountingRegex(p) for p in plan.patterns]
    counters = list(pats)
    fused = plan.fused
    if fused is not None:
        wrapped = CountingRegex(fused.regex)
        counters.append(wrapped)
        fused = FusedCascade(wrapped, fused.levels)
    twins = []
    for twin in plan.twins:
        if twin is not None:
            wrapped = CountingRegex(twin[0])
            counters.append(wrapped)
            twin = (wrapped, twin[1])
        twins.append(twin)
    return (
        dataclasses.replace(plan, patterns=tuple(pats), twins=tuple(twins), fused=fused),
        counters,
    )


# --- the plan each preset gets ---


@pytest.mark.parametrize("preset, n", [("s3", 5), ("clb", 2)])
def test_prefix_chained_presets_get_a_fused_plan(preset, n):
    plan = plan_for(preset)
    assert plan.fused is not None
    # deepest tail first, ending with the head (pattern n-1, no marker)
    assert [pid for _, pid in plan.fused.levels] == list(range(n))
    assert plan.fused.levels[-1][0] == -1
    assert plan.twins == ()


@pytest.mark.parametrize("preset, lines", [("s3", S3_LINES), ("clb", CLB_LINES)])
def test_fused_plan_runs_one_search_per_line(preset, lines):
    plan, counters = counted(plan_for(preset))
    batch = lines * 7 + ["garbage", ""]
    plan.decode(batch)
    assert sum(c.calls for c in counters) == len(batch)
    assert counters[-1].calls == len(batch)  # all on the fused regex
    plan.columns(batch, ["bucket"])
    assert sum(c.calls for c in counters) == 2 * len(batch)


def test_cascade_counts_more_than_one_search_per_line():
    """The counter sees the cascade too: unmatched S3 lines try all five."""
    plan = plan_for("s3")
    cascade_plan = dataclasses.replace(plan, fused=None, twins=(None,) * len(plan.patterns))
    wrapped, counters = counted(cascade_plan)
    wrapped.decode([g.AU1, g.L5])
    assert sum(c.calls for c in counters) == 5 + 5


@pytest.mark.parametrize("preset", ["apache_clf", "apache_clf_vhost", "cloudfront", "alb", "nlb"])
def test_other_presets_keep_the_cascade(preset):
    plan = plan_for(preset)
    assert plan.fused is None
    assert len(plan.twins) == len(plan.patterns)


def test_cloudfront_keeps_its_guarded_twin():
    plan = plan_for("cloudfront")
    twin = plan.twins[0]
    assert twin is not None and twin[1] == 32
    assert plan.twins[0][0].pattern != CLOUDFRONT[0]


def test_apache_counterexample_is_not_fused():
    """Apache CLF passes the prefix and anchor conditions but not the
    forced-match one: remote_user's class [\\S ] holds the space after it."""
    pair = [re.compile(APACHE_CLF[0]), re.compile(APACHE_CLF[1])]
    assert fuse_cascade(pair) is None
    assert fuse_cascade([re.compile(p) for p in APACHE_CLF_VHOST[:2]]) is None

    pid, vals = cascade(pair, APACHE_COUNTEREXAMPLE)
    assert pid == 0 and vals[2] == "u"
    m = naive_fusion(APACHE_CLF[1], APACHE_CLF[0]).search(APACHE_COUNTEREXAMPLE)
    assert m["referer"] is None  # the unsound fusion picks pattern 1 ...
    assert m["remote_user"].startswith("u [10/Oct") and m["remote_user"].endswith('"a"')

    plan = decoders.compile_plan(pair)
    assert plan.decode([APACHE_COUNTEREXAMPLE]) == ([0], [vals])  # ... the plan does not


def test_unanchored_list_is_not_fused():
    """``search`` takes the leftmost start: the head alone matches at 0
    while the longer pattern matches further right, so the cascade and a
    fused regex disagree."""
    pats = [re.compile(r"(?P<a>[a-z]+)(?P<b>[0-9]+)"), re.compile(r"(?P<a>[a-z]+)")]
    assert fuse_cascade(pats) is None
    line = "ab-cd5"
    assert cascade(pats, line) == (0, ["cd", "5"])
    m = naive_fusion(pats[1].pattern, pats[0].pattern).search(line)
    assert (m["a"], m["b"]) == ("ab", None)
    assert decoders.compile_plan(pats).decode([line]) == ([0], [["cd", "5"]])


@pytest.mark.parametrize(
    "pats",
    [
        # not a source prefix chain
        [S3[0], S3[2]][::-1],
        [S3[4], S3[0]],
        # the suffix changes an item of the shorter pattern
        [r"^(?P<a>x)+", r"^(?P<a>x)"],
        [r"^(?P<a>x)|(?P<b>y)", r"^(?P<a>x)"],
        # inline flags, and a lazy repeat
        [r"(?s)^(?P<a>.+) (?P<b>x)", r"(?s)^(?P<a>.+)"],
        [r"^(?P<a>[a-z]+?) (?P<b>x)", r"^(?P<a>[a-z]+?)"],
        # a repeat followed by a nullable item, an anchor inside
        [r"^(?P<a>[a-z]+)(?P<b>[0-9]*)x", r"^(?P<a>[a-z]+)(?P<b>[0-9]*)"],
        [r"^(?P<a>[a-z]+)$(?P<b>x)", r"^(?P<a>[a-z]+)$"],
        # alternatives whose first characters overlap
        [r"^(?P<a>[ab]x|[bc]y) (?P<b>x)", r"^(?P<a>[ab]x|[bc]y)"],
        # a tail without a capture group outside a repeat
        [r"^(?P<a>[a-z]+) x", r"^(?P<a>[a-z]+)"],
        [r"^(?P<a>[a-z]+)(?: (?P<b>x))?", r"^(?P<a>[a-z]+)"],
    ],
)
def test_unprovable_lists_keep_the_cascade(pats):
    assert fuse_cascade([re.compile(p) for p in pats]) is None


def test_forced_user_list_is_fused_and_exact():
    pats = [
        re.compile(r"^(?P<a>[a-z]+)=(?P<b>\d{1,3}|-);(?P<c>[^;]*);(?P<d>\S+)"),
        re.compile(r"^(?P<a>[a-z]+)=(?P<b>\d{1,3}|-);(?P<c>[^;]*)"),
        re.compile(r"^(?P<a>[a-z]+)=(?P<b>\d{1,3}|-)"),
    ]
    plan = decoders.compile_plan(pats)
    assert plan.fused is not None
    lines = ["k=12;v w;x", "k=12;;", "k=1234;v", "k=-;v", "k=12;v;", "k=12", "K=1", "k=12;v; x"]
    pids, vals = plan.decode(lines)
    assert list(zip(pids, vals)) == [cascade(pats, line) for line in lines]
    assert pids == [0, 1, 2, 1, 1, 2, -1, 1]


@pytest.mark.parametrize("preset, lines", [("s3", S3_LINES), ("clb", CLB_LINES)])
def test_truncation_after_every_field(preset, lines):
    plan = plan_for(preset)
    cut = [line[:i] for line in lines for i in range(len(line) + 1) if i == len(line) or line[i] == " "]
    assert_same_as_cascade(plan, cut)


# --- property-based equivalence: fused plan vs cascade oracle ---

try:
    from hypothesis import given, settings, strategies as st

    _GLUE = ["\u00e9", "\u00fc", "\u00a0", "\u3042", "\u200b"]
    _INSIDE = ['"', "[", "]"]

    def _tokens_mutation(draw, tokens: list[str]) -> list[str]:
        kind = draw(st.sampled_from(["extra", "glue", "sep", "inside", "lead", "cut"]))
        i = draw(st.integers(0, len(tokens) - 1))
        if kind == "extra":
            extra = draw(st.lists(st.sampled_from(["-", "x", "TLSv1.2", '"q"', "[b]"]), min_size=1, max_size=3))
            return tokens + extra
        if kind == "glue":
            # a non-ASCII character stops [!-~]+ early
            ch = draw(st.sampled_from(_GLUE))
            return tokens[:i] + [tokens[i] + ch if draw(st.booleans()) else ch + tokens[i]] + tokens[i + 1:]
        if kind == "sep":
            if i + 1 >= len(tokens):
                return tokens
            sep = draw(st.sampled_from(["\t", "  "]))
            return tokens[:i] + [tokens[i] + sep + tokens[i + 1]] + tokens[i + 2:]
        if kind == "inside":
            ch = draw(st.sampled_from(_INSIDE))
            tok = tokens[i]
            at = draw(st.integers(0, len(tok)))
            return tokens[:i] + [tok[:at] + ch + tok[at:]] + tokens[i + 1:]
        if kind == "lead":
            garbage = draw(st.sampled_from(["x ", " ", "\t", "\u00e9", '"', "- -"]))
            return [garbage + tokens[0]] + tokens[1:]
        return tokens[: i + 1]

    @st.composite
    def mutated_lines(draw, seeds: list[str]) -> str:
        tokens = draw(st.sampled_from(seeds)).split(" ")
        for _ in range(draw(st.integers(1, 3))):
            tokens = _tokens_mutation(draw, tokens)
        return " ".join(tokens)

    @pytest.mark.parametrize("preset, seeds", [("s3", S3_LINES), ("clb", CLB_LINES)])
    @given(data=st.data())
    @settings(max_examples=300, deadline=None)
    def test_fused_equals_cascade_on_mutated_golden_lines(preset, seeds, data):
        plan = plan_for(preset)
        lines = data.draw(st.lists(mutated_lines(seeds), min_size=1, max_size=8))
        assert_same_as_cascade(plan, lines)

except ImportError:  # pragma: no cover
    pass


# --- property-based soundness over RANDOM prefix-chained lists ---
#
# The fusion analysis itself is what can be wrong, so this fuzz builds
# pattern lists from the risky ingredients: classes that hold the next
# literal, nullable repeats, overlapping alternatives, bounded repeats,
# missing anchors. Whenever fuse_cascade accepts a list, the fused plan
# must decode every line exactly as the cascade does.

try:
    from hypothesis import given, settings, strategies as st

    _BODIES = [
        "[a-z]+", "[a-z ]+", "[^;]*", "\\d{1,3}", "\\d{2}", "\\S+", ".*", "[ab]+",
        "x|y", "x|xy", "[ab]x|-", "\\d+|-", "[a-z]*",
    ]
    _LITERALS = [";", " ", "=", "x", "a"]

    @st.composite
    def _segment(draw) -> list[tuple[str, str]]:
        """A run of items holding at least one capture group."""
        items = draw(
            st.lists(
                st.one_of(
                    st.sampled_from(_BODIES).map(lambda b: ("G", b)),
                    st.sampled_from(_LITERALS).map(lambda t: ("L", t)),
                ),
                min_size=1,
                max_size=4,
            )
        )
        if all(kind == "L" for kind, _ in items):
            items.append(("G", draw(st.sampled_from(_BODIES))))
        return items

    @given(
        st.booleans(),
        _segment(),
        st.lists(_segment(), min_size=1, max_size=3),
        st.lists(
            st.text(alphabet=st.sampled_from(list("abxyz;= 12-")), max_size=16),
            min_size=1,
            max_size=8,
        ),
    )
    @settings(max_examples=500, deadline=None)
    def test_random_prefix_chain_fusion_soundness(anchored, head, tails, lines):
        counter = iter(range(100))

        def src(items):
            return "".join(
                f"(?P<g{next(counter)}>{val})" if kind == "G" else val
                for kind, val in items
            )

        shortest = ("^" if anchored else "") + src(head)
        chain = [shortest]
        for tail in tails:
            chain.append(chain[-1] + src(tail))
        pats = [re.compile(p) for p in reversed(chain)]
        plan = decoders.compile_plan(pats)
        if not anchored:
            assert plan.fused is None
        probe = lines + [line + ";" + line for line in lines]
        pids, vals = plan.decode(probe)
        assert list(zip(pids, vals)) == [cascade(pats, line) for line in probe], chain

except ImportError:  # pragma: no cover
    pass
