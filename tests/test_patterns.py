"""Pattern registry/validation tests (parser_regex.go:74-100,
parser_regex_test.go:393-516)."""

import re

import pytest

from access_log_parser_spark import patterns as pat
from access_log_parser_spark.decoders import compile_plan


def test_presets_compile_and_are_all_named():
    for name, plist in pat.PRESETS.items():
        assert plist, name
        for p in plist:
            c = pat.validate_pattern(p)
            assert c.groups >= 1


def test_preset_widths():
    # SURVEY.md §2.9 field counts
    widths = {
        "apache_clf": 11,
        "apache_clf_vhost": 12,
        "s3": 28,
        "cloudfront": 33,
        "alb": 31,
        "nlb": 22,
        "clb": 17,
    }
    for name, w in widths.items():
        c = re.compile(pat.PRESETS[name][0])
        assert c.groups == w, name


def test_s3_fallback_widths():
    assert [re.compile(p).groups for p in pat.PRESETS["s3"]] == [28, 27, 26, 25, 20]


def test_invalid_pattern_rejected():
    with pytest.raises(pat.PatternError):
        pat.validate_pattern("(")  # does not compile


def test_no_capture_group_rejected():
    with pytest.raises(pat.PatternError, match="capture group not found"):
        pat.validate_pattern("[!-~]+")


def test_non_named_group_rejected():
    with pytest.raises(pat.PatternError, match="non-named capture group"):
        pat.validate_pattern("(?P<field1>[!-~]+) ([!-~]+) (?P<field3>[!-~]+)")


def test_re2_unsupported_constructs_rejected():
    """The reference's regexp.Compile (RE2) cannot express lookaround,
    backreferences, conditionals, atomic groups or possessive repeats, so
    user patterns using them must fail fast here too instead of silently
    meaning something the reference cannot run."""
    for bad, name in [
        (r"(?P<a>x)(?=y)", "lookahead"),
        (r"(?P<a>x)(?!y)", "negative lookahead"),
        (r"(?<=y)(?P<a>x)", "lookbehind"),
        (r"(?<!y)(?P<a>x)", "negative lookbehind"),
        (r"(?P<a>x)\1", "backreference"),
        (r"(?P<a>x)(?P=a)", "backreference"),
        (r"^(?P<a>a*+)", "possessive repeat"),
        (r"^(?P<a>(?>ab|a)c)", "atomic group"),
        (r"^(?P<a>x)(?(a)y|z)", "conditional"),
        # an escaped "[" opens no class, so the lookahead after it counts
        (r"^(?P<a>\[)(?=x)(?P<b>])", "lookahead"),
    ]:
        with pytest.raises(pat.PatternError, match=name):
            pat.validate_pattern(bad)
    # inside a character class these are literal chars, not constructs
    assert pat.validate_pattern(r"(?P<a>[(?=!]+)") is not None


def test_union_schema_order():
    union = compile_plan(pat.PRESETS["s3"]).union
    assert union[0] == "bucket_owner"
    assert union[-1] == "acl_required"
    assert len(union) == 28


@pytest.mark.parametrize("preset", ["s3", "clb", "cloudfront", "apache_clf", "alb"])
def test_compile_plan_parses_each_pattern_once(preset, monkeypatch):
    """One compile point: with ``re``'s cache warm, the gate, the group
    checks, fusion and the twin all read one parse per pattern string."""
    compile_plan(pat.PRESETS[preset])
    calls = []
    parse = re._parser.parse
    monkeypatch.setattr(re._parser, "parse", lambda *a, **k: calls.append(a) or parse(*a, **k))
    compile_plan(pat.PRESETS[preset])
    assert len(calls) == len(pat.PRESETS[preset])


@pytest.mark.parametrize(
    "preset, parses", [("s3", 5), ("clb", 2), ("apache_clf", 8), ("cloudfront", 2), ("alb", 2)]
)
def test_compile_plan_first_sight_parses(preset, parses, monkeypatch):
    """With ``re``'s cache empty, a fused list is parsed once per pattern
    and compiles no member; a cascade list's ``re.compile`` of each source
    parses it a second time."""
    re.purge()
    calls = []
    parse = re._parser.parse
    monkeypatch.setattr(re._parser, "parse", lambda *a, **k: calls.append(a) or parse(*a, **k))
    compile_plan(pat.PRESETS[preset])
    assert len(calls) == parses


def test_twin_and_fusion_leave_the_shared_trees_as_they_are():
    """A plan's trees are shared by the gate, fusion and the twin, so
    deriving a twin widens a copy and fusion builds a new tree."""
    for srcs in (pat.CLOUDFRONT, pat.APACHE_CLF[2:]):
        trees = [pat.parse_pattern(s) for s in srcs]
        before = [repr(t) for t in trees]
        assert all(pat.fast_twin(t) is not None for t in trees)
        assert [repr(t) for t in trees] == before
    trees = [pat.parse_pattern(s) for s in pat.S3]
    before = [repr(t) for t in trees]
    assert pat.fuse_cascade(trees) is not None
    assert [repr(t) for t in trees] == before
