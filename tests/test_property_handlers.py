"""Property-based serializer tests (hypothesis): beyond the reference's
table-driven goldens.

- JSON handler output must parse as JSON and round-trip values for inputs
  whose escaping the reference handles (no raw control chars < 0x20 other
  than \\n \\r \\t — the reference emits those raw, producing technically
  invalid JSON by design, handler.go:127-144);
- LTSV handler round-trips through the LTSV decoder for values free of
  tab/newline;
- decode is total: arbitrary lines never crash, they match or don't.
"""

import json
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from access_log_parser_spark import patterns as pat
from access_log_parser_spark.decoders import compile_plan, ltsv_decode_batch
from access_log_parser_spark.handlers import (
    json_line_handler,
    ltsv_line_handler,
    tsv_line_handler,
)

label = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
# printable + escaped whitespace, excluding other control chars
value_json = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="".join(
        chr(c) for c in range(0x20) if chr(c) not in "\n\r\t"
    )),
    max_size=50,
)


@given(st.lists(st.tuples(label, value_json), min_size=1, max_size=8, unique_by=lambda t: t[0]))
@settings(max_examples=200, deadline=None)
def test_json_handler_round_trips(pairs):
    labels = [p[0] for p in pairs]
    values = [p[1] for p in pairs]
    out = json_line_handler(labels, values, False)
    parsed = json.loads(out)
    assert parsed == dict(pairs)
    assert list(parsed) == labels  # insertion order preserved


value_ltsv = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\t\n\r"),
    min_size=1,
    max_size=30,
)


@given(st.lists(st.tuples(label, value_ltsv), min_size=1, max_size=6, unique_by=lambda t: t[0]))
@settings(max_examples=200, deadline=None)
def test_ltsv_handler_round_trips_through_decoder(pairs):
    labels = [p[0] for p in pairs]
    values = [p[1] for p in pairs]
    line = ltsv_line_handler(labels, values, False)
    ls, vs = ltsv_decode_batch([line])
    assert ls[0] == tuple(labels)
    # handler substitutes empty values with "-" (handler.go:88-90)
    assert vs[0] == tuple(v if v else "-" for v in values)


@given(st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_regex_decode_total(line):
    compiled = [pat.validate_pattern(p) for p in pat.PRESETS["s3"]]
    pids, vals = compile_plan(pat.PRESETS["s3"]).decode([line])
    if pids[0] >= 0:
        assert len(vals[0]) == compiled[pids[0]].groups
    else:
        assert vals[0] is None


@given(st.lists(st.text(alphabet=st.characters(blacklist_characters="\t\n\r",
                                               blacklist_categories=("Cs",)),
                        max_size=20), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_tsv_handler_column_count(values):
    labels = [f"c{i}" for i in range(len(values))]
    out = tsv_line_handler(labels, values, False)
    assert len(out.split("\t")) == len(values)


# Reference model for the escape and the truncation, kept here on purpose:
# the original str.translate table and the handler.go loop spelled as
# enumerate(...) if i < n. The handlers must stay byte-identical to it.
_REF_TRANS = str.maketrans(
    {"\\": "\\\\", '"': '\\"', "\n": "\\n", "\r": "\\r", "\t": "\\t"}
)


def _ref_esc(s):
    return s.translate(_REF_TRANS)


def _ref_pairs(labels, values):
    n = len(labels)
    return [(labels[i], v) for i, v in enumerate(values) if i < n]


def _ref_json(ls, vs, _f):
    return "{" + ",".join(f'"{k}":"{_ref_esc(v)}"' for k, v in _ref_pairs(ls, vs)) + "}"


def _ref_pretty(ls, vs, _f):
    body = ",\n".join(f'  "{k}": "{_ref_esc(v)}"' for k, v in _ref_pairs(ls, vs))
    return "{\n" + body + "\n}"


def _ref_kv(ls, vs, _f):
    return " ".join(f'{k}="{_ref_esc(v)}"' for k, v in _ref_pairs(ls, vs))


def _ref_ltsv(ls, vs, _f):
    return "\t".join(f"{k}:{v if v else '-'}" for k, v in _ref_pairs(ls, vs))


def _ref_tsv(ls, vs, first):
    body = "\t".join(v if v else "-" for _, v in _ref_pairs(ls, vs))
    return "\t".join(ls) + "\n" + body if first else body


REF_HANDLERS = {
    "json": _ref_json,
    "pretty_json": _ref_pretty,
    "kv": _ref_kv,
    "ltsv": _ref_ltsv,
    "tsv": _ref_tsv,
}

# every char below 0x20 plus the escaped and format-sensitive ones
_SPECIAL = "".join(chr(c) for c in range(0x20)) + '\\"%'
any_text = st.text(
    alphabet=st.one_of(
        st.sampled_from(_SPECIAL),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=40,
)
pct_label = st.text(alphabet=st.sampled_from("ab_%s%d\\\"\t"), max_size=6)


@given(
    st.sampled_from(sorted(REF_HANDLERS)),
    st.lists(pct_label, max_size=6),
    st.lists(any_text, max_size=8),
    st.booleans(),
)
@settings(max_examples=400, deadline=None)
def test_handlers_match_reference_model(name, labels, values, is_first):
    from access_log_parser_spark.handlers import HANDLERS, escape_string

    want = REF_HANDLERS[name](labels, values, is_first)
    assert HANDLERS[name](labels, values, is_first) == want
    for v in values:
        assert escape_string(v) == _ref_esc(v)


@given(st.sampled_from(sorted(REF_HANDLERS)), st.data())
@settings(max_examples=200, deadline=None)
def test_handlers_truncate_like_reference(name, data):
    """Both truncation directions, every time: more values than labels
    drops the extras, fewer values than labels stops early."""
    from access_log_parser_spark.handlers import HANDLERS

    labels = data.draw(st.lists(pct_label, min_size=1, max_size=5))
    extra = data.draw(st.lists(any_text, min_size=len(labels) + 1, max_size=len(labels) + 3))
    short = extra[: data.draw(st.integers(0, len(labels) - 1))]
    for values in (extra, short):
        assert HANDLERS[name](labels, values, True) == REF_HANDLERS[name](labels, values, True)
