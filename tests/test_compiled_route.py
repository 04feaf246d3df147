"""The compiled route against the per-line reference model, without Spark.

``_RouteSpec.build(fmt, opt).compile().route(...)`` compiles one route per
pattern, and per LTSV label tuple of a batch (filter bound to the labels,
selected group indices, ``no`` slot, row function), and reads each match's
groups once. The model below is the per-line loop: per line, ``plan.decode``
or the LTSV decode, then the filter bound to that line's labels, its own
label selection, the line number and the public ``(labels, values,
is_first)`` handler, then ``apply_prefix``. Both must
give the same routed arrays, or abort with the same ``FilterError`` at the
same line, over every Option and over lines salted with a NUL and the five
escaped characters.

The one-serializer rule is pinned here too: each built-in handler's public
function is its compiler's row function, byte for byte.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import golden_ltsv as gl
from access_log_parser_spark import Option, handlers
from access_log_parser_spark import patterns as pat
from access_log_parser_spark.decoders import (
    EXCLUDED,
    MATCHED,
    SKIPPED,
    UNMATCHED,
    compile_plan,
    ltsv_decode_batch,
)
from access_log_parser_spark.engine import _RouteSpec
from access_log_parser_spark.filters import FilterError, bind_filters, compile_filters
from access_log_parser_spark.functions.corpus import GOLDEN_S3_LINES, GOLDEN_S3_TRUNC_LINE
from tests.test_fast_twin import _cf_line

_CLF = '1.2.3.4 - u s [12/Mar/2023:10:55:36 +0000] "GET /a?b=1 HTTP/1.1" 200 {size}'
_CLF_FULL = _CLF + ' "http://x/" "ua/1.0 (X)"'
_CLF_TAB = ["1.2.3.4", "-", "u s", "[12/Mar/2023:10:55:36 +0000]", '"GET /a?b=1 HTTP/1.1"', "200"]

# per format: base lines (every pattern of the list wins on some line),
# the label pool for Option.labels and the filter pool; a filter label
# the winning pattern lacks, or a numeric filter on "-", aborts
FORMATS = {
    # fused plan: one search per line
    "s3": (
        [GOLDEN_S3_LINES[0] + " arn:aws:s3:::ap Yes", *GOLDEN_S3_LINES, GOLDEN_S3_TRUNC_LINE],
        ["bucket", "method", "http_status", "bytes_sent", "tls_version", "user_agent"],
        [
            "http_status == 200",
            "bucket =~ 4",
            "bytes_sent >= 200",
            "method !=* post",
            "tls_version != TLSV1.2",
            "user_agent =~ Console",
        ],
    ),
    # cascade plan: patterns 1 and 3 lack referer and user_agent
    "apache_clf": (
        [
            _CLF_FULL.format(size=10),
            _CLF.format(size="-"),
            "\t".join(_CLF_TAB + ["7", '"http://x/"', '"ua/1.0 (X)"']),
            "\t".join(_CLF_TAB + ["3"]),
        ],
        ["remote_host", "status", "size", "user_agent", "method"],
        ["status == 200", "size > 5", "user_agent =~ ua", "remote_user ==* U S", "method != PUT"],
    ),
    # one tab-separated pattern run through its fast twin
    "cloudfront": (
        [_cf_line(), _cf_line(inject='q"uote'), _cf_line(32), _cf_line() + "\textra"],
        ["date", "sc_status", "cs_referer", "sc_bytes", "cs_user_agent"],
        ["sc_status == 200", "cs_referer !~ zz", "sc_bytes <= 1000", "x_edge_location =~ LAX"],
    ),
    # per-line labels: T4 and T5 lack referer and user_agent; a duplicate
    # and a reordered label tuple
    "ltsv": (
        [
            gl.T1,
            gl.T2,
            gl.T3,
            gl.T4,
            gl.T4_BAD,
            gl.T5,
            "status:200\tstatus:404\tsize:1",
            "size:5\tstatus:200",
        ],
        ["status", "remote_user", "size", "user_agent"],
        ["status == 200", "size >= 600", "user_agent =~ Mac", "remote_user !=* JOHN"],
    ),
}

SALT = ["\x00", "\\", '"', "\n", "\r", "\t"]


def _model(fmt, opt, raws, line_nos, keys):
    """The per-line loop: (status, pattern_id, out_line, raw) lists."""
    plan = None if fmt == "ltsv" else compile_plan(pat.PRESETS[fmt])
    filt = compile_filters(opt.filters)
    handler = handlers.HANDLERS[opt.line_handler]
    mpref, upref = handlers.prefix_strings(False) if opt.prefix else (None, "")
    rows = []
    last_key = object()
    for raw, ln, key in zip(raws, line_nos, keys):
        if ln in opt.skip_lines:
            rows.append((SKIPPED, -1, None, None))
            continue
        if plan is not None:
            (pid,), (vs,) = plan.decode([raw])
            ls = None if pid < 0 else plan.names[pid]
        else:
            (ls,), (vs,) = ltsv_decode_batch([raw])
            pid = -1 if ls is None else 0
            if ls is not None:
                # the decoder's tuples as the fresh lists a handler gets
                ls, vs = list(ls), list(vs)
        if ls is None:
            out = upref + raw if opt.unmatch_lines and raw is not None else None
            rows.append((UNMATCHED, -1, out, raw))
            continue
        if filt and not bind_filters(filt, ls)(vs):
            rows.append((EXCLUDED, pid, None, None))
            continue
        if opt.labels:
            # selectLabels (parser_core.go:291-305): line order, every
            # occurrence of a wanted label, unknown targets dropped
            kept = [j for j, label in enumerate(ls) if label in opt.labels]
            ls, vs = [ls[j] for j in kept], [vs[j] for j in kept]
        if opt.line_number:
            ls, vs = ["no", *ls], [str(ln), *vs]
        line = handler(ls, vs, key != last_key)
        last_key = key
        if mpref is not None:
            line = handlers.apply_prefix(line, mpref)
        rows.append((MATCHED, pid, line, None))
    return [list(col) for col in zip(*rows)] if rows else [[], [], [], []]


def _salted(base, salts):
    line = base
    for pos, ch in salts:
        pos %= len(line) + 1
        line = line[:pos] + ch + line[pos:]
    return line


@st.composite
def cases(draw):
    fmt = draw(st.sampled_from(sorted(FORMATS)))
    bases, label_pool, filter_pool = FORMATS[fmt]
    line = st.one_of(
        st.none(),
        st.just("junk"),
        st.builds(
            _salted,
            st.sampled_from(bases),
            st.lists(st.tuples(st.integers(0, 400), st.sampled_from(SALT)), max_size=3),
        ),
    )
    raws = draw(st.lists(line, min_size=1, max_size=12))
    # inputs of 1-4 contiguous lines, each numbered from 1
    line_nos, keys = [], []
    while len(line_nos) < len(raws):
        size = draw(st.integers(1, 4))
        line_nos.extend(range(1, size + 1))
        keys.extend([len(keys)] * size)
    opt = Option(
        labels=tuple(draw(st.lists(st.sampled_from(label_pool), unique=True, max_size=3))),
        filters=tuple(draw(st.lists(st.sampled_from(filter_pool), unique=True, max_size=2))),
        skip_lines=tuple(draw(st.lists(st.integers(1, 4), unique=True, max_size=2))),
        unmatch_lines=draw(st.booleans()),
        line_number=draw(st.booleans()),
        prefix=draw(st.booleans()),
        color=False,
        line_handler=draw(st.sampled_from(sorted(handlers.HANDLERS))),
    )
    n = len(raws)
    return fmt, opt, raws, line_nos[:n], keys[:n]


def _run(fn):
    try:
        return fn(), None
    except FilterError as e:
        return None, str(e)


@given(cases())
@settings(max_examples=400, deadline=None)
def test_compiled_route_matches_per_line_model(case):
    fmt, opt, raws, line_nos, keys = case
    want, want_err = _run(lambda: _model(fmt, opt, raws, line_nos, keys))
    spec = _RouteSpec.build(fmt, opt)

    # one batch
    got, got_err = _run(
        lambda: [a.to_pylist() for a in spec.compile().route(raws, line_nos, keys)]
    )
    assert got_err == want_err
    assert got == want

    # one line per batch, isFirst carried on the router: the abort, if
    # any, comes at the model's line
    router = spec.compile()
    routed = []
    for i in range(len(raws)):
        one = slice(i, i + 1)
        arrays, err = _run(lambda: router.route(raws[one], line_nos[one], keys[one]))
        if err is not None:
            break
        routed.append([a.to_pylist()[0] for a in arrays])
    if want_err is not None:
        assert err == want_err
        prefix, at = _run(lambda: _model(fmt, opt, raws[:i], line_nos[:i], keys[:i]))
        assert at is None and [list(r) for r in zip(*routed)] == (prefix if i else [])
        upto = slice(0, i + 1)
        assert _run(lambda: _model(fmt, opt, raws[upto], line_nos[upto], keys[upto]))[1] == err
    else:
        assert [list(col) for col in zip(*routed)] == want


@pytest.mark.parametrize("fmt", ["s3", "apache_clf"])
def test_filter_label_missing_from_one_pattern_aborts_at_its_first_line(fmt):
    """A filter label that one pattern has and another lacks: lines of the
    first pattern route, and the first line of the second aborts with the
    reference's error, on the compiled route and in the model alike."""
    label = {"s3": "tls_version", "apache_clf": "user_agent"}[fmt]
    bases = FORMATS[fmt][0]
    # s3: pattern 1 has tls_version, pattern 4 lacks it
    wide, narrow = (bases[1], bases[5]) if fmt == "s3" else (bases[0], bases[1])
    opt = Option(filters=(f"{label} =~ .",))
    raws = [wide, "junk", wide, narrow, wide]
    line_nos, keys = [1, 2, 3, 4, 5], [0] * 5
    message = f'cannot evaluate filter expressions: "{label}": invalid field name'
    with pytest.raises(FilterError) as model_err:
        _model(fmt, opt, raws, line_nos, keys)
    assert str(model_err.value) == message
    router = _RouteSpec.build(fmt, opt).compile()
    statuses = [router.route(raws[:3], line_nos[:3], keys[:3])[0].to_pylist()]
    assert statuses == [[MATCHED, UNMATCHED, MATCHED]]
    with pytest.raises(FilterError, match=f'"{label}": invalid field name'):
        router.route(raws[3:4], line_nos[3:4], keys[3:4])


# the one-serializer rule: public function == compiler's row function

_TEXT = st.lists(
    st.one_of(
        st.sampled_from(SALT + ["%", "%s", "%%", "-"]),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=12,
).map("".join)
# a label holding "%" reaches a handler only as a user-supplied label tuple
_LABEL = st.text(alphabet=st.sampled_from("ab_%s%d(){}\\\"\t"), max_size=6)


@given(
    st.sampled_from(sorted(handlers.HANDLERS)),
    st.lists(_LABEL, max_size=8),
    st.data(),
    st.booleans(),
)
@settings(max_examples=400, deadline=None)
def test_public_handler_is_its_compiled_row(name, labels, data, is_first):
    values = data.draw(st.lists(_TEXT, min_size=len(labels), max_size=len(labels)))
    compile_labels = getattr(handlers, f"compile_{name}")
    assert handlers.COMPILERS[name] is compile_labels
    row = compile_labels(tuple(labels))
    assert row(tuple(values), is_first) == handlers.HANDLERS[name](labels, values, is_first)


def test_percent_label_is_literal_template_text():
    labels = ("a%s", "%%", "100%")
    values = ("x", "y%s", "")
    assert handlers.compile_json(labels)(values, False) == '{"a%s":"x","%%":"y%s","100%":""}'
    assert handlers.compile_kv(labels)(values, False) == 'a%s="x" %%="y%s" 100%=""'
    assert handlers.compile_ltsv(labels)(values, False) == "a%s:x\t%%:y%s\t100%:-"
    assert handlers.compile_tsv(labels)(values, True) == "a%s\t%%\t100%\nx\ty%s\t-"


def test_nul_in_a_value_takes_the_per_value_escape():
    row = handlers.compile_json(("a", "b"))
    assert row(("x\x00\ty", 'z"'), False) == '{"a":"x\x00\\ty","b":"z\\""}'
    assert row(("\x00", "\x00"), False) == '{"a":"\x00","b":"\x00"}'
