"""One applyPrefix: the router prefixes each routed line right after its
LineHandler (parser_core.go:176-254, 323-334) with
``handlers.apply_prefix``, on both routed entries, and no Catalyst
projection rewrites ``out_line`` above the hop."""

import pytest
from pyspark.sql import functions as F

import golden_s3 as g
from access_log_parser_spark import Option, engine
from access_log_parser_spark.handlers import apply_prefix, prefix_strings
from access_log_parser_spark.sources import explode_lines


def _user_handler():
    # built inside a function so cloudpickle ships it by value; multi-line
    # on the first line of each input, like the tsv header
    def handler(labels, values, is_first):
        body = "|".join(values)
        return "first\n" + body if is_first else body

    return handler


HANDLERS = ["json", "pretty_json", "kv", "ltsv", "tsv", "user"]

ENTRIES = {
    "parse_routed": lambda docs, opt: engine.parse_routed(explode_lines(docs), "s3", opt),
    "parse_documents": lambda docs, opt: engine.parse_documents(docs, "s3", opt),
}

# (color, unmatch_lines) for the prefixed runs
CASES = [(c, u) for c in (True, False) for u in (True, False)]


def _docs(spark):
    # two inputs, each with unmatched lines before and between matched ones
    return spark.createDataFrame(
        [
            ("a", "\n".join([g.L4_TRUNC, g.L1, g.L2, g.L4_TRUNC, g.L3])),
            ("b", "\n".join([g.L5, g.L4_TRUNC, g.L4_FULL])),
        ],
        "url string, text string",
    )


@pytest.mark.parametrize("handler", HANDLERS)
@pytest.mark.parametrize("entry", sorted(ENTRIES))
def test_out_line_is_apply_prefix_of_the_handler_line(spark, entry, handler):
    """Against the unprefixed run: a matched row's ``out_line`` is
    ``apply_prefix`` of the handler's line, every physical line of it
    prefixed; an emitted unmatched row's is the unmatched prefix + raw."""
    line_handler = _user_handler() if handler == "user" else handler
    docs = _docs(spark)

    def run(case, **kw):
        opt = Option(line_handler=line_handler, line_number=True, **kw)
        return ENTRIES[entry](docs, opt).select(
            F.lit(case).alias("case"), "source", "line_no", "status", "out_line", "raw"
        )

    frames = [run("base", unmatch_lines=True)]
    frames += [
        run(f"{c}/{u}", prefix=True, color=c, unmatch_lines=u) for c, u in CASES
    ]
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    rows: dict[str, dict] = {}
    for r in union.collect():
        rows.setdefault(r.case, {})[(r.source, r.line_no)] = r

    base = rows["base"]
    assert len(base) == 8
    matched = [r.out_line for r in base.values() if r.status == "matched"]
    assert len(matched) == 5
    if handler in ("pretty_json", "tsv", "user"):
        assert any("\n" in line for line in matched)
    for c, u in CASES:
        mpref, upref = prefix_strings(c)
        got = rows[f"{c}/{u}"]
        assert got.keys() == base.keys()
        for key, b in base.items():
            r = got[key]
            assert (r.status, r.raw) == (b.status, b.raw), key
            if b.status == "matched":
                assert r.out_line == apply_prefix(b.out_line, mpref), key
            else:
                assert r.out_line == (upref + b.raw if u else None), key


@pytest.mark.parametrize("entry", sorted(ENTRIES))
def test_prefix_adds_no_projection_above_the_hop(spark, entry):
    """The prefix is applied inside the ``MapInArrow``: no split,
    transform or array_join of ``out_line`` sits above it."""
    df = ENTRIES[entry](_docs(spark), Option(prefix=True, unmatch_lines=True))
    plan = df._jdf.queryExecution().executedPlan().toString()
    above = plan[: plan.index("MapInArrow")]
    for fn in ("split(", "transform(", "array_join("):
        assert fn not in above, plan
