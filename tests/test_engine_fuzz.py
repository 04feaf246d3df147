"""Seeded randomized equivalence sweep: random Option combinations over a
mixed matched/unmatched corpus must produce identical routed rows on the
two routed entries, ``parse_documents`` (the corpus as one document) and
``explode_lines`` -> ``parse_routed``. With one document per source the
per-document ``isFirst`` and the per-source TSV header agree."""

import random

import golden_s3 as g
from access_log_parser_spark import Option
from access_log_parser_spark.engine import parse_documents, parse_routed
from access_log_parser_spark.sources.text import explode_lines

HANDLERS = ["json", "kv", "ltsv", "tsv", "pretty_json"]
LABEL_POOL = ["bucket", "method", "http_status", "bytes_sent", "tls_version"]
FILTER_POOL = [
    "http_status == 200",
    "http_status != 404",
    "bucket =~ rand",
    "bucket !~ nosuchsubstring",
    "bucket =~* RAND",
    "bucket !~* ZZZZ",
    "bucket ==* AWSRANDOMBUCKET43",
    "bucket !=* NOTTHISBUCKET",
    "bytes_sent >= 113",
    "bytes_sent <= 999999",
    "bytes_sent < 250",
    "bytes_sent > 1",
]


def rand_option(rng: random.Random) -> Option:
    return Option(
        labels=tuple(rng.sample(LABEL_POOL, rng.randint(0, 3))),
        filters=tuple(rng.sample(FILTER_POOL, rng.randint(0, 2))),
        skip_lines=tuple(sorted(rng.sample(range(1, 11), rng.randint(0, 3)))),
        prefix=rng.random() < 0.3,
        unmatch_lines=rng.random() < 0.3,
        line_number=rng.random() < 0.5,
        line_handler=rng.choice(HANDLERS),
    )


def rows(routed):
    return sorted(
        (r["source"], r["line_no"], r["status"], r["pattern_id"], r["out_line"], r["raw"])
        for r in routed.collect()
    )


def sweep(spark, corpus, fmt, options):
    docs = spark.createDataFrame([("doc", corpus)], "url string, text string")
    lines = explode_lines(docs, text_col="text", source_col="url")
    for trial, opt in enumerate(options):
        base = rows(parse_routed(lines, fmt, opt))
        assert base, (trial, opt)
        assert rows(parse_documents(docs, fmt, opt)) == base, (trial, opt)


def test_randomized_equivalence(spark):
    rng = random.Random(42)
    corpus = "\n".join(
        [g.L1, g.L4_TRUNC, g.L2, g.L3, "garbage", g.L4_FULL, g.L5,
         g.AU2, g.L1, g.L5]
    )
    # numeric filters abort on '-' values; the pool avoids fields that are
    # '-' in this corpus (bytes_sent is numeric on every matched line)
    sweep(spark, corpus, "s3", [rand_option(rng) for _ in range(8)])


def test_randomized_equivalence_cloudfront(spark):
    """Same sweep over a CloudFront corpus — exercises the tab-separated
    fast-twin decode (patterns.fast_twin) on both entries, including
    adversarial lines where the tab-count guard must fall back."""
    from tests.test_fast_twin import ADVERSARIAL, _cf_line

    rng = random.Random(7)
    corpus = "\n".join(
        [_cf_line(), "junk", _cf_line(inject="ref with space"),
         _cf_line() + "\textra", _cf_line(32), _cf_line(inject='q"uote')]
        + ADVERSARIAL[-3:]
    ).replace("\n\n", "\n \n")  # no empty physical lines (scanner drops none)
    options = [
        Option(
            labels=tuple(rng.sample(["x_edge_location", "sc_status", "cs_uri_stem"],
                                    rng.randint(0, 2))),
            skip_lines=tuple(sorted(rng.sample(range(1, 9), rng.randint(0, 2)))),
            line_number=rng.random() < 0.5,
            line_handler=rng.choice(HANDLERS),
        )
        for _ in range(4)
    ]
    sweep(spark, corpus, "cloudfront", options)
