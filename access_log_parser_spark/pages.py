"""Deterministic Common-Crawl-style pages table synthesis.

``BASELINE.json`` ``input_hint`` fixes the primary input shape:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
No real crawl data exists in this sandbox, so pages are synthesized
deterministically (seedless closed-form functions of a row index — stable
across engines and runs) with each page's ``text`` payload built from the
golden log-line corpus, so per-sink expected counts are computable in
closed form (FIXTURES.md §1).

Built entirely from Catalyst expressions over a range() — no Python, no
RNG: at 10^12 rows this synthesizer itself must scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The golden 5-line S3 corpus (parser_core_test.go:124-128 / :146-150):
# indexes into tests/golden_s3.py lines; L4_TRUNC is unmatched by design.
from .functions.corpus import GOLDEN_S3_LINES, GOLDEN_S3_TRUNC_LINE

LANGS = ["en", "de", "fr", "ja", "es"]

# hosts: one "hot" host takes >=50% of pages (skew scenario, FIXTURES.md §1)
HOT_HOST = "hot.example.com"
COLD_HOSTS = 97  # cold-host modulus


def synth_pages(
    spark: SparkSession,
    n_pages: int,
    lines_per_page: int = 20,
    unmatched_every: int = 5,
    skew: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """Synthesize ``n_pages`` pages, each with ``lines_per_page`` log lines.

    Every ``unmatched_every``-th line of a page is the truncated golden line
    (matches no S3 pattern), so expected per-page counters are closed-form:
    matched = lines - ceil-ish count of truncated slots, unmatched = rest.
    """
    parallelism = parallelism or spark.sparkContext.defaultParallelism
    df = spark.range(0, n_pages, 1, parallelism).withColumnRenamed("id", "page_id")

    if skew:
        host = F.when(
            F.col("page_id") % 2 == 0, F.lit(HOT_HOST)
        ).otherwise(
            F.concat(F.lit("host-"), (F.col("page_id") % COLD_HOSTS).cast("string"), F.lit(".example.org"))
        )
    else:
        host = F.concat(F.lit("host-"), (F.col("page_id") % COLD_HOSTS).cast("string"), F.lit(".example.org"))

    url = F.concat(F.lit("https://"), host, F.lit("/page/"), F.col("page_id").cast("string"))

    # line i of page p: golden[(p + i) % 5], except every unmatched_every-th
    # line is the truncated (unmatchable) variant.
    golden = F.array(*[F.lit(s) for s in GOLDEN_S3_LINES])
    trunc = F.lit(GOLDEN_S3_TRUNC_LINE)
    line_idx = F.sequence(F.lit(0), F.lit(lines_per_page - 1))
    lines = F.transform(
        line_idx,
        lambda i: F.when(
            (i % unmatched_every) == (F.col("page_id") % unmatched_every),
            trunc,
        ).otherwise(F.element_at(golden, ((F.col("page_id") + i) % 5 + 1).cast("int"))),
    )
    text = F.array_join(lines, "\n")

    return df.select(
        url.alias("url"),
        (
            F.to_timestamp(F.lit("2019-02-16 11:23:45"))
            + F.make_interval(secs=(F.col("page_id") % 86400).cast("double"))
        ).alias("warc_ts"),
        F.encode(text, "utf-8").alias("html"),  # opaque binary payload
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(lang) for lang in LANGS]),
            (F.col("page_id") % len(LANGS) + 1).cast("int"),
        ).alias("lang"),
        F.col("page_id"),
    )
