"""The full parse -> enrich -> route -> aggregate pipeline (north_rule).

One batch run over a pages table is ONE job with ONE Python stage:

1. **enrich**: lookup tables (lang/geo) are broadcast-joined onto the
   batch's PAGES, before the parse. Lookup keys are page attributes, so
   page grain is the right one: the join sees one row per url instead of
   ~20 lines, and nothing has to re-scan the pages to join them back
   afterwards. Each lookup is materialized once per run (a persisted
   derived frame, released when the run ends), not re-computed per batch;
2. **parse**: every format, LTSV and regex presets alike, parses whole
   documents in one ``mapInArrow`` stage (:func:`.engine.parse_documents`:
   split, decode, filter, serialize, with the reference's per-document
   ``isFirst`` for the TSV header), carrying the lookup columns through as
   Arrow arrays. No shuffle;
3. **route**: one dynamic-partitioned write fans rows out to
   ``(status, pattern_id)`` sinks;
4. **aggregate**: lineage counters ride the SAME action via
   ``pyspark.sql.Observation`` (no second scan); per-sink counts come from
   the (cheap, columnar, partition-pruned) written output.

Resume: page batches are identified by a deterministic ``batch_id``
(bucket of the url hash). A manifest commit marker is written per batch
after its data lands; re-running skips committed batches — the
Iceberg-snapshot bookkeeping of the north_rule, expressed portably.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import parse_documents
from .metrics import Result, observe_routed, result_from_observation
from .options import Option
from .sinks import processed_batches, write_manifest, write_routed


@dataclass
class PipelineReport:
    result: Result
    batches_run: list[str]
    batches_skipped: list[str]
    elapsed: float


def _with_batch_id(pages: DataFrame, url_col: str, n_batches: int) -> DataFrame:
    return pages.withColumn(
        "batch_id", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_batches)).cast("string")
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    fmt: str = "s3",
    opt: Option | None = None,
    lookups: dict[str, tuple[DataFrame, str]] | None = None,
    url_col: str = "url",
    text_col: str = "text",
    n_batches: int = 1,
    resume: bool = False,
    partition_lineage: bool = False,
) -> PipelineReport:
    """Run the pipeline; ``lookups`` maps name -> (lookup_df, join_key)
    and each lookup is broadcast-joined onto the pages on ``join_key``,
    which must be a column of both sides. The joined columns (key and
    lookup values) are carried onto every routed row of the page.

    ``partition_lineage=True`` additionally records per-PARTITION counters
    in each batch manifest (north_rule: per-partition lineage): the routed
    frame is persisted so the breakdown rides the same parse, at the cost
    of caching one batch of routed rows."""
    opt = opt or Option()
    start = time.monotonic()

    pages = _with_batch_id(pages, url_col, n_batches)
    done = processed_batches(out_dir) if resume else set()
    all_ids = [str(i) for i in range(n_batches)]
    todo = [b for b in all_ids if b not in done]
    skipped = [b for b in all_ids if b in done]

    # A lookup built from driver data (createDataFrame of a list) is a
    # Python RDD: joined as is, every batch would re-run its Python tasks.
    # Persist a derived frame, so the caller's DataFrame keeps its own
    # storage level, and release it when the run ends.
    cached = [
        (lk.select("*").persist(), key) for lk, key in (lookups or {}).values() if todo
    ]
    carry: list[str] = []
    for lk, _ in cached:
        carry.extend(c for c in lk.columns if c not in carry)

    total = Result()
    par = spark.sparkContext.defaultParallelism
    try:
        for batch_id in todo:
            batch_pages = pages.filter(F.col("batch_id") == batch_id)
            # A compact parquet corpus (one row group / few small files)
            # arrives as fewer input splits than cores, and the decode — the
            # CPU-heavy stage — would run at the split count no matter how
            # many executors the cluster has (measured: local[2] == local[8]
            # wall-clock on a 2M-line corpus before this spread). Repartition
            # only when the batch is under-split; at 100 TB the input arrives
            # as thousands of splits and this branch never fires.
            if batch_pages.rdd.getNumPartitions() < par:
                batch_pages = batch_pages.repartition(par)
            # a lookup with duplicate keys duplicates the page's lines, as
            # any left join would
            for lk, key in cached:
                batch_pages = batch_pages.join(F.broadcast(lk), on=key, how="left")
            routed = parse_documents(
                batch_pages, fmt, opt, source_col=url_col, text_col=text_col,
                keep=carry,
            )

            if partition_lineage:
                routed = routed.persist()
            observed, obs = observe_routed(routed)
            # crash-safe resume: the batch writes its OWN partitions with
            # dynamic overwrite, so re-running a batch that died mid-write
            # (partial files, no manifest) replaces — never duplicates — them
            write_routed(
                observed.withColumn("batch_id", F.lit(batch_id)),
                out_dir,
                mode="overwrite",
                extra_partition_cols=("batch_id",),
            )  # the ONLY action for this batch
            r = result_from_observation(obs)
            manifest = {
                "counters": {
                    "total": r.total,
                    "matched": r.matched,
                    "unmatched": r.unmatched,
                    "excluded": r.excluded,
                    "skipped": r.skipped,
                }
            }
            if partition_lineage:
                from .metrics import counters_by_partition

                manifest["partition_lineage"] = [
                    row.asDict() for row in counters_by_partition(routed).collect()
                ]
                routed.unpersist()
            write_manifest(out_dir, batch_id, manifest)
            total.total += r.total
            total.matched += r.matched
            total.unmatched += r.unmatched
            total.excluded += r.excluded
            total.skipped += r.skipped
    finally:
        for lk, _ in cached:
            lk.unpersist()

    total.elapsed_time = time.monotonic() - start
    return PipelineReport(
        result=total, batches_run=todo, batches_skipped=skipped,
        elapsed=total.elapsed_time,
    )


def curate_corpus(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    quality_min: float = 0.3,
    rep_max: float = 0.9,
    gopher: bool = False,
    c4_lines: bool = False,
    shard_dir: str | None = None,
    n_shards: int = 8,
    collect_stats: bool = True,
    dedup_urls: bool = True,
) -> tuple[DataFrame, dict]:
    """Training-data curation pass over a pages corpus — the stage a
    100-TB deployment runs between the routed sinks and the trainer:

    1. quality gate  (text_quality.quality_score >= quality_min)
    2. repetition gate (webtext dup_word_frac <= rep_max)
    3. optional Gopher composite gate (``gopher=True``)
    4. optional C4 line cleaning (``c4_lines=True`` — rewrites text,
       drops docs with no surviving line)
    5. PII scrubbing (webtext.pii_redact -> clean_text)
    6. corpus-wide exact paragraph dedup (first occurrence wins)
    7. whole-doc exact dedup keep-first
    8. optional content-addressed training shards (sinks)

    Returns (curated_df(doc_id, url, text), stats). ``doc_id`` is the
    64-bit xxhash of the url — deterministic, join-stable, no driver
    sequence; ``dedup_urls=True`` (default) keeps one row per url first
    (re-crawls are the norm in a crawl corpus, and duplicate urls would
    share a doc_id and silently merge at every doc_id-keyed stage).
    ``stats['input']`` counts raw input rows and ``after_url_dedup``
    records the url cut separately.

    The per-row gates (1-5) compose as column PROJECTIONS — no doc_id
    join-back, no added shuffle (the only exchanges are the two the
    paragraph dedup and the exact-dedup window inherently need). With
    ``collect_stats=True`` the per-stage counts ride the SAME single
    action via ``df.observe`` (one pass over the lineage — not one
    ``.count()`` per stage re-executing the prefix).
    """
    from pyspark.sql import Observation, Window

    from .operators.text_quality import quality_score_col
    from .operators.webtext import (
        c4_kept_lines_col,
        dup_word_frac_col,
        gopher_passes_col,
        paragraph_dedup,
        pii_redact_col,
    )

    observations: dict[str, Observation] = {}

    def observed(df: DataFrame, name: str) -> DataFrame:
        if not collect_stats:
            return df
        obs = Observation(f"curate_{name}")
        observations[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    docs = pages.select(F.col(url_col).alias("url"), F.col(text_col).alias("text"))
    # 'input' counts RAW rows, before the url dedup — on a re-crawl-heavy
    # corpus the url cut is the funnel's first and often largest stage,
    # so it gets its own stat instead of silently shrinking 'input'.
    docs = observed(docs, "input")
    if dedup_urls:
        docs = observed(docs.dropDuplicates(["url"]), "after_url_dedup")
    docs = docs.select(F.xxhash64(F.col("url")).alias("doc_id"), "url", "text")
    docs = observed(
        docs.filter(quality_score_col(F.col("text")) >= quality_min),
        "after_quality",
    )
    docs = observed(
        docs.filter(dup_word_frac_col(F.col("text")) <= rep_max),
        "after_repetition",
    )
    if gopher:
        docs = observed(docs.filter(gopher_passes_col(F.col("text"))), "after_gopher")
    if c4_lines:
        # materialize the kept-lines array ONCE in its own projection
        # (CollapseProject does not inline an expensive alias referenced
        # twice), then derive the gate and the rewritten text from it
        docs = docs.withColumn("_c4_kept", c4_kept_lines_col(F.col("text")))
        docs = (
            docs.filter(F.size("_c4_kept") >= 1)
            .withColumn("text", F.array_join("_c4_kept", "\n"))
            .drop("_c4_kept")
        )
        docs = observed(docs, "after_c4_lines")
    docs = docs.withColumn("text", pii_redact_col(F.col("text")))

    docs = paragraph_dedup(docs, carry=("url",)).filter(F.length("text") > 0)
    docs = observed(docs, "after_paragraph_dedup")

    keep = (
        F.row_number().over(Window.partitionBy(F.md5("text")).orderBy("doc_id")) == 1
    )
    docs = docs.withColumn("_keep", keep).filter("_keep").drop("_keep")

    stats: dict[str, int] = {}
    if collect_stats:
        # the ONE action: fires every observe point above in a single pass.
        # AQE's empty-relation propagation would collapse the whole subtree
        # when any gate filters a stage to zero rows, silently DISCARDING
        # the upstream CollectMetrics — exclude that one rule for this
        # action (the rest of AQE stays on) and restore the session conf.
        conf = docs.sparkSession.conf
        key = "spark.sql.adaptive.optimizer.excludedRules"
        prev = conf.get(key, None)
        rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
        conf.set(key, f"{prev},{rule}" if prev else rule)
        try:
            final = docs.count()
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)
        for name, obs in observations.items():
            stats[name] = int(obs.get["n"])
        stats["after_exact_dedup"] = final

    if shard_dir is not None:
        from .sinks import write_training_shards

        write_training_shards(docs, shard_dir, key_col="doc_id", n_shards=n_shards)
        stats["shards"] = n_shards
    return docs, stats
