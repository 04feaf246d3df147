"""The full parse -> enrich -> route -> aggregate pipeline (north_rule).

One batch run over a pages table is ONE job with ONE Python stage:

1. **enrich**: lookup tables (lang/geo) are broadcast-joined onto the
   batch's PAGES, before the parse. Lookup keys are page attributes, so
   page grain is the right one: the join sees one row per url instead of
   ~20 lines, and nothing has to re-scan the pages to join them back
   afterwards. Each lookup is materialized once per run (a persisted
   derived frame, released when every batch has finished), not
   re-computed per batch;
2. **parse**: every format, LTSV and regex presets alike, parses whole
   documents in one ``mapInArrow`` stage (:func:`.engine.parse_documents`:
   split, decode, filter, serialize, with the reference's per-document
   ``isFirst`` for the TSV header), carrying the lookup columns through as
   Arrow arrays. No shuffle;
3. **route**: one write fans rows out to ``(status, pattern_id)`` sinks
   under the batch's own ``data/batch_id=<id>`` directory, replacing it.
   With two batches in flight, pages of at most as many splits as cores
   run each batch on half the cores' tasks (``coalesce``, no shuffle), so
   a run writes half as many part files, and none has a ``.crc`` file
   beside it;
4. **aggregate**: the batch's counters and per-partition lineage are read
   from the footers of the part files it committed (no second scan, no
   further job); per-sink counts come from the (cheap, columnar,
   partition-pruned) written output.

Batches overlap: batch k+1 is planned and submitted while batch k runs
(two in flight, never more), each still one job with its own manifest.
A batch's driver-side planning and commit would otherwise leave the
cores idle between jobs.

Resume: page batches are identified by a deterministic ``batch_id``
(bucket of the url hash). A manifest commit marker is written per batch
after its data lands, and dropped before a re-run rewrites that data;
re-running with ``resume`` skips committed batches — the
Iceberg-snapshot bookkeeping of the north_rule, expressed portably. A
failed batch stops further submission; the batch still in flight
finishes and commits, so only completed batches have manifests. Each
manifest records ``n_batches``, and a run refuses another split's output.
"""

from __future__ import annotations

import time
from collections import Counter
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import parse_documents
from .metrics import Result
from .options import Option
from .sinks import (
    committed_lineage, drop_manifest, local_out_dir, read_manifests, write_manifest, write_routed,
)

# Batches in flight at once: batch k+1 is planned and submitted while batch
# k runs, so one batch's driver-side planning and commit overlap the
# other's tasks instead of leaving the cores idle. A constant, not an
# option: four in flight measured no better than two, because the run is
# CPU-bound by then. Pages of at most as many splits as cores run each
# batch on defaultParallelism // _IN_FLIGHT tasks, so the batches in
# flight fill the cores between them and every task writes one part file
# per sink it reaches.
_IN_FLIGHT = 2


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


def _run_in_order(spark: SparkSession, todo: list[str], run_batch) -> list[Result]:
    """``run_batch(batch_id)`` for every id of ``todo``, ``_IN_FLIGHT`` at a
    time, returning the results in ``todo`` order.

    Each batch runs in a thread wrapped by ``inheritable_thread_target``, so
    it carries the caller's job group, description and tags, and
    cancelling the group cancels the batches. A slot is refilled only after
    a batch has finished cleanly: once any batch fails, no further batch is
    submitted, the one still in flight is waited for (a batch that finishes
    writes its manifest, so resume skips it), and the first failure in
    batch order is raised."""
    submitted = []
    with ThreadPoolExecutor(_IN_FLIGHT, thread_name_prefix="alp-batch") as pool:
        running: set = set()
        for batch_id in todo:
            if len(running) == _IN_FLIGHT:
                done, running = wait(running, return_when=FIRST_COMPLETED)
                if any(f.exception() is not None for f in done):
                    break
            # wrapped per batch: each wrap copies the caller's local
            # properties, and a running query sets its SQL execution id in
            # them, so two batches sharing one copy would mix up their
            # executions
            future = pool.submit(inheritable_thread_target(spark)(run_batch), batch_id)
            submitted.append(future)
            running.add(future)
    return [f.result() for f in submitted]


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
) -> PipelineReport:
    """Run the pipeline; ``lookups`` maps name -> (lookup_df, join_key)
    and each lookup is broadcast-joined onto the pages on ``join_key``,
    which must be a column of both sides. The joined columns (key and
    lookup values) are carried onto every routed row of the page.

    Each batch is one Spark job, its write; its manifest records its
    ``counters`` and per-PARTITION ``partition_lineage`` (north_rule),
    read from the footers of the part files it committed.

    Raises ``ValueError`` before any batch runs when ``out_dir`` does not
    resolve to a ``file:`` path (:func:`.sinks.local_out_dir`), or holds a
    manifest of another ``n_batches`` (or of none recorded): its rows sit
    under the other split's batch ids, and neither resume nor overwrite
    would replace them."""
    opt = opt or Option()
    start = time.monotonic()

    out_dir = local_out_dir(spark, out_dir)
    manifests = read_manifests(out_dir)
    for m in manifests:
        if m.get("n_batches") != n_batches:
            raise ValueError(
                f"{out_dir} holds batch {m['batch_id']} of a split into "
                f"n_batches={m.get('n_batches')}; this run asks for n_batches={n_batches}"
            )
    pages = _with_batch_id(pages, url_col, n_batches)
    done = {m["batch_id"] for m in manifests} if resume else set()
    all_ids = [str(i) for i in range(n_batches)]
    todo = [b for b in all_ids if b not in done]
    skipped = [b for b in all_ids if b in done]
    if not todo:
        elapsed = time.monotonic() - start
        return PipelineReport(
            result=Result(elapsed_time=elapsed), batches_run=[],
            batches_skipped=skipped, elapsed=elapsed,
        )

    # A lookup built from driver data (createDataFrame of a list) is a
    # Python RDD: joined as is, every batch would re-run its Python tasks.
    # Persist a derived frame, so the caller's DataFrame keeps its own
    # storage level, and release it when every batch has finished. Its
    # tasks fork from the same worker pool as the parse (get_spark sets the
    # one Python env both task kinds need), so they reuse patched workers.
    cached = [(lk.select("*").persist(), key) for lk, key in (lookups or {}).values()]
    carry: list[str] = []
    for lk, _ in cached:
        carry.extend(c for c in lk.columns if c not in carry)

    # The batches in flight share the cores, and a one-batch run keeps
    # full width. A compact corpus (one row group / few small files)
    # arrives as fewer splits than `width`, and the decode — the CPU-heavy
    # stage — would run at the split count no matter how many executors
    # the cluster has (measured: local[2] == local[8] wall-clock on a
    # 2M-line corpus), so it is repartitioned up. Between `width` and the
    # cores it is coalesced (narrow, no shuffle): narrower batches write
    # fewer part files, and without native Hadoop IO each file costs a
    # forked chmod. An input split wider than the cores (thousands of
    # splits at 100 TB) keeps its split count, so tasks stay small to
    # retry and balance, and pending tasks still ask for executors. The
    # batch filter is narrow, so every batch has the pages' split count:
    # probe it once, not per batch.
    par = spark.sparkContext.defaultParallelism
    width = max(1, par // min(_IN_FLIGHT, len(todo)))
    splits = pages.rdd.getNumPartitions()

    def run_batch(batch_id: str) -> Result:
        batch_pages = pages.filter(F.col("batch_id") == batch_id)
        if splits < width:
            batch_pages = batch_pages.repartition(width)
        elif width < splits <= par:
            batch_pages = batch_pages.coalesce(width)
        # a lookup with duplicate keys duplicates the page's lines, as any
        # left join would
        for lk, key in cached:
            batch_pages = batch_pages.join(F.broadcast(lk), on=key, how="left")
        routed = parse_documents(
            batch_pages, fmt, opt, source_col=url_col, text_col=text_col, keep=carry,
        )
        # crash-safe resume: the batch overwrites its OWN directory, so
        # re-running a batch that died mid-write (partial files, no
        # manifest) replaces — never duplicates — its rows. The overwrite
        # clears the directory when the job starts, so an earlier run's
        # manifest goes first: a write that then fails leaves no marker
        # of rows that are gone, and resume re-runs the batch. The write
        # is the batch's ONLY action.
        drop_manifest(out_dir, batch_id)
        write_routed(routed, out_dir, batch_id=batch_id)
        lineage = committed_lineage(out_dir, batch_id)
        r = Result.from_counters(sum(map(Counter, lineage), Counter()))
        write_manifest(out_dir, batch_id, {
            "n_batches": n_batches, "counters": r.counter_dict(), "partition_lineage": lineage,
        })
        return r

    sums: Counter[str] = Counter()
    try:
        for r in _run_in_order(spark, todo, run_batch):
            sums.update(r.counter_dict())
    finally:
        for lk, _ in cached:
            lk.unpersist()

    total = Result.from_counters(sums, elapsed_time=time.monotonic() - start)
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
