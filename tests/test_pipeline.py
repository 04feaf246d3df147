"""Pipeline-level tests: synthesized pages -> parse -> route -> aggregate,
closed-form expected per-sink counts (FIXTURES.md §6), enrichment joins,
and idempotent resume."""

import os

import pytest
from pyspark.sql import functions as F

from access_log_parser_spark import Option, counters_by_sink, parse_routed
from access_log_parser_spark.enrich import broadcast_enrich, two_phase_count
from access_log_parser_spark.pages import HOT_HOST, pages_to_lines, synth_pages
from access_log_parser_spark.pipeline import run_pipeline
from access_log_parser_spark.plans import default_rules, route
from access_log_parser_spark.sinks import errors_table, read_sink

N_PAGES = 40
LINES = 20
UNM_EVERY = 5


def expected_counts():
    # each page has LINES lines; line i is the truncated (unmatched) variant
    # iff i % UNM_EVERY == page_id % UNM_EVERY -> LINES/UNM_EVERY per page
    unmatched = N_PAGES * (LINES // UNM_EVERY)
    total = N_PAGES * LINES
    return total, total - unmatched, unmatched


def test_synth_pages_shape(spark):
    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang", "page_id"]
    assert pages.count() == N_PAGES
    hot = pages.filter(F.col("url").contains(HOT_HOST)).count()
    assert hot == N_PAGES // 2  # skew: half the corpus on one host


def test_routed_counts_closed_form(spark):
    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    routed = parse_routed(pages_to_lines(pages), "s3")
    total, matched, unmatched = expected_counts()
    counts = {
        (r["status"], r["pattern_id"]): r["rows"]
        for r in counters_by_sink(routed).collect()
    }
    assert counts[("unmatched", -1)] == unmatched
    # golden lines split between 28-field pattern 0 and shorter fallbacks
    assert sum(v for (s, _), v in counts.items() if s == "matched") == matched
    assert sum(counts.values()) == total


def test_pipeline_write_observe_resume(spark, tmp_path):
    out = str(tmp_path / "sink")
    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    total, matched, unmatched = expected_counts()

    rep = run_pipeline(spark, pages, out, fmt="s3", n_batches=4)
    assert rep.batches_run == ["0", "1", "2", "3"]
    assert rep.result.counters() == (total, matched, unmatched, 0, 0)

    # per-sink partition counts from the written fan-out
    assert read_sink(spark, out, status="matched").count() == matched
    assert read_sink(spark, out, status="unmatched").count() == unmatched
    err = errors_table(spark, out)
    assert err.columns == ["entry", "line_number", "line"]
    assert err.count() == unmatched

    # resume: everything already committed -> no work, no duplicates
    rep2 = run_pipeline(spark, pages, out, fmt="s3", n_batches=4, resume=True)
    assert rep2.batches_run == []
    assert rep2.batches_skipped == ["0", "1", "2", "3"]
    assert read_sink(spark, out).count() == total


def test_pipeline_refuses_another_batch_split(spark, tmp_path):
    """A batch id names a bucket of one split only, so a run into a
    directory committed under another ``n_batches`` raises before any
    batch runs, with or without resume; the same split still resumes."""
    from access_log_parser_spark.sinks import read_manifests, write_manifest

    out = str(tmp_path / "split")
    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    total, _, _ = expected_counts()
    run_pipeline(spark, pages, out, fmt="s3", n_batches=2)
    assert {m["n_batches"] for m in read_manifests(out)} == {2}

    for resume in (True, False):
        with pytest.raises(ValueError, match="n_batches=2.*n_batches=4"):
            run_pipeline(spark, pages, out, fmt="s3", n_batches=4, resume=resume)
        assert read_sink(spark, out).count() == total
        assert sorted(m["batch_id"] for m in read_manifests(out)) == ["0", "1"]

    rep = run_pipeline(spark, pages, out, fmt="s3", n_batches=2, resume=True)
    assert rep.batches_run == [] and rep.batches_skipped == ["0", "1"]
    assert read_sink(spark, out).count() == total

    # a manifest that records no split counts as another split
    unrecorded = str(tmp_path / "unrecorded")
    write_manifest(unrecorded, "0", {"counters": {}})
    with pytest.raises(ValueError, match="n_batches=None"):
        run_pipeline(spark, pages, unrecorded, fmt="s3", n_batches=1)


def test_pipeline_enrich_broadcast(spark, tmp_path):
    out = str(tmp_path / "sink2")
    pages = synth_pages(spark, 10, 5, 5)
    lang_map = spark.createDataFrame(
        [("en", "English"), ("de", "German"), ("fr", "French"),
         ("ja", "Japanese"), ("es", "Spanish")],
        "lang string, lang_name string",
    )
    rep = run_pipeline(
        spark, pages, out, fmt="s3",
        lookups={"lang": (lang_map, "lang")},
    )
    df = read_sink(spark, out, status="matched")
    assert "lang_name" in df.columns
    assert df.filter(F.col("lang_name").isNull()).count() == 0
    assert rep.result.check_invariant()


def test_broadcast_join_in_plan(spark):
    pages = synth_pages(spark, 10, 5, 5)
    lookup = spark.createDataFrame([("en", "English")], "lang string, lang_name string")
    plan = broadcast_enrich(pages, lookup, on="lang")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_route_rules(spark):
    pages = synth_pages(spark, 10, 10, 5)
    routed = parse_routed(pages_to_lines(pages), "s3")
    sinks = route(routed, default_rules())
    assert set(sinks) == {"sink_matched", "sink_unmatched", "sink_excluded", "sink_skipped"}
    assert sinks["sink_excluded"].count() == 0
    assert sinks["sink_matched"].count() + sinks["sink_unmatched"].count() == 100


def test_text_extraction_byte_identical_per_url(spark):
    # input_hint invariant: byte-identical extracted text per url —
    # reassembling exploded lines must reproduce the original text payload
    pages = synth_pages(spark, 15, 7, 5)
    lines = pages_to_lines(pages)
    # collect_list order is not shuffle-stable: sort structs by line_no
    rebuilt = lines.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_no", "raw"))),
                lambda s: s["raw"],
            ),
            "\n",
        ).alias("text2")
    )
    joined = pages.join(rebuilt, pages.url == rebuilt.source)
    assert joined.filter(F.col("text") != F.col("text2")).count() == 0


def test_two_phase_count_matches_plain(spark):
    pages = synth_pages(spark, 30, 4, 5)
    lines = pages_to_lines(pages)
    plain = {r["source"]: r["count"] for r in lines.groupBy("source").count().collect()}
    salted = {r["source"]: r["count"] for r in two_phase_count(lines, "source").collect()}
    assert plain == salted


@pytest.mark.parametrize(
    "n_batches, reshape, width",
    [
        (1, lambda p: p, 4),  # one batch at full width
        (2, lambda p: p, 2),  # two batches, coalesced to half width
        (2, lambda p: p.repartition(8), 8),  # splits wider than the cores kept
        (1, lambda p: p.coalesce(2), 4),  # two splits repartitioned up
    ],
    ids=["full_width", "coalesced", "wider_than_cores", "repartitioned_up"],
)
def test_partition_lineage_sums_to_global(spark, tmp_path, n_batches, reshape, width):
    """Every batch manifest records per-partition lineage, read from the
    footers of the part files the batch committed: each entry holds the
    five counters and meets the invariant, the entries sum to the batch's
    counters, and at full width they equal a ``spark_partition_id()``
    breakdown of the same parse (Spark names a task's part files by its
    partition id)."""
    from access_log_parser_spark import parse_documents
    from access_log_parser_spark.sinks import read_manifests

    pages = reshape(synth_pages(spark, N_PAGES, 10, UNM_EVERY))
    # every status occurs: L3 is a 404, line 1 of each page is skipped
    opt = Option(filters=["http_status == 200"], skip_lines=[1])
    out = str(tmp_path / "lineage_out")
    report = run_pipeline(spark, pages, out, fmt="s3", opt=opt, n_batches=n_batches)
    assert report.result.total == N_PAGES * 10
    assert all(report.result.counters())

    manifests = read_manifests(out)
    assert sorted(m["batch_id"] for m in manifests) == report.batches_run
    keys = ("total", "matched", "unmatched", "excluded", "skipped")
    for m in manifests:
        lineage = m["partition_lineage"]
        assert lineage
        for p in lineage:
            assert list(p) == ["partition_id", *keys]
            assert 0 <= p["partition_id"] < width
            assert p["total"] == p["matched"] + p["unmatched"] + p["excluded"] + p["skipped"]
        assert {k: sum(p[k] for p in lineage) for k in keys} == m["counters"]

    if n_batches == 1 and width == pages.rdd.getNumPartitions():
        status = F.col("status")
        ref = (
            parse_documents(pages, "s3", opt, source_col="url", text_col="text")
            .withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("total"),
                *(F.sum(F.when(status == k, 1).otherwise(0)).alias(k) for k in keys[1:]),
            )
            .orderBy("partition_id")
        )
        assert manifests[0]["partition_lineage"] == [r.asDict() for r in ref.collect()]


def test_pipeline_batch_is_one_job(spark, tmp_path):
    """A two-batch run is two Spark jobs, the batches' writes: the
    manifests' counters and lineage cost no further job, and no routed
    rows are persisted. The footers are found under an ``out_dir`` whose
    name is a glob pattern."""
    from access_log_parser_spark.sinks import read_manifests

    sc = spark.sparkContext
    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    assert pages.rdd.getNumPartitions() == 4
    persisted = sc._jsc.getPersistentRDDs().size()
    out = str(tmp_path / "jobs_out[1]")
    sc.setJobGroup("alp-one-job-per-batch", "job count")
    try:
        rep = run_pipeline(spark, pages, out, fmt="s3", n_batches=2)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("alp-one-job-per-batch")) == 2
    assert sc._jsc.getPersistentRDDs().size() == persisted
    manifests = read_manifests(out)
    assert [m["batch_id"] for m in manifests] == rep.batches_run == ["0", "1"]
    assert all(m["partition_lineage"] for m in manifests)
    assert rep.result.counters() == (*expected_counts(), 0, 0)


def test_pipeline_out_dir_resolved_as_spark_writes_it(spark, tmp_path, monkeypatch):
    """``out_dir`` is resolved the way Spark's writer resolves it: a
    ``file://`` URI gets the counters, lineage and manifests of the plain
    path, with nothing written under a ``file:`` directory beside the
    caller, and a path on another filesystem, where the driver could not
    read the footers, is refused before any batch runs."""
    from access_log_parser_spark.sinks import read_manifests

    monkeypatch.chdir(tmp_path)
    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    out = tmp_path / "uri_out"
    rep = run_pipeline(spark, pages, out.as_uri(), fmt="s3", n_batches=2)
    assert rep.result.counters() == (*expected_counts(), 0, 0)
    manifests = read_manifests(str(out))
    assert [m["batch_id"] for m in manifests] == ["0", "1"]
    assert sum(m["counters"]["total"] for m in manifests) == expected_counts()[0]
    assert all(m["partition_lineage"] for m in manifests)
    assert os.listdir(tmp_path) == ["uri_out"]

    sc = spark.sparkContext
    sc.setJobGroup("alp-refused-out-dir", "refused out_dir")
    try:
        with pytest.raises(ValueError, match="must be a file: path"):
            run_pipeline(spark, pages, "hdfs://localhost:1/alp_out", fmt="s3")
    finally:
        sc._jsc.clearJobGroup()
    assert not sc.statusTracker().getJobIdsForGroup("alp-refused-out-dir")


def test_compact_sink_atomic_rewrite(spark, tmp_path):
    """Small-file compaction: each batch's files collapse to one, rows
    and values unchanged, old directory gone."""
    from access_log_parser_spark.pages import pages_to_lines, synth_pages
    from access_log_parser_spark.sinks import compact_sink, read_sink, write_routed

    out = str(tmp_path / "compact_out")
    pages = synth_pages(spark, 20, 10, 5)
    routed = parse_routed(pages_to_lines(pages), "s3")
    for b in range(3):  # three batches -> many small files
        write_routed(routed, out, batch_id=str(b))
    before_rows = read_sink(spark, out, status="matched", pattern_id=1).count()
    n_rows, n_before, n_after = compact_sink(spark, out, "matched", 1)
    assert n_rows == before_rows
    assert n_after == 3 and n_before > 3
    after = read_sink(spark, out, status="matched", pattern_id=1)
    assert after.count() == before_rows


def test_curate_corpus_stage_counts_monotone(spark, tmp_path):
    """The curation pass must be monotone non-increasing across stages,
    dedup must collapse the injected duplicate page, and shards must hold
    exactly the surviving docs."""
    from pyspark.sql import functions as F

    from access_log_parser_spark.pages import synth_pages
    from access_log_parser_spark.pipeline import curate_corpus

    pages = synth_pages(spark, 30, 10, 5)
    # inject an exact duplicate of page 0's text under a different url
    dup = pages.filter(F.col("page_id") == 0).withColumn(
        "url", F.lit("https://dup.example.com/copy")
    )
    corpus = pages.unionByName(dup)
    shard_dir = str(tmp_path / "shards")
    curated, stats = curate_corpus(
        corpus, quality_min=0.0, rep_max=1.0, shard_dir=shard_dir
    )
    assert stats["input"] == 31
    assert (
        stats["input"]
        >= stats["after_quality"]
        >= stats["after_repetition"]
        >= stats["after_paragraph_dedup"]
        >= stats["after_exact_dedup"]
    )
    # every page shares paragraphs (golden lines repeat): the corpus-wide
    # paragraph dedup must strictly shrink it, and the whole-doc copy of
    # page 0 dies with all-duplicate paragraphs
    assert stats["after_paragraph_dedup"] < stats["input"]
    rows = curated.collect()
    assert len(rows) == stats["after_exact_dedup"]
    assert len({r["text"] for r in rows}) == len(rows)  # no exact dups
    sharded = spark.read.parquet(shard_dir)
    assert sharded.count() == len(rows)


def test_iceberg_writer_seam_dispatch(spark, tmp_path, monkeypatch):
    """With the Iceberg runtime present (probe monkeypatched True) the
    fan-out goes through the DataFrameWriterV2 branch; without it the
    parquet layout is written regardless of iceberg_table. The real
    probe must be False in this jar-less sandbox."""
    from access_log_parser_spark import sinks
    from access_log_parser_spark.pages import pages_to_lines, synth_pages

    routed = parse_routed(pages_to_lines(synth_pages(spark, 5, 4, 2)), "s3")
    assert sinks.iceberg_available(spark) is False

    calls = {}
    monkeypatch.setattr(sinks, "iceberg_available", lambda s: True)
    monkeypatch.setattr(
        sinks,
        "_write_routed_iceberg",
        lambda df, table, batch_id: calls.update(table=table, batch_id=batch_id),
    )
    out = tmp_path / "ice"
    sinks.write_routed(routed, str(out), mode="overwrite", iceberg_table="cat.db.logs")
    assert calls == {"table": "cat.db.logs", "batch_id": None}
    sinks.write_routed(
        routed, str(out), mode="overwrite", batch_id="3", iceberg_table="cat.db.logs"
    )
    assert calls["batch_id"] == "3"
    assert not out.exists()  # nothing written to the parquet layout

    monkeypatch.setattr(sinks, "iceberg_available", lambda s: False)
    out2 = tmp_path / "pq"
    sinks.write_routed(routed, str(out2), mode="overwrite", iceberg_table="cat.db.logs")
    assert (out2 / "data").exists()


def test_write_routed_only_replaces(spark, tmp_path):
    """Every routed write replaces the directory it owns: writing the same
    frame twice leaves one copy, counted from the footers, and an append,
    which a re-run would duplicate, is refused before anything is written."""
    from access_log_parser_spark import sinks

    routed = parse_routed(pages_to_lines(synth_pages(spark, 5, 4, 2)), "s3")
    out = str(tmp_path / "twice")
    for _ in range(2):
        sinks.write_routed(routed, out)
    lineage = sinks.committed_lineage(out)
    assert sum(p["total"] for p in lineage) == 5 * 4
    assert sum(p["unmatched"] for p in lineage) == 5 * 2
    assert read_sink(spark, out).count() == 5 * 4

    with pytest.raises(ValueError, match="append"):
        sinks.write_routed(routed, str(tmp_path / "append"), mode="append")
    assert not (tmp_path / "append").exists()


def test_compact_sink_handles_pipeline_batch_layout(spark, tmp_path):
    """run_pipeline writes data/batch_id=…/status=…/pattern_id=… — the
    compactor must find and rewrite those partitions too (regression:
    it previously raised FileNotFoundError on its own documented use
    case)."""
    from access_log_parser_spark.pages import synth_pages
    from access_log_parser_spark.pipeline import run_pipeline
    from access_log_parser_spark.sinks import compact_sink, read_sink

    out = str(tmp_path / "pipe_compact")
    pages = synth_pages(spark, 40, 10, 5)
    run_pipeline(spark, pages, out, fmt="s3", n_batches=4)
    before_rows = read_sink(spark, out, status="matched", pattern_id=1).count()
    assert before_rows > 0
    n_rows, n_before, n_after = compact_sink(spark, out, "matched", 1)
    assert n_rows == before_rows
    assert n_before >= n_after  # one file per batch partition after
    assert read_sink(spark, out, status="matched", pattern_id=1).count() == before_rows


def test_resume_after_mid_batch_crash_no_duplicates(spark, tmp_path):
    """A batch that crashed mid-write leaves partial sink files and NO
    manifest. Resume must re-run it and REPLACE its whole ``batch_id``
    directory (a static overwrite of that one directory), not append
    duplicates. The crashed batch may also have written a partition its
    re-run does not write again (here a stray part file under
    ``status=excluded``, which an S3 run without filters never produces):
    those rows go too, where a dynamic overwrite would replace only the
    partitions the re-run writes and keep them."""
    import shutil

    from access_log_parser_spark.sinks import manifest_dir

    pages = synth_pages(spark, 40, 10, 5)
    out = str(tmp_path / "crash_out")
    run_pipeline(spark, pages, out, fmt="s3", n_batches=4)
    full = read_sink(spark, out).count()
    assert full == 400

    # simulate a crash of batch 2: its data exists (partially or fully),
    # with a stray partition, but its manifest commit marker is gone
    batch = os.path.join(out, "data", "batch_id=2")
    part = next(
        os.path.join(d, f) for d, _, files in sorted(os.walk(batch))
        for f in sorted(files) if f.endswith(".parquet")
    )
    stray = os.path.join(batch, "status=excluded", "pattern_id=0")
    os.makedirs(stray)
    shutil.copy(part, os.path.join(stray, "part-stray.parquet"))
    assert read_sink(spark, out).count() > full
    os.remove(os.path.join(manifest_dir(out), "2.json"))

    report = run_pipeline(spark, pages, out, fmt="s3", n_batches=4, resume=True)
    assert report.batches_run == ["2"]
    assert sorted(report.batches_skipped) == ["0", "1", "3"]
    assert not os.path.exists(os.path.join(batch, "status=excluded"))
    assert read_sink(spark, out).count() == full  # no duplicates, no stray rows


def _written(out):
    """Part files per (batch directory, sink) under ``out/data``, and
    every other name written there (directories included) that is not a
    partition directory."""
    from collections import Counter

    data = os.path.join(out, "data")
    parts: Counter = Counter()
    other = []
    for d, dirs, files in os.walk(data):
        other += [n for n in dirs if "=" not in n]
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                parts[os.path.relpath(d, data)] += 1
            else:
                other.append(f)
    return parts, other


def test_pipeline_writes_only_the_files_the_table_needs(spark, tmp_path):
    """With two batches in flight each batch runs at half width (two tasks
    on local[4]), so it writes at most two part files per sink; a one-batch
    run keeps all four, and pages split wider than the cores keep their
    split count. No ``.crc``, ``.spark-staging-*`` or ``_temporary`` is
    left behind, and a plain ``write_routed`` writes no ``.crc`` either."""
    from access_log_parser_spark.sinks import write_routed

    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    two = str(tmp_path / "two")
    run_pipeline(spark, pages, two, fmt="s3", n_batches=2)
    parts, other = _written(two)
    assert {p.split(os.sep)[0] for p in parts} == {"batch_id=0", "batch_id=1"}
    assert max(parts.values()) <= 2 and other == []

    one = str(tmp_path / "one")
    run_pipeline(spark, pages, one, fmt="s3", n_batches=1)
    parts, other = _written(one)
    assert len(parts) > 1 and set(parts.values()) == {4} and other == []

    wide = str(tmp_path / "wide")
    run_pipeline(spark, pages.repartition(8), wide, fmt="s3", n_batches=2)
    parts, other = _written(wide)
    assert 2 < max(parts.values()) <= 8 and other == []

    plain = str(tmp_path / "plain")
    write_routed(parse_routed(pages_to_lines(pages), "s3"), plain)
    parts, other = _written(plain)
    assert parts and not any(p.startswith("batch_id=") for p in parts)
    assert other == []


def test_pipeline_empty_batch(spark, tmp_path):
    """More batches than pages: an empty batch counts zeros, commits its
    manifest and writes no part file (its ``batch_id`` directory is left
    empty), and the sinks hold the same rows as a one-batch run."""
    from access_log_parser_spark.sinks import read_manifests

    pages = synth_pages(spark, 3, 10, 5)
    one = str(tmp_path / "one")
    ref = run_pipeline(spark, pages, one, fmt="s3", n_batches=1)
    many = str(tmp_path / "many")
    rep = run_pipeline(spark, pages, many, fmt="s3", n_batches=8)
    assert rep.result.counters() == ref.result.counters()

    manifests = {m["batch_id"]: m["counters"] for m in read_manifests(many)}
    assert sorted(manifests) == rep.batches_run == [str(i) for i in range(8)]
    empty = [b for b, c in manifests.items() if c["total"] == 0]
    assert len(empty) >= 5
    assert all(set(manifests[b].values()) == {0} for b in empty)
    parts, other = _written(many)
    assert not any(p.split(os.sep)[0] == f"batch_id={b}" for p in parts for b in empty)
    assert other == []
    for b in empty:
        assert os.listdir(os.path.join(many, "data", f"batch_id={b}")) == []
    assert _sink_rows(spark, many) == _sink_rows(spark, one)


def test_curate_corpus_gopher_and_c4_gates(spark):
    """The optional Gopher / C4 gates slot into the pass: prose-y docs
    survive both, a bullet-spam doc dies on Gopher, and C4 rewrites
    texts to terminal-punctuated lines only."""
    from access_log_parser_spark.pipeline import curate_corpus

    prose = ("The quick brown fox jumps over the lazy dog again and again. " * 6).strip()
    pages = spark.createDataFrame(
        [
            ("https://a/1", prose),
            ("https://a/2", "\n".join(["- bullet spam"] * 60)),
            ("https://a/3", prose + "\nnot a sentence fragment"),
        ],
        "url string, text string",
    )
    curated, stats = curate_corpus(
        pages, quality_min=0.0, rep_max=1.0, gopher=True, c4_lines=True
    )
    assert stats["after_gopher"] < stats["after_repetition"]
    rows = {r["url"]: r["text"] for r in curated.collect()}
    assert "https://a/2" not in rows             # bullet spam: gopher kill
    assert rows                                  # something survived
    for text in rows.values():
        for ln in text.split("\n"):
            assert ln.rstrip().endswith((".", "!", "?", '"'))


def _tsv(line: str, header: bool) -> str:
    """The tsv handler's output for a golden LTSV line, from its pinned
    JSON: values with "-" for empty, the label row first when ``header``."""
    import json

    import golden_ltsv as g

    rec = json.loads(g.ALL_MATCH_DATA[[g.T1, g.T2, g.T3, g.T4, g.T5].index(line)])
    body = "\t".join(v or "-" for v in rec.values())
    return "\t".join(rec) + "\n" + body if header else body


def test_ltsv_pipeline_golden_tsv_headers_and_lookup(spark, tmp_path):
    """LTSV through run_pipeline with the tsv handler, a filter and a lang
    lookup: every (source, line_no) pinned. The header row sits on each
    PAGE's first matched line only (parser_core.go:182,245), so lines
    excluded or unmatched before it get none, and two pages that share a
    url each get their own."""
    import golden_ltsv as g

    from access_log_parser_spark.sinks import read_manifests

    pages = spark.createDataFrame(
        [
            ("https://a/1", "en", "\n".join([g.T2, g.T4_BAD, g.T1, g.T3, g.T5])),
            ("https://b/1", "de", "\n".join([g.AU1, g.T5, g.T4]) + "\n"),
            ("https://c/dup", "fr", "\n".join([g.T4, g.T3])),
            ("https://c/dup", "xx", "\r\n".join([g.T1, g.T2, g.T5])),
            ("https://d/1", "ja", "\n".join([g.T2, g.T4])),
        ],
        "url string, lang string, text string",
    )
    lang = spark.createDataFrame(
        [("en", "English"), ("de", "German"), ("fr", "French"), ("ja", "Japanese")],
        "lang string, lang_name string",
    )
    opt = Option(filters=["status == 200"], line_handler="tsv")
    out = str(tmp_path / "ltsv_out")
    rep = run_pipeline(
        spark, pages, out, fmt="ltsv", opt=opt,
        lookups={"lang": (lang, "lang")}, n_batches=2,
    )
    assert rep.batches_run == ["0", "1"]
    assert rep.result.counters() == (15, 7, 2, 6, 0)

    want = sorted([
        ("https://a/1", 1, "excluded", None, "English"),
        ("https://a/1", 2, "unmatched", None, "English"),
        ("https://a/1", 3, "matched", _tsv(g.T1, True), "English"),
        ("https://a/1", 4, "matched", _tsv(g.T3, False), "English"),
        ("https://a/1", 5, "matched", _tsv(g.T5, False), "English"),
        ("https://b/1", 1, "unmatched", None, "German"),
        ("https://b/1", 2, "matched", _tsv(g.T5, True), "German"),
        ("https://b/1", 3, "excluded", None, "German"),
        ("https://c/dup", 1, "excluded", None, "French"),
        ("https://c/dup", 2, "matched", _tsv(g.T3, True), "French"),
        ("https://c/dup", 1, "matched", _tsv(g.T1, True), None),
        ("https://c/dup", 2, "excluded", None, None),
        ("https://c/dup", 3, "matched", _tsv(g.T5, False), None),
        ("https://d/1", 1, "excluded", None, "Japanese"),
        ("https://d/1", 2, "excluded", None, "Japanese"),
    ], key=repr)

    def written():
        return sorted(
            (
                (r.source, r.line_no, r.status, r.out_line, r.lang_name)
                for r in read_sink(spark, out).collect()
            ),
            key=repr,
        )

    assert written() == want
    assert sum(m["counters"]["total"] for m in read_manifests(out)) == 15

    again = run_pipeline(
        spark, pages, out, fmt="ltsv", opt=opt,
        lookups={"lang": (lang, "lang")}, n_batches=2, resume=True,
    )
    assert again.batches_run == [] and again.batches_skipped == ["0", "1"]
    assert written() == want


def _s3_tsv(line: str, header: bool) -> str:
    """The tsv handler's output for a golden S3 line."""
    from access_log_parser_spark import patterns as pat
    from access_log_parser_spark.decoders import compile_plan
    from access_log_parser_spark.handlers import tsv_line_handler

    plan = compile_plan(pat.PRESETS["s3"])
    pids, vals = plan.decode([line])
    return tsv_line_handler(plan.names[pids[0]], vals[0], header)


def test_s3_pipeline_tsv_header_per_page(spark, tmp_path):
    """S3 through run_pipeline with the tsv handler: the header row sits on
    each PAGE's first matched line, so two pages that share a url each get
    their own (parser_core.go:182,245)."""
    import golden_s3 as g

    pages = spark.createDataFrame(
        [
            ("https://s/dup", "\n".join([g.L4_TRUNC, g.L1, g.L2])),
            ("https://s/dup", "\n".join([g.L5, g.L3])),
            ("https://s/1", g.L2),
        ],
        "url string, text string",
    )
    out = str(tmp_path / "s3_tsv")
    rep = run_pipeline(spark, pages, out, fmt="s3", opt=Option(line_handler="tsv"))
    assert rep.result.counters() == (6, 5, 1, 0, 0)
    got = sorted(
        (r.source, r.line_no, r.status, r.out_line)
        for r in read_sink(spark, out).collect()
    )
    assert got == sorted([
        ("https://s/1", 1, "matched", _s3_tsv(g.L2, True)),
        ("https://s/dup", 1, "unmatched", None),
        ("https://s/dup", 2, "matched", _s3_tsv(g.L1, True)),
        ("https://s/dup", 3, "matched", _s3_tsv(g.L2, False)),
        ("https://s/dup", 1, "matched", _s3_tsv(g.L5, True)),
        ("https://s/dup", 2, "matched", _s3_tsv(g.L3, False)),
    ], key=repr)


@pytest.mark.parametrize("fmt", ["ltsv", "s3"])
def test_pipeline_batch_plan_one_python_stage(spark, tmp_path, monkeypatch, fmt):
    """One batch (tsv handler, a filter, one lookup) is one Python
    operator over one pages scan, for LTSV and for a regex preset alike: no
    window, no shuffle, no second scan of the pages to join page attributes
    back. The lookup, a Python RDD, is computed by its own Python tasks once
    per run, not per batch."""
    import golden_s3 as g

    from access_log_parser_spark import pipeline

    if fmt == "ltsv":
        text, filt = "status:200\tsize:1\nstatus:404\tsize:2\nbad", "status == 200"
    else:
        # L3 is a 404; L4_TRUNC matches no pattern
        text, filt = "\n".join([g.L1, g.L3, g.L4_TRUNC]), "http_status == 200"
    pages = spark.range(0, 40, 1, 4).select(
        F.concat(F.lit("https://p/"), F.col("id").cast("string")).alias("url"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.lit(text).alias("text"),
    )
    lang = spark.createDataFrame(
        [("en", "English"), ("de", "German")], "lang string, lang_name string"
    )
    plans: list[str] = []
    lookup_cached: list[bool] = []
    write_routed = pipeline.write_routed

    def capture(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        try:
            return write_routed(df, *args, **kwargs)
        finally:
            # the run's persisted lookup outlives every batch's write
            lookup_cached.append(counted.select("*").storageLevel.useMemory)

    monkeypatch.setattr(pipeline, "write_routed", capture)
    lookup_scans = spark.sparkContext.accumulator(0)

    def count_scans(rows):
        lookup_scans.add(1)
        return rows

    counted = spark.createDataFrame(
        lang.rdd.mapPartitions(count_scans), lang.schema
    )
    rep = run_pipeline(
        spark, pages, str(tmp_path / "plan_out"), fmt=fmt,
        opt=Option(filters=[filt], line_handler="tsv"),
        lookups={"lang": (counted, "lang")}, n_batches=3,
    )
    assert rep.result.counters() == (120, 40, 40, 40, 0)
    assert len(plans) == 3
    for plan in plans:
        assert "Window" not in plan, plan
        assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan
        assert plan.count("Range (") == 1, plan  # the pages, scanned once
        assert plan.count("MapInArrow") == 1, plan
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    # one lookup materialization (its partitions' tasks) for three batches
    assert lookup_scans.value == counted.rdd.getNumPartitions()
    assert counted.storageLevel == lang.storageLevel  # caller's frame untouched
    assert lookup_cached == [True] * 3
    assert not counted.select("*").storageLevel.useMemory  # released on return


def _sink_rows(spark, out):
    """Every written row but its batch_id, and per-sink row counts."""
    df = read_sink(spark, out).drop("batch_id")
    rows = sorted(tuple(r) for r in df.collect())
    sinks = {
        (r.status, r.pattern_id): r["count"]
        for r in df.groupBy("status", "pattern_id").count().collect()
    }
    return rows, sinks


def _gated_writes(monkeypatch, fail_first: bool = False):
    """Wrap ``pipeline.write_routed`` and record the peak number of calls
    in flight and the job groups they ran in. The first two calls must
    meet at a barrier (so they are in flight together, or the run fails);
    with ``fail_first`` the first call raises instead, and the second
    writes without waiting."""
    import threading

    from access_log_parser_spark import pipeline

    write_routed = pipeline.write_routed
    lock = threading.Lock()
    barrier = threading.Barrier(2, timeout=120)
    state = {"calls": 0, "active": 0, "peak": 0, "groups": set()}

    def gated(df, *args, **kwargs):
        with lock:
            state["groups"].add(df.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id"))
            state["calls"] += 1
            call = state["calls"]
            state["active"] += 1
            state["peak"] = max(state["peak"], state["active"])
        try:
            if fail_first and call == 1:
                raise RuntimeError("batch write failed")
            if call <= 2 and not fail_first:
                barrier.wait()
            return write_routed(df, *args, **kwargs)
        finally:
            with lock:
                state["active"] -= 1

    monkeypatch.setattr(pipeline, "write_routed", gated)
    return state


def test_overlapped_batches_match_one_batch(spark, tmp_path, monkeypatch):
    """Two batches run at once, never more, and the run writes the same
    counters and per-sink rows as one batch; each batch's manifest holds
    its OWN counters, read from the footers of its own part files, which
    match its rows read back from its own partitions."""
    import os

    from access_log_parser_spark.sinks import read_manifests
    from perfbench import sqlmetrics

    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    one = str(tmp_path / "one")
    ref = run_pipeline(spark, pages, one, fmt="s3", n_batches=1)

    state = _gated_writes(monkeypatch)
    many = str(tmp_path / "many")
    store = sqlmetrics.StatusStore(spark)
    before = store.last_execution_id()
    spark.sparkContext.setJobGroup("alp-run", "one pipeline run")
    try:
        rep = run_pipeline(spark, pages, many, fmt="s3", n_batches=6)
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    # the caller's job group (what cancelJobGroup acts on) reaches every batch
    assert state == {"calls": 6, "active": 0, "peak": 2, "groups": {"alp-run"}}
    # every batch is its own SQL execution, whose metrics count its own
    # files: batches in flight at once must not share the thread-local
    # properties that carry the execution id
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    written_files = sqlmetrics.total(store.metrics_since(before), "number of written files")
    on_disk = sum(
        f.endswith(".parquet") for _, _, files in os.walk(os.path.join(many, "data"))
        for f in files
    )
    assert written_files == on_disk > 0
    assert rep.batches_run == ["0", "1", "2", "3", "4", "5"]
    assert rep.result.counters() == ref.result.counters()
    assert _sink_rows(spark, many) == _sink_rows(spark, one)

    written: dict[str, dict[str, int]] = {}
    for r in read_sink(spark, many).groupBy("batch_id", "status").count().collect():
        # partition discovery reads the batch_id directories back as ints
        per = written.setdefault(str(r.batch_id), dict.fromkeys(("matched", "unmatched"), 0))
        per[r.status] = r["count"]
    manifests = {m["batch_id"]: m["counters"] for m in read_manifests(many)}
    assert sorted(manifests) == rep.batches_run
    assert len({c["total"] for c in manifests.values()}) > 1  # batches differ
    for batch_id, c in manifests.items():
        assert c["total"] == sum(written[batch_id].values())
        assert (c["matched"], c["unmatched"]) == (
            written[batch_id]["matched"], written[batch_id]["unmatched"]
        )


def test_failed_batch_stops_submission_then_resume_finishes(spark, tmp_path, monkeypatch):
    """A batch that raises stops further submission; the batch in flight
    with it finishes before the error is raised, and only it has a
    manifest. ``resume=True`` then runs exactly the rest, with no
    duplicate rows, and the lookup is released either way."""
    from access_log_parser_spark.sinks import read_manifests

    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    lang = spark.createDataFrame(
        [("en", "English"), ("de", "German")], "lang string, lang_name string"
    )
    out = str(tmp_path / "failed")
    state = _gated_writes(monkeypatch, fail_first=True)
    with pytest.raises(RuntimeError, match="batch write failed"):
        run_pipeline(
            spark, pages, out, fmt="s3", n_batches=4, lookups={"lang": (lang, "lang")}
        )
    # the failing batch and the one in flight with it, nothing after them;
    # the in-flight one has finished by the time the error is raised
    assert state["calls"] == 2 and state["active"] == 0
    assert not lang.select("*").storageLevel.useMemory
    committed = [m["batch_id"] for m in read_manifests(out)]
    assert len(committed) == 1 and committed[0] in ("0", "1")

    monkeypatch.undo()
    rep = run_pipeline(
        spark, pages, out, fmt="s3", n_batches=4, lookups={"lang": (lang, "lang")},
        resume=True,
    )
    assert rep.batches_skipped == committed
    assert rep.batches_run == [b for b in ("0", "1", "2", "3") if b not in committed]
    total, matched, unmatched = expected_counts()
    assert sum(m["counters"]["total"] for m in read_manifests(out)) == total
    rows = read_sink(spark, out).select("source", "line_no", "status").collect()
    assert len(rows) == total and len(set(rows)) == total
    assert sum(r.status == "matched" for r in rows) == matched


def test_rerun_with_failed_batch_then_resume_loses_no_rows(spark, tmp_path, monkeypatch):
    """Re-running without ``resume`` into a completed ``out_dir``: a batch's
    static overwrite clears its directory when the write starts, so a
    batch whose write then fails has lost its rows. It must have lost its
    old manifest too, or ``resume=True`` would skip it and the manifests'
    counters would no longer match the sinks."""
    from access_log_parser_spark import pipeline
    from access_log_parser_spark.sinks import manifest_dir, read_manifests

    pages = synth_pages(spark, N_PAGES, LINES, UNM_EVERY)
    out = str(tmp_path / "rerun")
    run_pipeline(spark, pages, out, fmt="s3", n_batches=4)

    write_routed = pipeline.write_routed
    calls: list[str] = []

    def fail_first_mid_write(df, out_dir, **kwargs):
        calls.append(kwargs["batch_id"])
        if len(calls) == 1:
            # every task raises, after the job has cleared the directory
            failing = F.raise_error(F.lit("batch write failed")).cast("string")
            df = df.withColumn("raw", F.coalesce(failing, F.col("raw")))
        return write_routed(df, out_dir, **kwargs)

    monkeypatch.setattr(pipeline, "write_routed", fail_first_mid_write)
    with pytest.raises(Exception, match="batch write failed"):
        run_pipeline(spark, pages, out, fmt="s3", n_batches=4)
    failed = calls[0]
    assert not os.path.exists(os.path.join(manifest_dir(out), f"{failed}.json"))

    monkeypatch.undo()
    rep = run_pipeline(spark, pages, out, fmt="s3", n_batches=4, resume=True)
    assert failed in rep.batches_run
    total, _, _ = expected_counts()
    rows = read_sink(spark, out).select("source", "line_no", "status").collect()
    assert len(rows) == total and len(set(rows)) == total
    manifests = read_manifests(out)
    assert sorted(m["batch_id"] for m in manifests) == ["0", "1", "2", "3"]
    assert sum(m["counters"]["total"] for m in manifests) == total
