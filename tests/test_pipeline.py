"""Pipeline-level tests: synthesized pages -> parse -> route -> aggregate,
closed-form expected per-sink counts (FIXTURES.md §6), enrichment joins,
and idempotent resume."""

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


def test_partition_lineage_sums_to_global(spark, tmp_path):
    """counters_by_partition: summing the per-partition lineage reproduces
    the global Result; recorded in the batch manifest when enabled."""
    import json
    import os

    from access_log_parser_spark.metrics import counters_by_partition
    from access_log_parser_spark.pages import synth_pages
    from access_log_parser_spark.pipeline import run_pipeline
    from access_log_parser_spark.sinks import manifest_dir

    pages = synth_pages(spark, 40, 10, 5)
    out = str(tmp_path / "lineage_out")
    report = run_pipeline(spark, pages, out, fmt="s3", partition_lineage=True)
    assert report.result.total == 400

    manifests = sorted(os.listdir(manifest_dir(out)))
    assert manifests
    with open(os.path.join(manifest_dir(out), manifests[0])) as f:
        m = json.load(f)
    lineage = m["partition_lineage"]
    assert len(lineage) >= 1
    for key in ("total", "matched", "unmatched"):
        assert sum(p[key] for p in lineage) == m["counters"][key]

    # operator-level invariant on a fresh routed frame
    from access_log_parser_spark.pages import pages_to_lines

    routed = parse_routed(pages_to_lines(pages), "s3")
    rows = counters_by_partition(routed).collect()
    assert sum(r["total"] for r in rows) == 400
    assert all(r["total"] == r["matched"] + r["unmatched"] + r["excluded"] + r["skipped"] for r in rows)


def test_compact_sink_atomic_rewrite(spark, tmp_path):
    """Small-file compaction: many per-batch files collapse to one, rows
    and values unchanged, old directory gone."""
    from access_log_parser_spark.pages import pages_to_lines, synth_pages
    from access_log_parser_spark.sinks import compact_sink, read_sink, write_routed

    out = str(tmp_path / "compact_out")
    pages = synth_pages(spark, 20, 10, 5)
    routed = parse_routed(pages_to_lines(pages), "s3")
    for _ in range(3):  # three appends -> many small files
        write_routed(routed, out)
    before_rows = read_sink(spark, out, status="matched", pattern_id=1).count()
    n_rows, n_before, n_after = compact_sink(spark, out, "matched", 1)
    assert n_rows == before_rows
    assert n_after == 1 and n_before > 1
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
        lambda df, table, mode, extra: calls.update(table=table, mode=mode, extra=extra),
    )
    out = tmp_path / "ice"
    sinks.write_routed(routed, str(out), mode="overwrite", iceberg_table="cat.db.logs")
    assert calls == {"table": "cat.db.logs", "mode": "overwrite", "extra": ()}
    assert not out.exists()  # nothing written to the parquet layout

    monkeypatch.setattr(sinks, "iceberg_available", lambda s: False)
    out2 = tmp_path / "pq"
    sinks.write_routed(routed, str(out2), mode="overwrite", iceberg_table="cat.db.logs")
    assert (out2 / "data").exists()


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
    manifest. Resume must re-run it and REPLACE its partitions (dynamic
    partition overwrite), not append duplicates."""
    from pyspark.sql import functions as F

    from access_log_parser_spark.pages import synth_pages
    from access_log_parser_spark.pipeline import run_pipeline
    from access_log_parser_spark.sinks import manifest_dir, read_sink
    import os

    pages = synth_pages(spark, 40, 10, 5)
    out = str(tmp_path / "crash_out")
    run_pipeline(spark, pages, out, fmt="s3", n_batches=4)
    full = read_sink(spark, out).count()
    assert full == 400

    # simulate a crash of batch 2: its data exists (partially or fully)
    # but its manifest commit marker is gone
    os.remove(os.path.join(manifest_dir(out), "2.json"))
    report = run_pipeline(spark, pages, out, fmt="s3", n_batches=4, resume=True)
    assert report.batches_run == ["2"]
    assert sorted(report.batches_skipped) == ["0", "1", "3"]
    assert read_sink(spark, out).count() == full  # no duplicates


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

    plan = compile_plan(pat.compile_patterns(list(pat.PRESETS["s3"])))
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
    write_routed = pipeline.write_routed

    def capture(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write_routed(df, *args, **kwargs)

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
