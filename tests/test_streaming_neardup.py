"""Streaming incremental MinHash/LSH dedup: equivalence with the
closed-form global rule, cross-batch transitivity, replay idempotence,
and null-text passthrough."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from access_log_parser_spark.operators.dedup import (
    band_keys,
    lsh_candidate_pairs,
    minhash_signatures_hof,
)
from access_log_parser_spark.streaming.neardup import (
    auto_key_buckets,
    make_batch_processor,
    run_streaming_minhash_dedup,
    write_ordered_batches,
)


def test_auto_key_buckets_scales_with_corpus():
    # small corpora -> few directories (bounded per-batch commit cost)
    assert auto_key_buckets(0) == 4
    assert auto_key_buckets(300 * 4) == 8      # the r04 driver-query scale
    # mid scale grows as a power of two near rows/target
    assert auto_key_buckets(65_536) == 512
    assert auto_key_buckets(400_000) == 4096
    # huge corpora clamp: pruning selectivity then comes from the kb
    # partition filter over `hi` dirs + row-group stats within
    assert auto_key_buckets(10**12) == 4096
    # fixed-for-the-life-of-the-index: same inputs, same answer
    assert auto_key_buckets(1200) == auto_key_buckets(1200)


def _corpus(spark, n_unique=30, n_dups=10):
    """n_unique distinct docs; the last n_dups are verbatim copies of the
    first n_dups under higher doc_ids (guaranteed band collisions)."""
    base = [
        (i, f"doc {i} " + " ".join(f"tok{i}w{j}" for j in range(30)))
        for i in range(n_unique)
    ]
    dups = [(1000 + i, base[i][1]) for i in range(n_dups)]
    return spark.createDataFrame(base + dups, ["doc_id", "text"])


def _global_rule_kept(docs):
    """kept(d) <=> min over d's bands of (min owner doc_id) == d."""
    bands = band_keys(minhash_signatures_hof(docs.filter(F.col("text").isNotNull())))
    w = Window.partitionBy("band_idx", "band_key")
    verdict = (
        bands.withColumn("_owner", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(F.min("_owner").alias("_fo"))
    )
    sig_kept = {
        r["doc_id"] for r in verdict.filter(F.col("_fo") == F.col("doc_id")).collect()
    }
    no_sig = {
        r["doc_id"] for r in docs.filter(F.col("text").isNull()).collect()
    }
    return sig_kept | no_sig


def test_stream_dedup_matches_global_rule(spark, tmp_path):
    docs = _corpus(spark)
    write_ordered_batches(docs, str(tmp_path / "in"), n_batches=4)
    metrics = run_streaming_minhash_dedup(
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    kept = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert kept == _global_rule_kept(docs)
    assert len(metrics) >= 4 and sum(m["n_in"] for m in metrics) == 40
    assert sum(m["n_kept"] for m in metrics) == len(kept)
    # every verbatim copy was dropped, every unique doc kept
    assert all(d < 1000 for d in kept) and len(kept) == 30


def test_stream_dedup_drops_cross_batch_dups(spark, tmp_path):
    # copies land in a LATER batch than their originals (doc_id order
    # ensures batch 0 holds originals 0..9, last batch the 1000+ copies)
    docs = _corpus(spark, n_unique=12, n_dups=6)
    write_ordered_batches(docs, str(tmp_path / "in"), n_batches=3)
    run_streaming_minhash_dedup(
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    per_batch = {
        r["batch_id"]: r["n"]
        for r in out.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # the final batch holds only the 1000+ copies -> nothing kept there
    assert per_batch.get(2, 0) == 0 and sum(per_batch.values()) == 12
    assert {r["doc_id"] for r in out.collect()} == set(range(12))


def test_batch_processor_replay_is_idempotent(spark, tmp_path):
    docs = _corpus(spark, n_unique=8, n_dups=4)
    rows = docs.orderBy("doc_id").collect()
    b0 = spark.createDataFrame(rows[:6], docs.schema)
    b1 = spark.createDataFrame(rows[6:], docs.schema)
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    proc = make_batch_processor(spark, out, idx)
    proc(b0, 0)
    proc(b1, 1)
    kept_once = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    idx_once = spark.read.parquet(idx).count()
    # replay batch 1 (failure recovery): same batch_id, same input
    proc(b1, 1)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == kept_once
    assert spark.read.parquet(idx).count() == idx_once


def test_null_text_docs_pass_through(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "some real text " * 5), (2, None), (3, "some real text " * 5)],
        ["doc_id", "text"],
    )
    write_ordered_batches(docs, str(tmp_path / "in"), n_batches=2)
    run_streaming_minhash_dedup(
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert kept == {1, 2}


def test_probe_prunes_index_partitions(spark, tmp_path):
    """The r03 scale-killer fix: the per-batch cross-batch probe must
    reach the index scan as PARTITION filters (kb bucket + batch_id),
    never a full-history scan."""
    from access_log_parser_spark.streaming.neardup import probe_index

    docs = _corpus(spark, n_unique=20, n_dups=8)
    write_ordered_batches(docs, str(tmp_path / "in"), n_batches=3)
    run_streaming_minhash_dedup(
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    probe = probe_index(spark, str(tmp_path / "idx"), 2, [1, 5, 9])
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "kb" in pf and "batch_id" in pf
    # and the probed slice still sees only OTHER batches' keys
    assert probe.count() > 0
    full = spark.read.parquet(str(tmp_path / "idx"))
    assert full.filter(F.col("batch_id") != 2).filter(
        F.col("kb").isin([1, 5, 9])
    ).count() == probe.count()


def test_index_has_n_bands_rows_per_doc(spark, tmp_path):
    docs = _corpus(spark, n_unique=5, n_dups=0)
    write_ordered_batches(docs, str(tmp_path / "in"), n_batches=1)
    run_streaming_minhash_dedup(
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert idx.count() == 5 * 4  # LSH_BANDS = 4 rows per ingested doc
    # band keys agree with the batch operator's definition
    pairs = lsh_candidate_pairs(minhash_signatures_hof(docs))
    assert pairs.count() == 0


def test_resumed_stream_reuses_pinned_modulus(spark, tmp_path):
    """A resumed run over a grown input dir must keep the modulus the
    index was written under — re-auto-sizing would write kb values the
    probe's partition filter can never match, silently keeping
    duplicates of already-indexed docs."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from access_log_parser_spark.streaming.neardup import _BUCKETS_MARKER

    docs1 = _corpus(spark, n_unique=30, n_dups=0)
    in_dir = tmp_path / "in"
    write_ordered_batches(docs1, str(in_dir), n_batches=2)
    run_streaming_minhash_dedup(
        spark,
        str(in_dir),
        docs1.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    marker = tmp_path / "idx" / _BUCKETS_MARKER
    pinned = int(marker.read_text())
    assert pinned == auto_key_buckets(30 * 4)
    # grow the corpus enough that a FRESH auto-size would pick a larger
    # modulus, then resume (same checkpoint/index: only new files run)
    new = [
        (5000 + i, f"new {i} " + " ".join(f"n{i}w{j}" for j in range(30)))
        for i in range(500)
    ]
    dup_of_doc3 = (9999, docs1.filter(F.col("doc_id") == 3).first()["text"])
    import pandas as pd

    p = str(in_dir / "resume_00000.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(new + [dup_of_doc3], columns=["doc_id", "text"]),
            preserve_index=False,
        ),
        p,
    )
    os.utime(p, (2_000_000, 2_000_000))
    assert auto_key_buckets((30 + 501) * 4) != pinned
    run_streaming_minhash_dedup(
        spark,
        str(in_dir),
        docs1.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    assert int(marker.read_text()) == pinned  # modulus survived the resume
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert 9999 not in kept  # cross-RUN dup caught via the pinned modulus
    assert 5000 in kept and set(range(30)) <= kept


def test_explicit_modulus_mismatch_raises(spark, tmp_path):
    import pytest

    docs = _corpus(spark, n_unique=10, n_dups=0)
    write_ordered_batches(docs, str(tmp_path / "in"), n_batches=1)
    args = (
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    run_streaming_minhash_dedup(*args, n_key_buckets=8)
    with pytest.raises(ValueError, match="n_key_buckets=8"):
        run_streaming_minhash_dedup(*args, n_key_buckets=16)


def test_micro_batch_writes_parquet_only_and_counts_its_footers(spark, tmp_path):
    """Each micro-batch replaces its own ``batch_id=<n>`` directories with
    part files alone (no ``.crc``, no ``.spark-staging-*``), and its
    ``n_kept`` is the footer sum of what it committed: a read of
    ``out/batch_id=<n>`` agrees, and an all-dropped batch reads 0."""
    import os

    docs = _corpus(spark, n_unique=6, n_dups=6)
    rows = docs.orderBy("doc_id").collect()
    originals = spark.createDataFrame(rows[:6], docs.schema)
    copies = spark.createDataFrame(rows[6:], docs.schema)  # all dropped
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    metrics: list[dict] = []
    proc = make_batch_processor(spark, out, idx, metrics=metrics)
    proc(originals, 0)
    proc(copies, 1)
    stray = [
        os.path.join(d, name)
        for top in (out, idx)
        for d, dirs, files in os.walk(top)
        for name in dirs + files
        if name.endswith(".crc") or name.startswith(".spark-staging-")
    ]
    assert stray == []
    assert sorted(os.listdir(idx)) == ["batch_id=0", "batch_id=1"]
    for m in metrics:
        assert m["n_kept"] == spark.read.parquet(f"{out}/batch_id={m['batch_id']}").count()
    assert [(m["batch_id"], m["n_in"], m["n_kept"]) for m in metrics] == [(0, 6, 6), (1, 6, 0)]


def test_n_in_counts_every_input_row_including_null_text(spark, tmp_path):
    """``n_in`` is the micro-batch's input rows, a doc with a NULL text
    among them (no signature, so no band key, but still an input row)."""
    import pyarrow.parquet as pq

    docs = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"doc {i} " + "word " * 10) for i in range(12)],
        "doc_id long, text string",
    )
    files = write_ordered_batches(docs, str(tmp_path / "in"), n_batches=3)
    metrics = run_streaming_minhash_dedup(
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    assert [m["n_in"] for m in metrics] == [pq.read_metadata(f).num_rows for f in files]
    assert [m["n_in"] for m in metrics] == [4, 4, 4]


def _job_ids(spark) -> set[int]:
    jvm = spark.sparkContext._jvm
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return {job.jobId() for job in jvm.scala.jdk.javaapi.CollectionConverters.asJava(jobs)}


def test_stream_runs_no_job_to_count_its_input(spark, tmp_path):
    """The 40-doc, 4-micro-batch stream's Spark jobs, counted in the
    status store: ``n_in`` comes from the kept write's own job, not from
    a ``count()`` of the micro-batch (2 jobs each, 47 for this run)."""
    docs = _corpus(spark)
    write_ordered_batches(docs, str(tmp_path / "in"), n_batches=4)
    before = _job_ids(spark)
    metrics = run_streaming_minhash_dedup(
        spark,
        str(tmp_path / "in"),
        docs.schema,
        str(tmp_path / "out"),
        str(tmp_path / "idx"),
        str(tmp_path / "ck"),
    )
    assert [m["n_in"] for m in metrics] == [10, 10, 10, 10]
    assert len(_job_ids(spark) - before) == 39
