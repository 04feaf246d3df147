"""Operator tests: dedup / similarity / text-quality / multimodal."""

import math

import numpy as np
import pytest


def test_funnel_depth_three_stage(spark):
    from access_log_parser_spark.operators.funnel import funnel_depth

    rows = [
        # u1 completes the whole funnel in order
        ("u1", 1, "view"), ("u1", 2, "click"), ("u1", 3, "purchase"),
        # u2's first click precedes its view; a later click counts
        ("u2", 1, "click"), ("u2", 2, "view"), ("u2", 5, "click"),
        # u3 purchased BEFORE viewing: strict ordering caps it at depth 1
        ("u3", 1, "purchase"), ("u3", 2, "view"),
        # u4 never hits a funnel stage
        ("u4", 1, "other"),
        # u5's only click precedes its view
        ("u5", 2, "click"), ("u5", 3, "view"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "event_type"])
    got = {
        r["user_id"]: r["depth"]
        for r in funnel_depth(ev, ["view", "click", "purchase"]).collect()
    }
    assert got == {"u1": 3, "u2": 2, "u3": 1, "u4": 0, "u5": 1}


def test_funnel_depth_four_stage_and_counts(spark):
    from access_log_parser_spark.operators.funnel import (
        funnel_depth,
        funnel_depth_counts,
    )

    rows = [
        ("w1", 1, "a"), ("w1", 2, "b"), ("w1", 3, "c"), ("w1", 4, "d"),
        # out-of-order c is retried later: a@1 b@3 c@4 d@5
        ("w2", 1, "a"), ("w2", 2, "c"), ("w2", 3, "b"), ("w2", 4, "c"),
        ("w2", 5, "d"),
        # never does stage a -> depth 0 despite b/c/d events
        ("w3", 1, "b"), ("w3", 2, "c"), ("w3", 3, "d"),
        # b precedes a -> depth 1
        ("w4", 1, "b"), ("w4", 5, "a"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "event_type"])
    stages = ["a", "b", "c", "d"]
    got = {r["user_id"]: r["depth"] for r in funnel_depth(ev, stages).collect()}
    assert got == {"w1": 4, "w2": 4, "w3": 0, "w4": 1}
    counts = {
        r["depth"]: r["n_users"]
        for r in funnel_depth_counts(ev, stages).collect()
    }
    assert counts == {4: 2, 1: 1, 0: 1}

    with pytest.raises(ValueError):
        funnel_depth(ev, [])


from pyspark.sql import functions as F

from access_log_parser_spark.operators import dedup, multimodal, similarity, text_quality


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),       # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "en"),       # near dup of 0
        (3, "der schnelle braune fuchs springt und ist nicht da", "de"),
        (4, "completely different words entirely unrelated content here", "en"),
        (5, "  The  QUICK brown fox jumps over the lazy dog ", "en"),   # normalized dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["dup_ids"] == [0, 1, 5]
    assert g["keep_id"] == 0
    assert g["n_dups"] == 3


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 5)] == 1.0
    assert 0.3 <= pairs[(0, 2)] < 1.0
    assert (0, 4) not in pairs


def _py_sigs(df, k=dedup.MINHASH_K):
    """The driver-side reference: ``_minhash_py`` over each non-NULL-text
    row's collected ``shingles(...)``."""
    rows = df.filter(F.col("text").isNotNull()).select(
        "doc_id", dedup.shingles(F.col("text")).alias("sh")
    )
    return {r["doc_id"]: dedup._minhash_py(list(r["sh"]), k) for r in rows.collect()}


def _hof_sigs(df, k=dedup.MINHASH_K):
    return {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_signatures_hof(df, k=k).collect()
    }


def test_minhash_lsh_pairs(spark, docs):
    sigs = _hof_sigs(docs)
    assert sigs == _py_sigs(docs)
    assert sigs[0] == sigs[1] == sigs[5]           # identical shingle sets
    assert sigs[0] != sigs[4]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(dedup.minhash_signatures_hof(docs)).collect()
    }
    assert {(0, 1), (0, 5), (1, 5)} <= pairs       # exact dups always collide
    assert (0, 4) not in pairs


def test_minhash_jvm_bit_identical(spark, docs):
    """The JVM-side (HOF) signature is bit-identical to the Python
    reference ``_minhash_py``."""
    assert _hof_sigs(docs) == _py_sigs(docs)
    # the HOF path's whole point: no exchange anywhere in its plan
    plan = dedup.minhash_signatures_hof(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_minhash_python_matches_duckdb_formula():
    # cross-engine contract: md5-first-15-hex base hash, (a*h+b) mod 2^61-1
    import duckdb

    grams = ["the quick brown", "quick brown fox"]
    py = dedup._minhash_py(grams)[0]
    a, b = dedup._A[0], dedup._B[0]
    got = duckdb.sql(
        f"""SELECT min(({a}::HUGEINT * CAST('0x' || substr(md5(g),1,15) AS BIGINT)
            + {b}) % 2305843009213693951)::BIGINT
            FROM (SELECT unnest({grams!r}) AS g)"""
    ).fetchone()[0]
    assert py == got


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(10, 8).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.randn(8).astype(np.float32)  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]], int(i % 2)) for i in range(10)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int"), base


def test_cosine_topk_matches_numpy(spark, emb):
    df, base = emb
    out = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    got = [(r["neighbor_id"], r["cosine"]) for r in out.orderBy("rank").collect()]
    v = base.astype(np.float64)
    sims = v @ v[0] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[0]))
    order = sorted(
        [(round(s, 6), -i) for i, s in enumerate(sims) if i != 0], reverse=True
    )[:3]
    want = [(-i, s) for s, i in order]
    assert got == want
    assert got[0][0] == 1  # the planted near-dup is rank 1


def test_lsh_ann_finds_planted_neighbor(spark, emb):
    df, _ = emb
    out = similarity.lsh_ann(df, df.filter(F.col("vec_id") == 0), k=3, dim=8)
    ids = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert 1 in ids  # near-identical vector lands in the same bucket


def test_embedding_near_dup(spark, emb):
    df, _ = emb
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dup(df, 0.99, bucket_col=None).collect()
    }
    assert (0, 1) in pairs  # planted near-identical pair


def test_text_quality_ops(spark, docs):
    tc = {r["doc_id"]: (r["ws_tokens"], r["re_tokens"]) for r in
          text_quality.token_count(docs).collect()}
    assert tc[0] == (9, 9)
    q = {r["doc_id"]: r for r in text_quality.quality_score(docs).collect()}
    assert q[0]["n_tokens"] == 9
    assert q[0]["stopword_hits"] == 1  # 'the' (distinct-stopword semantics)
    assert 0.0 <= q[0]["quality"] <= 1.0
    lang = {r["doc_id"]: r["pred_lang"] for r in text_quality.lang_id(docs).collect()}
    assert lang[0] == "en"
    assert lang[3] == "de"
    fp = {r["doc_id"]: r["fp"] for r in text_quality.fingerprint(docs).collect()}
    assert fp[0] == fp[5]  # normalization: case + whitespace
    assert fp[0] != fp[2]


def test_multimodal_metadata_and_stub(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"fake-image-bytes")), (2, bytearray(b"other"))],
        "media_id long, payload binary",
    )
    meta = {r["media_id"]: r for r in
            multimodal.binary_metadata(df, "media_id", "payload").collect()}
    assert meta[1]["n_bytes"] == 16
    dec = {r["media_id"]: r for r in
           multimodal.decode_media(df, "media_id", "payload").collect()}
    assert dec[1]["format"] in ("jpeg", "png", "webp")
    assert 16 <= dec[1]["width"] <= 255
    assert dec[1]["digest"] == meta[1]["digest"]
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        multimodal.decode_media(df, "media_id", "payload", strict=True).collect()


def test_embedding_near_dup_cross_bucket_miss(spark, emb):
    # ids 0 (label 0) and 1 (label 1) only pair because bucket=label puts
    # them apart -> verify bucketing actually bounds the search space
    df, _ = emb
    pairs = dedup.embedding_near_dup(df, 0.99, bucket_col="label").collect()
    assert all(r["id_a"] % 2 == r["id_b"] % 2 for r in pairs)


def test_embedding_near_dup_no_cross_product_without_bucket(spark, emb):
    """bucket_col=None must NOT degenerate to an all-pairs cross product:
    the fallback buckets by hyperplane LSH, so the physical plan joins on
    the bucket key (no CartesianProduct / BroadcastNestedLoopJoin)."""
    df, _ = emb
    out = dedup.embedding_near_dup(df, 0.99, bucket_col=None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_connected_components_reliable_checkpoint_identical(spark, tmp_path):
    """checkpoint_dir (reliable, executor-loss-safe) must yield labels
    identical to the localCheckpoint default."""
    from access_log_parser_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], ["id_a", "id_b"])
    want = {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    # all three execution paths must agree: driver union-find (default),
    # iterative localCheckpoint, iterative reliable checkpoint
    uf = {r["doc_id"]: r["cluster_id"] for r in connected_components(ids, pairs).collect()}
    local = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(ids, pairs, collect_threshold=0).collect()
    }
    durable = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            ids, pairs, checkpoint_dir=str(tmp_path / "ckpt"), collect_threshold=0
        ).collect()
    }
    assert uf == local == durable == want


def test_connected_components_warns_when_not_converged(spark):
    """A component whose diameter exceeds max_iter must warn instead of
    silently returning split clusters."""
    import warnings

    from access_log_parser_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_components(
            ids, chain, max_iter=1, collect_threshold=0
        ).collect()
    assert any("did not converge" in str(w.message) for w in caught)
    # and a sufficient max_iter does not warn
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        full = {r["doc_id"]: r["cluster_id"]
                for r in connected_components(
                    ids, chain, collect_threshold=0).collect()}
    assert not [w for w in caught if "did not converge" in str(w.message)]
    assert full == {i: 0 for i in range(6)}
    assert len(out) == 6


@pytest.mark.parametrize("threshold", [0, 5_000_000])
def test_connected_components_chain_and_isolated(spark, threshold):
    """Min-label propagation: a 5-node chain (needs multiple iterations),
    a 2-node pair, and isolated nodes all resolve to component minima —
    on BOTH the iterative (threshold=0) and union-find paths."""
    from access_log_parser_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    # chain 0-1-2-3-4, pair 6-7; 5, 8, 9 isolated
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (6, 7)], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            ids, pairs, collect_threshold=threshold
        ).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 6, 8: 8, 9: 9}


def test_connected_components_propagates_against_edge_direction(spark):
    """Labels must flow both ways: min node at the END of a directed pair
    list still wins the whole component."""
    from access_log_parser_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in (1, 2, 3)], ["doc_id"])
    pairs = spark.createDataFrame([(3, 2), (2, 1)], ["id_a", "id_b"])
    out = {r["doc_id"]: r["cluster_id"] for r in connected_components(ids, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_minhash_alternate_k_cross_engine(spark):
    """Parametrized signature length: k=8 must stay bit-identical between
    the Python reference and the JVM-side signature (fixed coefficient
    formula a_i=2i+3, b_i=7919(i+1) holds for any k)."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(30)],
        ["doc_id", "text"],
    )
    hof = _hof_sigs(docs, k=8)
    assert hof == _py_sigs(docs, k=8)
    assert len(hof) == 30 and all(len(v) == 8 for v in hof.values())


def test_lsh_sensitivity_s_curve(spark):
    """LSH s-curve pinned on deterministic docs: a jaccard-0.81 pair MUST
    become a candidate (collides in 2 of 4 bands with the fixed hash
    family), a jaccard-0.12 pair must NOT. End-to-end through the JVM
    signature path (checked against ``_minhash_py``) + banded join."""
    from access_log_parser_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_hof,
    )

    base = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(base)),
            (2, " ".join(base[:36] + ["x1", "x2", "x3", "x4"])),   # j=0.81
            (3, " ".join([f"z{i}" for i in range(30)] + base[:10])),  # j=0.12
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(minhash_signatures_hof(docs)).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    assert _hof_sigs(docs) == _py_sigs(docs)


def test_dedup_null_text_rows_are_excluded_consistently(spark):
    """NULL text = missing data, not content: every dedup entry point
    drops such rows instead of collapsing all NULL-text docs into one
    spurious duplicate cluster via md5(NULL)/all-NULL signatures; the
    kept rows' signatures equal the Python reference's."""
    from pyspark.sql import functions as F

    from access_log_parser_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, None),
         (4, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    hof = _hof_sigs(df)
    assert set(hof) == {1, 4}
    assert hof == _py_sigs(df)

    ex = D.exact_duplicates(df).collect()
    assert len(ex) == 1 and sorted(ex[0]["dup_ids"]) == [1, 4]  # not [2,3]

    sh = {r["doc_id"] for r in D.simhash(df).collect()}
    assert sh == {1, 4}

    pairs = D.lsh_candidate_pairs(D.minhash_signatures_hof(df)).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 4)}
