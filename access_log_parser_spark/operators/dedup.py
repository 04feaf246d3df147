"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale notes (the 100 TB story):

- exact dedup is a hash groupBy — partial/final agg, no skew risk beyond
  pathological identical docs (AQE handles);
- near-dup never does an O(n^2) cross join: candidates come from
  inverted-index joins (shared shingle / LSH band bucket / simhash chunk),
  i.e. shuffle on a bounded key, then pairwise verification only within
  buckets;
- all hashes are md5-derived with arithmetic in bounded integer ranges, so
  a DuckDB oracle can reproduce them exactly (no engine-private hash).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType, StructField, StructType

# MinHash parameters (shared with the DuckDB oracle in __spark_entry__)
MINHASH_K = 16          # default signature length
LSH_BANDS = 4           # default: bands of 4 rows each
LSH_ROWS = MINHASH_K // LSH_BANDS
MERSENNE = (1 << 61) - 1


def _perm_coeffs(k: int) -> list[tuple[int, int]]:
    # permutation i: a_i = 2i+3 (odd), b_i = 7919*(i+1) — fixed formula so
    # the DuckDB oracle and both engines agree for ANY k
    return [(2 * i + 3, 7919 * (i + 1)) for i in range(k)]


_A = [a for a, _ in _perm_coeffs(MINHASH_K)]
_B = [b for _, b in _perm_coeffs(MINHASH_K)]

SIMHASH_BITS = 32


def normalized(c):
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via md5-fingerprint groupBy: one shuffle on the digest.
    Returns (fp, n_dups, keep_id=min doc_id, dup_ids)."""
    fp = F.md5(normalized(F.col(text_col)))
    return (
        # NULL text is missing data, not content: md5(NULL) is NULL and
        # would group every NULL-text doc into one spurious dup cluster
        df.filter(F.col(text_col).isNotNull())
        .select(F.col("doc_id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def shingles(c, n: int = 3):
    """Word n-gram shingles of normalized text (distinct, JVM-side)."""
    toks = F.split(normalized(c), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(grams)


def _shingle_overlap(df: DataFrame, n: int, text_col: str) -> DataFrame:
    """(id_a, id_b, na, nb, inter) for every doc pair sharing a shingle:
    explode distinct shingles -> self-join on shingle (shuffle on
    shingle, never a cross join) -> per-pair common count. ``na``/``nb``
    are the pair's distinct-shingle counts, id_a < id_b."""
    sh = df.select(
        F.col("doc_id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    ex = sh.select("doc_id", "n_sh", F.explode("sh").alias("g"))
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(b, on="g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame, threshold: float = 0.5, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Candidate pairs by inverted shingle index (:func:`_shingle_overlap`),
    verified by exact Jaccard |A n B| / (|A| + |B| - |A n B|). Returns
    (id_a, id_b, jaccard 6dp) filtered to >= threshold."""
    common = _shingle_overlap(df, n, text_col)
    jac = F.round(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
    )
    return (
        common.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame, threshold: float = 0.8, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Candidate pairs by shingle overlap COEFFICIENT — the subset-copy
    detector Jaccard structurally misses: a short document embedded
    verbatim inside a long one (quoted article + commentary, boilerplate-
    wrapped copies, truncated mirrors) has Jaccard ~ |A|/|B| (small) but
    containment ~ 1. Curation pipelines run BOTH: Jaccard for near-equal
    pairs, containment for subset pairs (Broder 1997 resemblance vs
    containment).

        overlap(A, B) = |A n B| / min(|A|, |B|)

    Same inverted-shingle-index plan as :func:`ngram_jaccard_pairs`
    (:func:`_shingle_overlap`; never an all-pairs product). Returns
    (id_a, id_b, overlap 6dp) with id_a < id_b, filtered to >= threshold."""
    common = _shingle_overlap(df, n, text_col)
    ov = F.round(F.col("inter") / F.least(F.col("na"), F.col("nb")), 6)
    return (
        common.select("id_a", "id_b", ov.alias("overlap"))
        .filter(F.col("overlap") >= threshold)
    )


# --- MinHash + LSH ---

def _minhash_py(grams: list[str], k: int = MINHASH_K) -> list[int]:
    """k minhashes of a shingle set; base hash = first 15 hex chars of md5
    (60 bits, bigint-safe), permuted by (a*h+b) mod 2^61-1."""
    if not grams:
        return [MERSENNE] * k
    hs = [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) for g in grams]
    return [
        min((a * h + b) % MERSENNE for h in hs) for a, b in _perm_coeffs(k)
    ]


def minhash_signatures_hof(
    df: DataFrame, text_col: str = "text", n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """(doc_id, sig array<long>): the one Spark MinHash, with NO shuffle
    and no Python: the k minima are computed within each row by array
    higher-order functions (``array_min`` over a ``transform`` of the
    shingle-hash array). Bit-identical to :func:`_minhash_py` and the
    DuckDB oracle: the base hash ``conv(substr(md5(g),1,15),16,10)`` ==
    Python ``int(md5[:15],16)``, and the (a*h+b) mod 2^61-1 permutation
    runs in pure int64 via Mersenne folding (see inline comment); tests
    pin the equivalence.

    The shingle hashes are materialized ONCE per row in an intermediate
    projection — CollapseProject does not inline a non-trivial alias
    referenced k times, so the digests are not recomputed per
    permutation. Plan shape: scan -> two projections, one stage,
    embarrassing parallelism."""
    # NULL text is not a dup candidate: without the filter all NULL-text
    # docs share identical NULL/degenerate signatures and collapse into
    # one giant spurious duplicate cluster.
    sh = df.filter(F.col(text_col).isNotNull()).select(
        F.col("doc_id"), shingles(F.col(text_col), n).alias("sh")
    )
    hs = sh.select(
        "doc_id",
        F.transform(
            F.col("sh"),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
        ).alias("hs"),
    )

    def perm_min(a: int, b: int):
        def one(h):
            # (a*h + b) mod 2^61-1 in pure int64 (no decimal): h < 2^60,
            # a <= 2k+1, so a*h overflows; split h = h_hi*2^31 + h_lo and
            # fold with 2^61 === 1 (mod M):  a*h = t*2^31 + a*h_lo with
            # t = a*h_hi, and t*2^31 === (t >> 30) + ((t & (2^30-1)) << 31).
            # Every term stays below 2^61, the sum below 2*M, so one
            # conditional subtract finishes the mod.
            t = F.lit(a) * F.shiftright(h, 31)
            s = (
                F.lit(a) * h.bitwiseAND(F.lit((1 << 31) - 1))
                + F.shiftleft(t.bitwiseAND(F.lit((1 << 30) - 1)), 31)
                + F.shiftright(t, 30)
                + F.lit(b)
            )
            return F.when(s >= MERSENNE, s - MERSENNE).otherwise(s)

        return F.array_min(F.transform(F.col("hs"), one))

    return hs.select(
        "doc_id",
        F.array(*[perm_min(a, b) for a, b in _perm_coeffs(k)]).alias("sig"),
    )


def band_keys(
    sigs: DataFrame, n_bands: int = LSH_BANDS, rows_per_band: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band_idx, band_key) for every signature band: band key is
    the md5 of the comma-joined band values (cross-engine reproducible —
    the driver oracle rebuilds it in SQL). Pure projection + posexplode,
    no shuffle; both the batch LSH self-join and the streaming
    incremental dedup consume this one definition."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[i].cast("string")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
    distinct: bool = True,
) -> DataFrame:
    """Band the signatures and self-join on (band_idx, band_key): docs
    agreeing on ALL rows of any band become candidates. Band key is the
    md5 of the joined band values (cross-engine reproducible). Tune
    (n_bands, rows_per_band) for the similarity s-curve: more bands =
    higher recall at lower similarity, more candidates to verify.

    ``distinct=False`` skips the final dedup SHUFFLE and may emit a pair
    once per agreeing band — pass it when the consumer dedups anyway
    (connected_components' union-find is idempotent over repeated
    edges)."""
    bands = band_keys(sigs, n_bands, rows_per_band)
    a = bands.alias("a")
    b = bands.alias("b")
    out = (
        a.join(b, on=["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    return out.distinct() if distinct else out


def lsh_verified_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """The production MinHash-dedup flow end-to-end: HOF signatures ->
    banded LSH candidates -> EXACT Jaccard verification of only those
    candidates. Returns (id_a, id_b, jaccard >= threshold).

    Scale shape: the expensive exact comparison runs on the LSH
    candidate set (orders of magnitude smaller than all-pairs), and the
    verification shingles are computed only for docs that APPEAR in a
    candidate pair (semi-join first, shingle after) — full-corpus
    shingling happens once, inside the signature stage. The candidate
    subtree is referenced twice (id list + pair join) but its band-join
    shuffle is deduplicated by Spark's ReuseExchange, so candidates are
    not generated twice. Jaccard itself is a per-row array intersection
    (HOF, no further shuffle)."""
    cands = lsh_candidate_pairs(
        minhash_signatures_hof(df, text_col, n), distinct=True
    )
    cand_ids = cands.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("doc_id")
    ).distinct()
    sh = (
        df.join(cand_ids, "doc_id", "left_semi")
        .select(F.col("doc_id"), shingles(F.col(text_col), n).alias("sh"))
    )
    joined = (
        cands.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find with min-root semantics: every node in the
    edge list maps to the MINIMUM node id of its component (the same
    labels min-propagation converges to)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    collect_threshold: int = 1_000_000,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over candidate
    pairs by iterative min-label propagation. Returns (doc_id, cluster_id)
    with cluster_id = min doc_id of the component.

    The loop is driver-side but each iteration is one distributed
    join+aggregate; iterations needed = graph diameter (near-dup clusters
    are shallow — a handful of hops). Convergence is detected by counting
    changed labels (one action per iteration). At 10^12 docs the edge
    list is the LSH candidate set — orders of magnitude smaller than the
    corpus — and labels shuffle on doc_id each round.

    Lineage is truncated every round. Default is ``localCheckpoint``
    (executor block storage — fast but NOT executor-loss-safe); pass
    ``checkpoint_dir`` on a real cluster to use reliable ``checkpoint``
    into that (HDFS/object-store) directory so an executor loss replays
    from the checkpoint instead of killing the job. Labels are identical
    either way.

    If the loop hits ``max_iter`` with labels still changing (component
    diameter > max_iter), a RuntimeWarning is raised: the returned
    clusters may still be split and the caller should re-run with a
    higher ``max_iter``.

    ADAPTIVE SHORT-CIRCUIT: after LSH, the candidate edge list is orders
    of magnitude smaller than the corpus (only near-duplicates produce
    edges). When it fits the driver (``<= collect_threshold`` edges —
    PySpark Row objects cost ~100+ bytes each plus the union-find dicts,
    so the 1M default is ~200-400 MB of driver heap; raise it only with
    driver memory to match), the components are resolved with ONE
    distributed action (collect the edges) + an in-memory union-find +
    one broadcast join back onto the ids — replacing diameter-many
    join/aggregate rounds. Labels are identical (min-root union-find ==
    converged min-label propagation; tests pin it). Pass
    ``collect_threshold=0`` to force the iterative path.
    """
    import warnings

    _persisted = None
    if collect_threshold > 0:
        # ONE action decides and fetches: limit(threshold+1) caps driver
        # memory; exactly threshold+1 rows back means the edge list is too
        # big and the iterative path takes over
        edge_rows = pairs.select("id_a", "id_b").limit(collect_threshold + 1).collect()
        if len(edge_rows) <= collect_threshold:
            mapping = _union_find_labels([(r[0], r[1]) for r in edge_rows])
            spark = ids.sparkSession
            if mapping:
                map_df = spark.createDataFrame(
                    list(mapping.items()), ["doc_id", "_uf_cluster"]
                )
            else:
                map_df = spark.createDataFrame([], "doc_id long, _uf_cluster long")
            return (
                ids.select("doc_id")
                .join(F.broadcast(map_df), "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("_uf_cluster"), F.col("doc_id")).alias(
                        "cluster_id"
                    ),
                )
            )
        # edge list too large to collect: persist it for the loop (whose
        # labels are checkpointed, but whose edge lineage would otherwise
        # recompute the whole LSH pipeline every round)
        _persisted = pairs = pairs.persist()

    if checkpoint_dir is not None:
        ids.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        _ckpt = lambda df: df.checkpoint()  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint()  # noqa: E731
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = _ckpt(ids.select(F.col("doc_id"), F.col("doc_id").alias("cluster_id")))
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = _ckpt(
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("_changed"),
            )
        )
        changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    if _persisted is not None:
        _persisted.unpersist()  # labels are checkpointed; edge cache done
    if changed > 0:
        warnings.warn(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing): clusters may be split; "
            "re-run with a higher max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


# --- SimHash ---

def _simhash_py(toks: list[str]) -> int:
    """32-bit simhash over whitespace tokens; token hash = low 32 bits of
    the 60-bit md5 int (same base hash as minhash)."""
    acc = [0] * SIMHASH_BITS
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) & 0xFFFFFFFF
        for j in range(SIMHASH_BITS):
            acc[j] += 1 if (h >> j) & 1 else -1
    out = 0
    for j in range(SIMHASH_BITS):
        if acc[j] >= 0:
            out |= 1 << j
    return out


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash long). NULL-text docs are excluded (missing data
    is not a dup candidate; the pandas stage would crash on None)."""
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col("doc_id"), F.split(normalized(F.col(text_col)), " ").alias("t")
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("simhash", LongType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [_simhash_py(list(t)) for t in pdf["t"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": vals})

    return toks.mapInPandas(run, schema)


# --- embedding-cosine near-dup ---

def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = "label",
    dim: int | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold. Buckets (e.g. a cluster/label
    column) bound the pairwise work; within-bucket pairs are verified with
    an exact JVM-side cosine (zip_with + aggregate, no Python).

    ``bucket_col=None`` no longer degenerates to an all-pairs cross
    product (O(n²) — fatal at corpus scale): candidates are bucketed by
    random-hyperplane LSH over the vectors themselves
    (similarity.lsh_buckets, ``dim`` must match the embedding width).
    That path is APPROXIMATE — recall < 1 for pairs that straddle a
    hyperplane — so pass an explicit semantic bucket column when exact
    within-bucket recall is required."""
    from .similarity import _as_double, _dot, _norm, lsh_buckets

    v = _as_double(F.col(vec_col))
    if bucket_col is None:
        if dim is None:
            # one-row driver probe: hyperplane weights are a static list,
            # so the vector width must be known before planning
            row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
            # empty input: any dim plans an empty (id_a, id_b, cosine)
            # result instead of crashing on None['d']
            dim = row["d"] if row is not None else 1
        base = lsh_buckets(emb, n_planes=8, dim=dim, id_col=id_col, vec_col=vec_col)
        base = base.select("id", "v", F.col("bucket").alias("bkt"))
    else:
        base = emb.select(
            F.col(id_col).alias("id"), v.alias("v"), F.col(bucket_col).alias("bkt")
        )
    # per-row norm materialized BEFORE the self-join: norms are per-row
    # constants and would otherwise be re-aggregated per candidate pair
    # (B^2 vs B evaluations per bucket); _dot/_norm shared with
    # operators.similarity so the cosine formula has one home
    base = base.withColumn("nrm", _norm(F.col("v")))
    a = base.alias("a")
    b = base.alias("b")
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    return (
        a.join(b, on=F.col("a.bkt") == F.col("b.bkt"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cross_snapshot_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    near: bool = True,
    n: int = 3,
    n_bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """Incremental (cross-snapshot) dedup: keep only the rows of a NEW
    crawl snapshot that are not duplicates of the PREVIOUS snapshot.
    This is the monthly-Common-Crawl move — each dump is 2-3x redundant
    against the previous one, and deduping new-against-old is far
    cheaper than re-deduping the union from scratch (the old corpus was
    already internally deduped; only its *keys* are needed again).

    Two passes, both anti-joins against key sets derived from the old
    snapshot:

      1. EXACT: md5 of normalized text (same fingerprint as
         :func:`exact_duplicates`) — drops byte-for-byte re-crawls.
      2. NEAR (``near=True``): MinHash/LSH band keys from the same
         shuffle-free HOF signature path as the batch and streaming
         dedups (:func:`minhash_signatures_hof` -> :func:`band_keys`);
         a new doc sharing ANY band with ANY old doc is dropped — the
         same s-curve semantics as :func:`lsh_candidate_pairs`, with
         the old snapshot as a static index.

    Scale shape: the old-side key sets are digest/band projections of
    the previous corpus — big, so both anti-joins are uniform-key hash
    shuffles (md5 keys cannot skew); AQE downgrades them to broadcasts
    when the old snapshot is small. No all-pairs path exists. The
    banded index is exactly what the streaming variant
    (streaming/neardup.py) persists incrementally — this operator is
    its batch replay.

    NULL-text rows are missing data, not content: they pass through the
    exact stage unfiltered (md5(NULL) joins nothing) and the HOF
    signature path ignores them, matching the batch dedup convention.

    Returns the surviving rows of ``new_df`` (original columns).
    """
    fp = F.md5(normalized(F.col(text_col)))
    old_fp = (
        old_df.filter(F.col(text_col).isNotNull())
        .select(fp.alias("_fp"))
        .distinct()
    )
    kept = (
        new_df.withColumn("_fp", fp)
        .join(old_fp, "_fp", "left_anti")
        .drop("_fp")
    )
    if not near:
        return kept
    old_bands = (
        band_keys(
            minhash_signatures_hof(old_df, text_col, n), n_bands, rows_per_band
        )
        .select("band_idx", "band_key")
        .distinct()
    )
    new_bands = band_keys(
        minhash_signatures_hof(kept, text_col, n), n_bands, rows_per_band
    )
    near_hit = (
        new_bands.join(old_bands, ["band_idx", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return kept.join(near_hit, "doc_id", "left_anti")


def keep_best_duplicate(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware exact-dedup resolution: within each group of
    byte-identical (normalized) documents keep the HIGHEST-``score_col``
    copy instead of the arbitrary min-id one — the policy real curation
    pipelines want when duplicates differ in provenance metadata (e.g.
    keep the copy from the cleanest snapshot / highest-quality mirror).
    Ties break to the lowest doc_id so the winner is a total order and
    engine-reproducible.

    Returns (doc_id, fp, <score_col>, n_dups) — one row per group, the
    surviving copy, with the group's duplicate count.

    Plan at 100 TB: ONE hash aggregate on the md5 fingerprint (same key
    as :func:`exact_duplicates`) — the argmax is a struct-min
    (min(struct(-score, doc_id)) picks max score, then min id on ties),
    so the whole group collapses in the MAP-SIDE partial and no sort or
    window touches the hot fingerprint (a window formulation carries
    every duplicate through one reducer partition's sort; this carries
    one partial row per map task). Scores must be non-NULL (compose a
    coalesce upstream) — the struct-min tie order is only total on
    non-NULL scores. Composes with any score (quality_score_col,
    linear_quality_score_col, or a provenance rank) as a plain column.
    """
    fp = F.md5(normalized(F.col(text_col)))
    best = F.min(
        F.struct(
            (-F.col(score_col)).alias("neg"),
            F.col("doc_id").alias("doc_id"),
        )
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select("doc_id", F.col(score_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(best.alias("b"), F.count(F.lit(1)).cast("long").alias("n_dups"))
        .select(
            F.col("b.doc_id").alias("doc_id"),
            "fp",
            (-F.col("b.neg")).alias(score_col),
            "n_dups",
        )
    )


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 100,
    sep: str = " ",
) -> DataFrame:
    """Cross-document EXACT substring dedup at aligned token-block
    granularity — the scalable approximation of Lee et al. 2022's
    suffix-array ExactSubstr dedup: the corpus's non-overlapping
    ``block_tokens``-token blocks are hashed corpus-wide and every
    occurrence except the globally FIRST (min (doc_id, block_pos) —
    the repo's standard min-owner rule) is REMOVED FROM THE TEXT.
    MinHash/LSH (:func:`lsh_candidate_pairs`) drops whole near-dup
    documents and ``webtext.repeated_ngram_removal`` trims WITHIN-doc
    repetition; this operator removes the verbatim SPANS that survive
    both — licence blocks, syndicated paragraphs, templated sections
    shared across otherwise-distinct pages.

    Returns (id, text, n_blocks, n_removed): ``text`` is the sep-joined
    surviving blocks in document order, i.e. whitespace-NORMALIZED
    (single separators) — the same canonical form both engines produce,
    so the driver oracle replays it hash-exactly. Empty/null-text docs
    pass through with text '' and zero counts.

    Plan at 100 TB: tokens explode into ceil(L/B) block rows per doc —
    corpus-sized but 1/B of the token volume; ONE exchange on the block
    digest serves the global min-owner window, then the same doc-keyed
    regroup as ``webtext.paragraph_dedup`` reassembles the text. Two
    shuffles total, zero joins, zero Python.
    """
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    nonempty = F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0
    base = df.select(F.col(id_col).alias("id"), toks.alias("_ts"),
                     nonempty.alias("_has"))
    nblk = F.ceil(F.size(F.col("_ts")) / F.lit(block_tokens)).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(1), nblk),
        lambda i: F.array_join(
            F.slice(
                F.col("_ts"),
                (i - 1) * block_tokens + 1,
                F.lit(block_tokens),
            ),
            sep,
        ),
    )
    exploded = base.filter("_has").select(
        "id", F.posexplode(blocks).alias("pos", "blk")
    )
    w = Window.partitionBy(F.md5(F.col("blk"))).orderBy("id", "pos")
    marked = exploded.withColumn("_keep", F.row_number().over(w) == 1)
    out = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "_keep", "blk"))),
                    lambda s: s["_keep"],
                ),
                lambda s: s["blk"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum((~F.col("_keep")).cast("int")).cast("long").alias("n_removed"),
    )
    empty = base.filter(~F.col("_has")).select(
        "id",
        F.lit("").alias("text"),
        F.lit(0).cast("long").alias("n_blocks"),
        F.lit(0).cast("long").alias("n_removed"),
    )
    return out.unionByName(empty)


# ---------------------------------------------------------------------------
# Bloom-filter prefilter for cross-snapshot dedup
# ---------------------------------------------------------------------------

def _bloom_positions(key: Column, m_bits: int, k: int) -> Column:
    """k deterministic bit positions for ``key``: disjoint 8-hex-char
    slices of md5 reduced mod ``m_bits`` (k <= 4 — md5 yields 32 hex
    chars). Engine-portable: no seed, no platform hash."""
    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (md5 provides 4 disjoint slices)")
    h = F.md5(key)
    return F.array(
        *[
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
            % m_bits
            for i in range(k)
        ]
    )


def build_bloom(
    df: DataFrame, key: Column, m_bits: int = 1 << 17, k: int = 4
) -> list[int]:
    """Aggregate a Bloom bitmap of ``key`` over ``df`` as ``m_bits/64``
    packed int64 words — pure DataFrame ops (explode positions ->
    word-keyed bit_or with map-side partials), then ONE bounded collect
    of <= m_bits/64 rows (2^17 bits = 2048 longs = 16 KiB; even a
    2^30-bit filter is 128 MiB, a legal broadcast). This is the
    classical distributed Bloom build: commutative bit_or makes the
    aggregation embarrassingly parallel and mergeable across executors.
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(_bloom_positions(key, m_bits, k)).alias("pos")
    words = (
        df.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (F.col("pos") % 64).cast("int"),
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    arr = [0] * (m_bits // 64)
    for r in words.collect():
        arr[int(r["w"])] = int(r["word"])
    return arr


def bloom_might_contain(
    key: Column, bloom: list[int], k: int = 4
) -> Column:
    """Membership test against a :func:`build_bloom` bitmap shipped as a
    broadcast literal array — true iff ALL k bits are set. No false
    negatives by construction; false-positive rate ~ (1-e^(-k n/m))^k.
    Pure expression (whole-stage codegen): element_at + bitwise AND per
    probe, zero shuffles, zero UDFs."""
    m_bits = len(bloom) * 64
    words = F.lit(bloom)
    return F.forall(
        _bloom_positions(key, m_bits, k),
        lambda p: (
            F.element_at(words, (p / 64).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        ),
    )


def cross_snapshot_dedup_bloom(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 17,
    k: int = 4,
) -> DataFrame:
    """Exact cross-snapshot dedup with a Bloom prefilter — the
    100-TB-scale variant of :func:`cross_snapshot_dedup` (exact stage):
    instead of anti-joining the ENTIRE new crawl against the old
    snapshot's fingerprint set, first probe a Bloom bitmap of the old
    fingerprints (built once, broadcast as a literal array):

      - bloom says ABSENT  -> definitely new, kept with ZERO join work
        (no false negatives);
      - bloom says PRESENT -> maybe-duplicate; only these rows enter the
        exact anti-join, where false positives are weeded out.

    The result is therefore EXACTLY the plain anti-join's output — the
    Bloom never changes semantics, only shrinks the join's fact side
    from |new| to |true dups| + |false positives|. For a monthly crawl
    where 60-70%% of pages are re-crawls the join input still shrinks by
    the new-page fraction; for a mostly-new crawl it shrinks by ~all of
    it. Size ``m_bits`` ~ 10-15 bits/key for ~1%% FP (2^30 bits covers
    ~10^8 keys at 1%%; per-partition region filters or the streaming
    index take over beyond that).

    NULL-text rows pass through unfiltered (missing data, not content —
    same convention as :func:`cross_snapshot_dedup`).

    When to use (measured, BENCH.md): at 500 k new / 150 k old docs on
    one box the prefilter cut the join input 82% (425 k -> 76 k rows)
    but LOST wall time to the plain anti-join — small old sides
    broadcast, and this path scans the new crawl twice (the
    definitely-new branch and the confirm branch) plus once for the
    bitmap build. It wins in the regime the name says: the OLD
    snapshot's key set exceeds broadcast range (so the plain anti-join
    must SHUFFLE the full new crawl) while scans stay cheap —
    then trading two pruned scans for an 80%-smaller shuffle is the
    right side of the ledger. Spark's runtime Bloom join
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) automates the
    same idea non-deterministically; this operator is the explicit,
    engine-portable variant whose output equality is oracle-checked.
    """
    fp = F.md5(normalized(F.col(text_col)))
    old_keys = (
        old_df.filter(F.col(text_col).isNotNull())
        .select(fp.alias("_fp"))
        .distinct()
    )
    bloom = build_bloom(old_keys, F.col("_fp"), m_bits, k)
    probed = new_df.withColumn("_fp", fp).withColumn(
        "_maybe",
        F.when(
            F.col(text_col).isNotNull(),
            bloom_might_contain(F.col("_fp"), bloom, k),
        ).otherwise(F.lit(False)),
    )
    definitely_new = probed.filter(~F.col("_maybe"))
    confirmed = probed.filter(F.col("_maybe")).join(
        old_keys, "_fp", "left_anti"
    )
    return definitely_new.unionByName(confirmed).drop("_fp", "_maybe")


def cluster_canonical(assign: DataFrame, score_col: str) -> DataFrame:
    """Resolve NEAR-dup clusters to their best member: given a
    (doc_id, cluster_id) assignment (:func:`connected_components`
    output) joined with a per-doc quality score, keep the
    argmax-``score_col`` member per cluster (tie -> min doc_id) — the
    near-dup counterpart of :func:`keep_best_duplicate`, and the policy
    FineWeb-style pipelines want when near-duplicates differ in
    extraction quality (keep the cleanest rendering, drop the rest).

    Input columns: (doc_id, cluster_id, <score_col>). Returns
    (cluster_id, doc_id, <score_col>, n_members).

    Plan at scale: ONE hash aggregate on cluster_id — argmax as a
    struct-min (max score, min id on ties) with map-side partial
    combine, no sort/window on the hot cluster (same rewrite as
    :func:`keep_best_duplicate`; scores must be non-NULL). Output one
    row per cluster. Composes after the MinHash -> LSH ->
    connected-components chain without touching it.
    """
    best = F.min(
        F.struct(
            (-F.col(score_col)).alias("neg"),
            F.col("doc_id").alias("doc_id"),
        )
    )
    return (
        assign.groupBy("cluster_id")
        .agg(
            best.alias("b"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("b.doc_id").alias("doc_id"),
            (-F.col("b.neg")).alias(score_col),
            "n_members",
        )
    )


def dup_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 100,
) -> DataFrame:
    """Corpus duplication PROFILE — the one-row report a curation run
    records before/after dedup (how much verbatim repetition does this
    corpus carry?), over the same aligned token-block digests
    :func:`block_dedup` removes: ``n_docs`` (all rows, empty included),
    ``n_blocks`` (total block occurrences), ``n_distinct_blocks``,
    ``n_dup_occurrences`` (occurrences beyond each block's first —
    exactly the blocks block_dedup would strip), ``dup_block_frac``
    (6 dp) and ``max_block_df`` (the most-repeated block's count; 0 on
    an all-empty corpus).

    Plan at 100 TB: one digest-keyed count (map-side combine) collapsed
    by a single-row aggregate, cross-joined with the 1-row doc count —
    the repo's standard 1-row-broadcast scalar pattern. No windows, no
    text reassembly: strictly cheaper than running block_dedup to
    measure what it would do."""
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    nonempty = F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0
    nblk = F.ceil(F.size(toks) / F.lit(block_tokens)).cast("int")
    blocks = F.when(nonempty, F.transform(
        F.sequence(F.lit(1), nblk),
        lambda i: F.array_join(
            F.slice(toks, (i - 1) * block_tokens + 1, F.lit(block_tokens)),
            " ",
        ),
    )).otherwise(F.array().cast("array<string>"))
    exploded = df.select(F.explode(blocks).alias("blk"))
    counts = exploded.groupBy(F.md5(F.col("blk")).alias("digest")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    block_stats = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_blocks"),
        F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long")
        .alias("n_dup_occurrences"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_block_df"),
    )
    docs = df.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return docs.crossJoin(F.broadcast(block_stats)).select(
        "n_docs",
        "n_blocks",
        "n_distinct_blocks",
        "n_dup_occurrences",
        F.round(
            F.col("n_dup_occurrences")
            / F.greatest(F.col("n_blocks"), F.lit(1)),
            6,
        ).alias("dup_block_frac"),
        "max_block_df",
    )
