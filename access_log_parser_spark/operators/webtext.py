"""Web-text curation operators for LLM training-data pipelines.

The reference parses web-served access logs; the 100-TB deployment in
BASELINE.json processes the *pages themselves* (Common-Crawl-style). This
module adds the curation stages such a pipeline runs between parse and
training-shard write — all JVM-side Catalyst expressions or equi-joins,
no Python in the hot path, every operator oracle-backed via the driver
contract:

- :func:`pii_redact` — regex scrubbing of emails / IPv4s / intl phone
  numbers (expression-only, one projection).
- :func:`repetition_signals` — Gopher-style within-document repetition
  ratios (duplicate word / n-gram fractions, top-word fraction) computed
  with array higher-order functions per row: NO explode, NO shuffle.
- :func:`paragraph_dedup` / :func:`paragraph_dedup_exploded` —
  RefinedWeb-style corpus-wide exact paragraph dedup: explode, keep the
  globally-first occurrence of each paragraph digest, reassemble
  documents in order. One shuffle on the digest + one on doc_id.
- :func:`host_suffix_filter` — URL blocklist filtering with registrable-
  suffix semantics via suffix explosion + broadcast EQUI-join (never a
  LIKE-based nested-loop join).
- :func:`contamination_flags` — benchmark n-gram overlap (decontamination
  check): distinct benchmark shingles broadcast against corpus shingles.
- :func:`normalize_url` / :func:`url_dedup_first` — crawl-frontier URL
  canonicalization (idempotent) + first-occurrence dedup.
- :func:`c4_line_filter` / :func:`gopher_quality` — the C4 and Gopher
  heuristic batteries, within-row HOFs.
- :func:`html_to_text` — script/style/tag strip + entity decode for the
  pages table's ``html:binary`` payload.
- :func:`lsh_verified_pairs` (in dedup.py) composes with these for the
  full curation flow; :func:`pipeline.curate_corpus` chains them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import normalized, shingles

# Cross-engine-safe patterns (Java regex AND RE2/DuckDB agree): no
# backreferences, no lookaround, explicit character classes.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9]{7,15}"


def pii_redact_col(text) -> F.Column:
    """PII-scrubbed text as ONE Column expression (emails -> <EMAIL>,
    IPv4 -> <IP>, +phones -> <PHONE>) — compose into an existing
    projection with no join-back."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )


def pii_redact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub common PII: emails -> <EMAIL>, IPv4 -> <IP>, international
    phone numbers (+digits) -> <PHONE>. Counts use the pre-redaction
    text. Pure expression chain — scales as a projection."""
    t = F.col(text_col)
    clean = pii_redact_col(t)
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
    )


def _grams(toks, n: int):
    """All word n-grams (non-distinct, in order) of a token array."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) >= n, F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )).otherwise(F.array().cast("array<string>"))


def _rep_tokens(text, max_tokens: int | None):
    toks = F.split(normalized(text), " ")
    if max_tokens is not None:
        toks = F.slice(toks, 1, max_tokens)
    return toks


def _frac_dup(arr):
    # empty gram list (doc shorter than n) counts as no repetition
    return F.when(F.size(arr) == 0, F.lit(0.0)).otherwise(
        F.round(
            1.0 - F.size(F.array_distinct(arr)).cast("double")
            / F.size(arr).cast("double"),
            6,
        )
    )


def dup_word_frac_col(text, max_tokens: int | None = None) -> F.Column:
    """The Gopher duplicate-word fraction as ONE Column expression —
    identical values to ``repetition_signals(...).dup_word_frac``, for
    composing a repetition gate as a projection with no join-back."""
    return _frac_dup(_rep_tokens(text, max_tokens))


def rep_token_count_col(text, max_tokens: int | None = None) -> F.Column:
    """``repetition_signals(...).n_tokens`` as ONE Column expression."""
    return F.size(_rep_tokens(text, max_tokens))


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int | None = None,
) -> DataFrame:
    """Gopher-style repetition ratios, all within-row (array HOFs — no
    explode, no shuffle, embarrassing parallelism at any corpus size):

    - ``dup_word_frac``   1 - |distinct words| / |words|
    - ``dup_2gram_frac``  1 - |distinct 2-grams| / |2-grams|
    - ``dup_3gram_frac``  1 - |distinct 3-grams| / |3-grams|
    - ``top_word_frac``   occurrences of the most frequent word / |words|

    Ratios are rounded to 6 dp for cross-engine comparability. The
    top-word scan is O(distinct·n) per row; ``max_tokens`` bounds it on
    pathological giant documents by scoring only the first N tokens
    (the Gopher-style cap real quality pipelines apply anyway) —
    ``n_tokens`` then reports the truncated count.
    """
    toks = _rep_tokens(F.col(text_col), max_tokens)
    nt = F.size(toks)
    frac_dup = _frac_dup

    top_count = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda x: x == w)),
        )
    )
    return df.select(
        F.col(id_col),
        nt.alias("n_tokens"),
        frac_dup(toks).alias("dup_word_frac"),
        frac_dup(_grams(toks, 2)).alias("dup_2gram_frac"),
        frac_dup(_grams(toks, 3)).alias("dup_3gram_frac"),
        F.round(
            top_count.cast("double") / F.greatest(nt, F.lit(1)).cast("double"), 6
        ).alias("top_word_frac"),
    )


def paragraph_dedup_exploded(paras: DataFrame) -> DataFrame:
    """Corpus-wide exact paragraph dedup over an exploded
    (doc_id, pos, para) frame: each distinct paragraph digest survives
    only at its globally-first occurrence (ordered by doc_id, then pos —
    deterministic, engine-independent). Returns the surviving rows.

    The window partitions by the md5 digest: one shuffle on the digest,
    bounded state per key — the 100-TB plan. (The raw paragraph string
    rides along only to be re-emitted; the comparison key is the hash.)
    """
    digest = F.md5(F.col("para"))
    w = Window.partitionBy(digest).orderBy(F.col("doc_id"), F.col("pos"))
    return (
        paras.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Split documents into paragraphs on ``sep``, drop every paragraph
    whose exact text already occurred earlier in the corpus (first
    occurrence wins, RefinedWeb-style), and reassemble the survivors in
    original order. Documents whose paragraphs were all duplicates come
    back with empty text. Two shuffles: digest window + doc_id regroup —
    and NO join: instead of filtering dropped paragraphs out (which
    would lose all-duplicate docs and force a re-attach join against a
    second read of ``df``), survivors are MARKED and the regroup keeps
    every doc, joining only the marked paragraphs back into text. That
    also keeps the input lineage single-use, so ``df.observe`` metrics
    upstream are not duplicated into a self-join.

    ``carry`` names extra per-doc columns (constant per doc, e.g. url)
    to ride through the regroup."""
    digest = F.md5(F.col("para"))
    w = Window.partitionBy(digest).orderBy(F.col("doc_id"), F.col("pos"))
    # coalesce: split(NULL) is NULL and posexplode over NULL emits no
    # rows, which would silently DROP null-text docs from the regroup and
    # break the "keeps every doc" guarantee; '' splits to [''] and the
    # doc comes back with empty text like any all-duplicate doc.
    marked = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in carry],
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), F.lit(sep))
        ).alias("pos", "para"),
    ).withColumn("_keep", F.row_number().over(w) == 1)
    return marked.groupBy("doc_id").agg(
        *[F.first(c).alias(c) for c in carry],
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "para", "_keep"))),
                    lambda s: s["_keep"],
                ),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text"),
    )


def boilerplate_line_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_docs: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Drop per-host boilerplate lines (CCNet/RefinedWeb-style): a line
    whose exact text appears in ``min_docs`` or more DISTINCT documents
    of the same group (host/source) is navigation/footer chrome, not
    content — remove it from every document of that group, keep the
    remaining lines in order. For CORPUS-GLOBAL line dedup (CCNet's
    cross-shard variant) pass a constant group column
    (``df.withColumn("source", F.lit(""))``): the exchange key is
    (group, digest), so a constant group still hash-partitions by the
    high-cardinality digest — no skew is introduced.

    Scale shape: explode to (group, line-digest, doc, pos); ONE exchange
    on (group, digest) serves both windows — a ``lag(doc_id)``
    first-in-doc flag (rows of a doc are adjacent under the
    (doc_id, pos) sort) and the partition-wide sum of those flags, which
    IS the distinct-doc count without a groupBy+join-back; then the same
    marked-regroup as :func:`paragraph_dedup` (no join, every doc comes
    back, all-boilerplate docs with empty text). Two shuffles total, the
    minimum for a corpus-wide signal + per-doc reassembly.
    """
    digest = F.md5(F.col("line"))
    w_run = Window.partitionBy(F.col("group"), digest).orderBy("doc_id", "pos")
    w_all = Window.partitionBy(F.col("group"), digest)
    first_in_doc = (
        F.lag("doc_id").over(w_run).isNull()
        | (F.lag("doc_id").over(w_run) != F.col("doc_id"))
    ).cast("int")
    marked = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(group_col).alias("group"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), F.lit(sep))
            ).alias("pos", "line"),
        )
        .withColumn("_first", first_in_doc)
        .withColumn("_n_docs", F.sum("_first").over(w_all))
        .withColumn("_keep", F.col("_n_docs") < min_docs)
    )
    return marked.groupBy("doc_id").agg(
        F.first("group").alias(group_col),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "line", "_keep"))),
                    lambda s: s["_keep"],
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text"),
    )


def host_of(url_col) -> F.Column:
    """scheme://host[/...] -> host (cross-engine regexp_extract)."""
    return F.regexp_extract(url_col, r"^[a-z]+://([^/]+)", 1)


def host_suffix_filter(
    df: DataFrame, blocked: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Drop rows whose URL host matches a blocklist entry exactly OR is a
    subdomain of one (``a.b.c`` is blocked by ``b.c`` and ``a.b.c``).

    Scale shape: the host explodes into its dot-suffixes (``a.b.c`` ->
    [a.b.c, b.c, c] — bounded by label count, ~4), which equi-join
    against the broadcast blocklist; a LIKE '%.domain' condition would
    force a nested-loop join instead. ``blocked`` has one ``domain``
    column. Returns the surviving rows unchanged."""
    host = host_of(F.col(url_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n), "."),
    )
    exploded = df.select(F.col(url_col), F.explode(suffixes).alias("_suffix"))
    blocked_urls = (
        exploded.join(
            F.broadcast(blocked.withColumnRenamed("domain", "_suffix")), "_suffix"
        )
        .select(F.col(url_col))
        .distinct()
    )
    return df.join(blocked_urls, on=url_col, how="left_anti")


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-overlap decontamination check: count, per corpus doc,
    the distinct word n-grams it shares with ANY benchmark document.
    Benchmark shingles are distinct-ed then broadcast (benchmarks are
    tiny next to a training corpus); corpus-side work is one explode and
    a map-side hash join — no shuffle of the corpus."""
    bench_grams = (
        benchmark.select(
            F.explode(shingles(F.col(text_col), n)).alias("gram")
        ).distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated_grams"))
    )


def normalize_url(url_col) -> F.Column:
    """Crawl-style URL canonicalization as a pure expression chain:
    strip the fragment, lowercase scheme://host, drop default ports
    (:80 http / :443 https), collapse duplicate slashes in the path,
    and strip one trailing slash (the bare root keeps its ``/``).

    RE2-safe construction (no lookaround, so the DuckDB oracle can apply
    the byte-identical chain): the URL is split into head
    (``scheme://host[:port]``) and path once, each part normalized
    independently, then re-joined.
    """
    nofrag = F.regexp_replace(url_col, r"#.*$", "")
    raw_head = F.regexp_extract(nofrag, r"^([a-zA-Z]+://[^/]*)", 1)
    head = F.lower(raw_head)
    head = F.when(
        head.startswith("https://"), F.regexp_replace(head, r":443$", "")
    ).when(
        head.startswith("http://"), F.regexp_replace(head, r":80$", "")
    ).otherwise(head)
    path = nofrag.substr(F.length(raw_head) + 1, F.length(nofrag))
    path = F.regexp_replace(path, r"//+", "/")   # collapse runs
    path = F.regexp_replace(path, r"(.)/$", "$1")  # one trailing slash
    return F.concat(head, path)


def surt_key(url_col) -> F.Column:
    """SURT (Sort-friendly URI Reordering Transform) key of a URL — the
    canonical key of web-archive indexes (Internet Archive / Common
    Crawl CDX): ``org,example)/path?a=1``. Built on :func:`normalize_url`
    then: scheme dropped, one leading ``www.`` label stripped, host
    labels reversed and comma-joined, non-default port kept as
    ``:port``, empty path becomes ``/``, query parameters sorted
    byte-wise so equivalent URLs collide. Pure RE2-safe expression
    chain, pinned by a CLOSED-FORM DuckDB oracle (independent expected
    values per URL shape, not a regex replay); grammar subset: absolute
    http(s) URLs, no userinfo, percent-encoding left untouched.

    SURT keys sort hosts hierarchically (all of ``example.org`` is one
    contiguous key range), which is exactly the locality a 100 TB index
    wants: range-partitioned writes on the SURT key put each site in
    few partitions and make per-site scans partition-prunable.
    """
    norm = normalize_url(url_col)
    rest = F.regexp_replace(norm, r"^[a-z]+://", "")
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    path_q = rest.substr(F.length(hostport) + 1, F.length(rest))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":\d+$", ""), r"^www\.", ""
    )
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    base = F.regexp_extract(path_q, r"^([^?]*)", 1)
    sorted_q = F.array_join(
        F.array_sort(F.split(F.regexp_replace(path_q, r"^[^?]*\?", ""), "&")),
        "&",
    )
    return F.concat(
        rev,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        F.lit(")"),
        F.when(base == "", F.lit("/")).otherwise(base),
        F.when(path_q.contains("?"), F.concat(F.lit("?"), sorted_q)).otherwise(
            F.lit("")
        ),
    )


def url_dedup_first(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Keep the first row (by ``id_col``) per NORMALIZED url — the crawl
    frontier's dedup. One shuffle on the normalized-url hash."""
    norm = normalize_url(F.col(url_col))
    w = Window.partitionBy(norm).orderBy(F.col(id_col))
    return (
        df.withColumn("norm_url", norm)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def c4_kept_lines_col(text, min_words: int = 3, sep: str = "\n") -> F.Column:
    """The C4-surviving lines of a text column as ONE array<string>
    Column — compose line cleaning as a projection (materialize the
    array once, then derive the re-joined text and the kept-count from
    it) with no join-back."""
    return F.filter(
        F.split(text, F.lit(sep)),
        lambda ln: ln.rlike('[.!?"]\\s*$')
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    min_lines: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """C4-style line-level cleaning, entirely within-row (array HOFs, no
    explode, no shuffle): keep only lines that END IN TERMINAL
    PUNCTUATION (. ! ? ") and have at least ``min_words`` whitespace
    words; drop the whole document when fewer than ``min_lines`` lines
    survive. Returns (id, text=kept lines re-joined, n_lines_kept,
    n_lines_dropped)."""
    lines = F.split(F.col(text_col), F.lit(sep))
    kept = c4_kept_lines_col(F.col(text_col), min_words=min_words, sep=sep)
    n_kept = F.size(kept)
    return (
        df.select(
            F.col(id_col),
            F.array_join(kept, sep).alias("text"),
            n_kept.alias("n_lines_kept"),
            (F.size(lines) - n_kept).alias("n_lines_dropped"),
        )
        .filter(F.col("n_lines_kept") >= min_lines)
    )


def _gopher_exprs(t, stopwords: tuple[str, ...]) -> dict[str, F.Column]:
    """The Gopher signal expressions over a text column — shared by the
    frame-returning :func:`gopher_quality` and the column-returning
    :func:`gopher_passes_col`."""
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != "")
    nw = F.size(words)
    nw_d = F.greatest(nw, F.lit(1)).cast("double")
    mean_len = F.round(
        F.aggregate(
            words, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
        ) / nw_d,
        6,
    )
    n_hash = F.size(F.split(t, "#", -1)) - 1
    n_ellipsis = F.size(F.split(t, r"\.\.\.", -1)) - 1
    symbol_ratio = F.round((n_hash + n_ellipsis).cast("double") / nw_d, 6)
    lines = F.split(t, "\n")
    nl_d = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = F.round(
        F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
        ).cast("double") / nl_d,
        6,
    )
    ellipsis_frac = F.round(
        F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike(r"\.\.\.$"))
        ).cast("double") / nl_d,
        6,
    )
    alpha_frac = F.round(
        F.size(
            F.filter(words, lambda w: w.rlike("[A-Za-z]"))
        ).cast("double") / nw_d,
        6,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, F.lower), F.array(*[F.lit(w) for w in stopwords])
        )
    )
    return {
        "n_words": nw,
        "mean_word_len": mean_len,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "stopword_hits": stop_hits,
    }


def gopher_passes_col(
    text,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with"),
) -> F.Column:
    """The Gopher-battery pass/fail verdict as ONE boolean Column —
    identical semantics to ``gopher_quality(...).passes``, for composing
    the gate as a filter with no join-back."""
    e = _gopher_exprs(text, stopwords)
    return (
        (e["n_words"] >= min_words)
        & (e["n_words"] <= max_words)
        & (e["mean_word_len"] >= min_mean_word_len)
        & (e["mean_word_len"] <= max_mean_word_len)
        & (e["symbol_word_ratio"] <= max_symbol_word_ratio)
        & (e["bullet_line_frac"] <= max_bullet_line_frac)
        & (e["ellipsis_line_frac"] <= max_ellipsis_line_frac)
        & (e["alpha_word_frac"] >= min_alpha_word_frac)
        & (e["stopword_hits"] >= min_stopword_hits)
    )


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with"),
) -> DataFrame:
    """Gopher-rule quality signals (Rae et al. 2021 §A1.1 heuristics),
    computed entirely within-row (array HOFs — no explode, no shuffle):

    - ``n_words`` and the [min_words, max_words] gate
    - ``mean_word_len`` in [3, 10]
    - ``symbol_word_ratio``: '#' or '...' occurrences per word, <= 0.1
    - ``bullet_line_frac``: lines starting with a bullet, <= 0.9
    - ``ellipsis_line_frac``: lines ending with '...', <= 0.3
    - ``alpha_word_frac``: words containing a letter, >= 0.8
    - ``stopword_hits``: distinct members of the 8-word English stopword
      list present, >= 2 (the Gopher "contains at least two of..." rule)
    - ``passes``: the conjunction

    Ratios round to 6 dp for cross-engine oracle equality.
    """
    e = _gopher_exprs(F.col(text_col), stopwords)
    out = df.select(
        F.col(id_col),
        e["n_words"].alias("n_words"),
        e["mean_word_len"].alias("mean_word_len"),
        e["symbol_word_ratio"].alias("symbol_word_ratio"),
        e["bullet_line_frac"].alias("bullet_line_frac"),
        e["ellipsis_line_frac"].alias("ellipsis_line_frac"),
        e["alpha_word_frac"].alias("alpha_word_frac"),
        e["stopword_hits"].alias("stopword_hits"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return out.withColumn("passes", passes)


def html_to_text(df: DataFrame, html_col: str = "html", id_col: str = "doc_id") -> DataFrame:
    """Crude-but-honest HTML -> text extraction for the pages table's
    ``html:binary`` column, as a pure expression chain (RE2-safe — the
    DuckDB oracle applies the identical regexes):

    1. decode utf-8
    2. drop <script>/<style> blocks ((?is) dot-all, non-greedy)
    3. strip remaining tags -> space
    4. decode the 6 basic entities (&amp; last, so &amp;lt; stays &lt;)
    5. collapse whitespace, trim

    A production pipeline swaps in a real extractor (trafilatura/
    resiliparse) behind the same (id, text) contract; every downstream
    operator in this module consumes the result unchanged."""
    return df.select(
        F.col(id_col), html_text_col(F.col(html_col)).alias("text")
    )


def html_text_col(html_col) -> F.Column:
    """The :func:`html_to_text` expression chain as a reusable Column —
    shared with :func:`~access_log_parser_spark.sources.warc.warc_to_wet`
    so the WARC->WET conversion and the pages-table extraction stay
    character-identical (one chain, one oracle replay)."""
    t = F.decode(html_col, "utf-8")
    t = F.regexp_replace(t, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


# --- Corpus-wide repeated-substring (n-gram span) removal -------------------

GRAM_SEP = "\x1f"  # unit separator: cannot occur inside a whitespace token


def repeated_ngram_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Remove token spans that repeat across the corpus (the substring-
    level dedup of "Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2022, at token-n-gram granularity): any token
    covered by an n-gram occurring in >= ``min_docs`` DISTINCT documents
    is boilerplate/duplicated text — drop it from every document, keep
    the remaining tokens in order. Unlike document-level MinHash dedup
    (dedup.py) this removes the duplicated *span* while keeping each
    document's unique remainder.

    Returns (doc_id, n_tokens, n_removed, text).

    Scale shape: grams are built per row with HOFs (sequence + slice —
    no self-join against shifted copies); the corpus-wide distinct-doc
    count per gram is a lag-flag + window sum on ONE (digest) exchange
    (same trick as :func:`boilerplate_line_removal` — no groupBy +
    join-back); covered token positions regroup per doc (second
    exchange) and rebuild joins doc-keyed (third). Duplicated-gram
    occurrences explode n-fold only AFTER the >= min_docs filter, so the
    blow-up is bounded by the duplicated fraction, not the corpus. The
    per-token rebuild membership test is array_contains over the doc's
    covered set — O(k) per token; for pathological docs where k is huge,
    pre-sorting the set and binary search (array_position on a sorted
    array) is the deploy-time refinement.
    """
    from .text_quality import tokens

    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("_toks") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - n),
                    lambda i: F.md5(F.concat_ws(GRAM_SEP, F.slice("_toks", i + 1, n))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gpos", "digest"),
    )
    w_run = Window.partitionBy("digest").orderBy("doc_id", "gpos")
    w_all = Window.partitionBy("digest")
    first_in_doc = (
        F.lag("doc_id").over(w_run).isNull()
        | (F.lag("doc_id").over(w_run) != F.col("doc_id"))
    ).cast("int")
    covered = (
        grams.withColumn("_n_docs", F.sum(first_in_doc).over(w_all))
        .filter(F.col("_n_docs") >= min_docs)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("gpos"), F.col("gpos") + (n - 1))).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_cov"))
    )
    joined = base.join(covered, "doc_id", "left").withColumn(
        "_cov", F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("_toks"), lambda t, i: ~F.array_contains(F.col("_cov"), i.cast("int"))
    )
    return joined.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size("_cov").cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text"),
    )


# --- Luhn-validated payment-card detection ----------------------------------

CARD_RE = r"\b(?:[0-9][ -]?){12,18}[0-9]\b"


def luhn_valid_col(digits) -> F.Column:
    """True iff the all-digit string passes the Luhn checksum — pure
    aggregate expression (whole-stage codegen, no UDF): walk positions
    from the right, double every second digit, subtract 9 when > 9,
    total % 10 == 0."""
    d = F.lit(digits) if isinstance(digits, str) else digits
    ln = F.length(d)
    digit_at = lambda i: F.ascii(F.substring(d, (ln - i + 1).cast("int"), 1)) - 48
    term = lambda i: F.when(
        i % 2 == 0,
        F.when(digit_at(i) * 2 > 9, digit_at(i) * 2 - 9).otherwise(digit_at(i) * 2),
    ).otherwise(digit_at(i))
    checksum = F.aggregate(
        F.sequence(F.lit(1), ln), F.lit(0), lambda acc, i: acc + term(i)
    )
    return (ln >= 13) & ((checksum % 10) == 0)


def card_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document payment-card PII signal: count card-shaped digit runs
    (13-19 digits, optional space/dash separators) and how many pass the
    Luhn checksum — the standard false-positive gate that separates real
    PANs from order numbers and phone strings. Pure projection: regex
    candidate extraction + HOF Luhn filter, no shuffle, composes into
    the curation gate battery like the other ``*_col`` signals.

    Returns (doc_id, n_candidates, n_luhn_valid).
    """
    cands = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(CARD_RE), 0
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(cands).cast("long").alias("n_candidates"),
        card_luhn_count_col(F.col(text_col)).alias("n_luhn_valid"),
    )


def card_luhn_count_col(text) -> F.Column:
    """Count of Luhn-valid card-shaped digit runs — column variant for
    projection-composed curation gates (drop docs with real PANs)."""
    cands = F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(CARD_RE), 0)
    valid = F.filter(
        cands, lambda s: luhn_valid_col(F.regexp_replace(s, r"[^0-9]", ""))
    )
    return F.size(valid).cast("long")


def domain_quality_filter(
    df: DataFrame,
    key_col: str = "source",
    text_col: str = "text",
    min_mean_x1e4: int = 4500,
    min_docs: int = 20,
) -> DataFrame:
    """Domain-level quality gate — the crawl-curation move that per-row
    filters cannot express: score every document, aggregate per domain
    (here ``key_col``; on real crawl data, the registered host from
    :func:`host_of`), and drop EVERY doc from domains whose mean score
    is below threshold or whose sample is too small to trust. This is
    how spam/SEO farms leave a corpus — whole domains at a time, not
    row by row (FineWeb/RefinedWeb publish exactly this shape of rule).

    Engine-exact by construction: scores are the 4-dp classifier output
    scaled to integers (``round(score*1e4)``), and the mean threshold is
    evaluated as the cross-multiplied integer inequality
    ``sum_score_x1e4 >= min_mean_x1e4 * n_docs`` — no float division,
    so the keep/drop verdict cannot drift between engines.

    Scale shape: one shuffle for the per-domain aggregate (map-side
    partial over |domains| keys), then the verdict table — bounded by
    the number of domains, thousands-of-rows tiny against a 100 TB
    corpus — broadcasts back for a hash equi-join. No corpus-sized
    shuffle on the join side; AQE would pick the broadcast anyway at
    these sizes, we pin it explicitly.

    Returns the surviving rows of ``df`` plus their ``score_x1e4``.
    """
    from .text_quality import linear_quality_score_col

    scored = df.withColumn(
        "score_x1e4",
        F.round(linear_quality_score_col(F.col(text_col)) * 10000).cast("long"),
    )
    stats = scored.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("score_x1e4").alias("_sum"),
    )
    good = stats.filter(
        (F.col("_n") >= min_docs)
        & (F.col("_sum") >= F.lit(min_mean_x1e4) * F.col("_n"))
    ).select(key_col)
    return scored.join(F.broadcast(good), key_col, "inner")


def host_frequency_cap(
    df: DataFrame,
    key_col: str = "source",
    k: int = 30,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-host document-frequency cap — keep at most ``k`` documents per
    host/domain. Web crawls are power-law skewed (a handful of hosts
    contribute millions of near-identical template pages); capping the
    per-host contribution is the standard pre-training rebalancing move
    (FineWeb and RefinedWeb both publish per-domain caps alongside the
    domain-mean quality gate in :func:`domain_quality_filter`).

    The pick within a host is CONTENT-ADDRESSED, not crawl-ordered:
    rows rank by ``(md5(id), id)``, a deterministic pseudo-random
    shuffle, so the survivors are an unbiased sample of the host's pages
    rather than "whatever the crawler fetched first". md5-of-id is
    engine-reproducible, so the driver oracle replays the exact pick.

    Scale shape: ONE hash-partition exchange on the host key + an
    in-partition window sort (row_number, no full global sort). The hot
    hosts that motivate the cap are exactly the skewed partitions — at
    a 10^12-row scale the rank cutoff drops rows as they stream through
    the window, and AQE skew-split keeps a mega-host from pinning one
    task.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_hfc_rk", F.row_number().over(w))
        .filter(F.col("_hfc_rk") <= k)
        .drop("_hfc_rk")
    )


# Classic UTF-8-read-as-Latin-1 mojibake digraphs: the UTF-8 lead byte
# 0xC3/0xC2 decoded as 'Ã'/'Â', and the Windows-1252 rendering
# of the smart-quote/dash family ('â€™', ...). Spelled as
# literal alternations (no classes, no metachars) so the Java-regex and
# RE2 readings are identical; the bare two-char 'â€' prefix is
# deliberately LAST so the longer digraphs win first-match.
MOJIBAKE_RE = (
    "Ã©|Ã¨|Ã¡|Ã¤|Ã¶"
    "|Ã¼|Ã±|Ã³|Ãº|Ã§"
    "|Ã |â€™|â€˜"
    "|â€œ|â€“|â€”"
    "|â€¦|Â·|Â°|Â®"
    "|Â©|â€"
)

# C0 control characters that never belong in prose (tab/newline/CR
# excluded). Hex escapes parse identically under Java regex and RE2.
CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"

REPLACEMENT_CHAR = "�"


def encoding_signal_cols(text) -> dict[str, F.Column]:
    """Column bundle of encoding-noise signals for a text column — the
    ftfy-lite battery a crawl pipeline runs before any language or
    quality model sees the bytes:

    - ``n_replacement``: U+FFFD replacement characters (a decoder already
      gave up upstream — the strongest single corruption signal);
    - ``n_control``: C0 control characters other than tab/newline/CR
      (binary-in-text, terminal escapes, truncated multibyte runs);
    - ``n_mojibake``: classic UTF-8-decoded-as-Latin-1 digraphs
      ('Ã©', 'â€™', ...) — text that *decoded*
      fine but through the wrong codec.

    All three are ``regexp_count`` projections: JVM-side, zero shuffle,
    composable into the curation gate battery like every other
    ``*_col`` signal. Counting (not boolean) keeps thresholds tunable
    downstream — one stray artifact shouldn't kill a document, a
    hundred should.
    """
    t = F.coalesce(text, F.lit(""))
    return {
        "n_replacement": F.regexp_count(t, F.lit(REPLACEMENT_CHAR)).cast("long"),
        "n_control": F.regexp_count(t, F.lit(CONTROL_RE)).cast("long"),
        "n_mojibake": F.regexp_count(t, F.lit(MOJIBAKE_RE)).cast("long"),
    }


def encoding_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_noise: int = 0,
) -> DataFrame:
    """Per-document encoding-noise report + keep verdict: a document is
    ``enc_clean`` when its total noise count (replacement + control +
    mojibake) is at or below ``max_noise``. Pure projection — one scan,
    no shuffle, no Python.

    Returns (doc_id, n_replacement, n_control, n_mojibake, enc_clean).
    """
    sig = encoding_signal_cols(F.col(text_col))
    total = sig["n_replacement"] + sig["n_control"] + sig["n_mojibake"]
    return df.select(
        F.col(id_col).alias("doc_id"),
        sig["n_replacement"].alias("n_replacement"),
        sig["n_control"].alias("n_control"),
        sig["n_mojibake"].alias("n_mojibake"),
        (total <= F.lit(max_noise)).alias("enc_clean"),
    )


# Soft URL-spam lexicon (public-knowledge adult/gambling/pharma tokens, the
# UT1/FineWeb-style URL filtering move). Weights are integers so the score
# is integer-exact across engines.
URL_SPAM_TERMS: list[tuple[str, int]] = [
    ("porn", 5),
    ("xxx", 4),
    ("casino", 4),
    ("viagra", 5),
    ("lottery", 3),
    ("escort", 4),
    ("poker", 3),
    ("adult", 2),
    ("webcam", 2),
    ("pills", 2),
]


def url_spam_score(
    df: DataFrame,
    url_col: str = "url",
    threshold: int = 5,
    terms: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Soft (weighted-lexicon) URL spam scoring — the URL-level filter
    FineWeb/RefinedWeb run before fetching or keeping a page: each
    lexicon term contributes ``weight x occurrences`` in the lowercased
    URL, plus two structural signals spam URLs over-index on — a
    digit-heavy host (>30% digits scores 2) and a hyphen-stuffed host
    (>= 3 '-' scores 2). ``is_spam`` = score >= threshold.

    Complements :func:`host_suffix_filter` (the HARD blocklist): the
    soft score catches hosts no list has seen yet. Returns
    (doc_id, url, spam_score, is_spam).

    Plan at 100 TB: pure per-row projection (regexp_count + length
    arithmetic, whole-stage codegen) — zero shuffles, composes into any
    curation gate as a column.
    """
    terms = URL_SPAM_TERMS if terms is None else terms
    u = F.lower(F.coalesce(F.col(url_col), F.lit("")))
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/:?#]*)", 1)
    score = F.lit(0)
    for term, weight in terms:
        score = score + F.lit(weight) * F.regexp_count(u, F.lit(term))
    host_len = F.greatest(F.length(host), F.lit(1))
    digit_frac = F.regexp_count(host, F.lit(r"[0-9]")) / host_len
    score = score + F.when(digit_frac > 0.3, F.lit(2)).otherwise(F.lit(0))
    score = score + F.when(
        F.regexp_count(host, F.lit("-")) >= 3, F.lit(2)
    ).otherwise(F.lit(0))
    return df.select(
        "doc_id",
        F.col(url_col).alias("url"),
        score.cast("long").alias("spam_score"),
        (score >= F.lit(threshold)).alias("is_spam"),
    )


# Robots-meta extraction patterns (shared verbatim with the DuckDB oracle;
# the page html is lowercased first, so no case flags — RE2-safe: no
# backrefs, no lookaround). Both attribute orders are handled.
ROBOTS_CONTENT_RE = (
    r'<meta\s[^>]*name\s*=\s*["\x27]?robots["\x27]?[^>]*'
    r'content\s*=\s*["\x27]([^"\x27>]*)'
)
ROBOTS_CONTENT_FIRST_RE = (
    r'<meta\s[^>]*content\s*=\s*["\x27]([^"\x27>]*)["\x27][^>]*'
    r'name\s*=\s*["\x27]?robots'
)
CANONICAL_RE = (
    r'<link\s[^>]*rel\s*=\s*["\x27]?canonical["\x27]?[^>]*'
    r'href\s*=\s*["\x27]([^"\x27>]*)'
)


def robots_meta_signals(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Crawl-compliance signals from the page payload: the
    ``<meta name="robots">`` directives and the ``rel=canonical`` URL —
    the filter a crawl pipeline MUST run before keeping a page (pages
    marked noindex may not be retained in a published corpus, and the
    canonical URL is the dedup key search engines use for re-hosted
    content).

    Returns (doc_id, robots_content, noindex, nofollow, canonical_url,
    indexable). ``indexable`` = no noindex directive (absent meta =
    indexable, the robots default). Handles both attribute orders
    (name-then-content and content-then-name); first match wins, like
    a real parser reading head-order.

    Plan at 100 TB: pure per-row projection (decode + lowercase + three
    RE2-safe regexp_extracts) — zero shuffles; composes with
    :func:`html_to_text` on the same decoded pass."""
    t = F.lower(F.decode(F.col(html_col), "utf-8"))
    content = F.coalesce(
        F.nullif(F.regexp_extract(t, ROBOTS_CONTENT_RE, 1), F.lit("")),
        F.nullif(F.regexp_extract(t, ROBOTS_CONTENT_FIRST_RE, 1), F.lit("")),
        F.lit(""),
    )
    canonical = F.regexp_extract(t, CANONICAL_RE, 1)
    noindex = content.contains("noindex")
    nofollow = content.contains("nofollow")
    return df.select(
        F.col(id_col),
        content.alias("robots_content"),
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        canonical.alias("canonical_url"),
        (~noindex).alias("indexable"),
    )


# Page-metadata extraction (RE2-safe: lazy quantifiers + inline flags
# only — both the Java regex engine and DuckDB's RE2 accept these, the
# same compatibility contract as the robots-meta patterns above).
TITLE_RE = r"(?is)<title\b[^>]*>(.*?)</title>"
META_DESC_RE = (
    r'(?is)<meta\s[^>]*name\s*=\s*["\']description["\']'
    r'[^>]*content\s*=\s*["\']([^"\']*)["\']'
)
META_DESC_FIRST_RE = (
    r'(?is)<meta\s[^>]*content\s*=\s*["\']([^"\']*)["\']'
    r'[^>]*name\s*=\s*["\']description["\']'
)
OG_TITLE_RE = (
    r'(?is)<meta\s[^>]*property\s*=\s*["\']og:title["\']'
    r'[^>]*content\s*=\s*["\']([^"\']*)["\']'
)
OG_TITLE_FIRST_RE = (
    r'(?is)<meta\s[^>]*content\s*=\s*["\']([^"\']*)["\']'
    r'[^>]*property\s*=\s*["\']og:title["\']'
)
HTML_LANG_RE = r'(?is)<html\b[^>]*\blang\s*=\s*["\']([A-Za-z-]+)["\']'
SOFT404_TITLE_RE = (
    r"(404|not found|page (?:cannot|can't) be found|page does not exist"
    r"|error)"
)


def page_meta(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Head-metadata extraction per page: ``<title>``, meta description,
    ``og:title`` and the ``<html lang>`` attribute — the fields a crawl
    pipeline indexes for snippeting, lang-ID priors and title-level
    dedup — plus ``looks_soft404``, the classic soft-404 heuristic (a
    page served HTTP 200 whose TITLE says it is an error page; soft
    404s poison both corpora and link graphs, so the gate runs at
    ingest). Both attribute orders handled, first match wins; title is
    whitespace-normalized; values are returned RAW (no entity decode —
    pinned so the oracle replay is exact); absent fields are NULL.

    Returns (doc_id, title, meta_description, og_title, html_lang,
    title_chars, looks_soft404).

    Plan at 100 TB: pure per-row projection (one decode + five RE2-safe
    regexp_extracts) — zero shuffles; composes with
    :func:`robots_meta_signals` / :func:`html_to_text` on the same
    decoded pass."""
    t = F.decode(F.col(html_col), "utf-8")
    title = F.nullif(
        F.trim(
            F.regexp_replace(
                F.regexp_extract(t, TITLE_RE, 1), r"\s+", " "
            )
        ),
        F.lit(""),
    )
    desc = F.coalesce(
        F.nullif(F.regexp_extract(t, META_DESC_RE, 1), F.lit("")),
        F.nullif(F.regexp_extract(t, META_DESC_FIRST_RE, 1), F.lit("")),
    )
    og = F.coalesce(
        F.nullif(F.regexp_extract(t, OG_TITLE_RE, 1), F.lit("")),
        F.nullif(F.regexp_extract(t, OG_TITLE_FIRST_RE, 1), F.lit("")),
    )
    lang = F.nullif(F.regexp_extract(t, HTML_LANG_RE, 1), F.lit(""))
    return df.select(
        F.col(id_col),
        title.alias("title"),
        desc.alias("meta_description"),
        og.alias("og_title"),
        F.lower(lang).alias("html_lang"),
        F.coalesce(F.length(title), F.lit(0)).alias("title_chars"),
        F.coalesce(F.lower(title), F.lit("")).rlike(SOFT404_TITLE_RE)
        .alias("looks_soft404"),
    )


# Block-level boilerplate heuristics (boilerpipe/jusText family). Shared
# with the DuckDB oracle: blocks are split on block-level tags, each
# block scored by link density (chars inside <a> / total chars).
BLOCK_SPLIT_RE = r"(?i)<(?:/?(?:p|div|td|li|h[1-6]|section|article|header|footer|nav|ul|ol|table|tr)\b[^>]*|br\s*/?)>"
ANCHOR_TEXT_RE = r"(?is)<a\b[^>]*>(.*?)</a>"


def main_content_extract(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    max_link_density: float = 0.33,
    min_chars: int = 25,
) -> DataFrame:
    """Link-density main-content extraction (the boilerpipe/jusText
    move): split the page into block-level elements, score each block by
    the fraction of its visible text living inside ``<a>`` anchors, and
    keep only low-link-density blocks of substance — navigation, footer
    and sidebar chrome is link-dense and short, article prose is not.

        density(block) = anchor_chars / max(text_chars, 1)
        keep(block)    = text_chars >= min_chars
                         AND density <= max_link_density

    Returns (doc_id, n_blocks, n_kept, main_text) where ``main_text``
    joins the kept blocks' tag-stripped, whitespace-normalized text with
    newlines. Complements :func:`html_to_text` (which keeps everything)
    — run this first on raw pages, then the downstream text gates.

    Plan at 100 TB: pure per-row HOF chain (split -> transform ->
    filter -> array_join), zero shuffles; RE2-safe regexes shared
    verbatim with the DuckDB oracle.
    """
    page = F.lower(F.decode(F.col(html_col), "utf-8"))
    page = F.regexp_replace(page, r"(?is)<script[^>]*>.*?</script>", " ")
    page = F.regexp_replace(page, r"(?is)<style[^>]*>.*?</style>", " ")
    blocks = F.split(page, BLOCK_SPLIT_RE)

    def _text(b):
        return F.trim(
            F.regexp_replace(F.regexp_replace(b, r"(?s)<[^>]*>", " "),
                             r"\s+", " ")
        )

    def _anchor_chars(b):
        return F.aggregate(
            F.regexp_extract_all(b, F.lit(ANCHOR_TEXT_RE), 1),
            F.lit(0),
            lambda acc, a: acc + F.length(
                F.trim(F.regexp_replace(
                    F.regexp_replace(a, r"(?s)<[^>]*>", " "), r"\s+", " "))
            ),
        )

    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _text(b).alias("text"),
            _anchor_chars(b).alias("link_chars"),
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["text"]) >= min_chars)
        & (
            s["link_chars"]
            / F.greatest(F.length(s["text"]), F.lit(1))
            <= max_link_density
        ),
    )
    return df.select(
        F.col(id_col),
        F.size(scored).cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(F.transform(kept, lambda s: s["text"]), "\n")
        .alias("main_text"),
    )


ANCHOR_TAG_RE = r"(?is)<a\b[^>]*>.*?</a>"
HREF_RE = r'(?is)href\s*=\s*["\x27]?([^"\x27\s>]+)'


def extract_links(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Anchor extraction — the edge list of the web graph plus the
    anchor-text corpus search engines and link-quality models train on:
    one output row per ``<a>`` tag with its href and its tag-stripped,
    whitespace-normalized anchor text.

    Returns (doc_id, href, anchor). Pages without links produce no
    rows. href is taken verbatim (compose
    :func:`normalize_url` downstream for canonical edges).

    Plan at 100 TB: per-row HOF (regexp_extract_all of whole tags ->
    transform into (href, text) structs) followed by ONE posexplode-free
    explode; zero shuffles — the edge list streams straight into
    whatever keyed agg consumes it (degree counts,
    :func:`~access_log_parser_spark.operators.graph.pagerank`)."""
    page = F.decode(F.col(html_col), "utf-8")
    tags = F.regexp_extract_all(page, F.lit(ANCHOR_TAG_RE), 0)
    pairs = F.transform(
        tags,
        lambda m: F.struct(
            F.regexp_extract(m, HREF_RE, 1).alias("href"),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(m, r"(?s)<[^>]*>", " "), r"\s+", " "
                )
            ).alias("anchor"),
        ),
    )
    return df.select(
        F.col(id_col), F.explode(pairs).alias("_l")
    ).select(id_col, F.col("_l.href").alias("href"),
             F.col("_l.anchor").alias("anchor"))


def _robots_group_lines(
    df: DataFrame, robots_col: str, host_col: str, agent: str
) -> DataFrame:
    """(host, k, v) for every directive of a robots.txt body that sits in
    a User-agent group applying to ``agent``: a group names ``agent``
    (case-insensitive) or ``*``. Keys are lower-cased; values trimmed.

    Groups are numbered over every ``key:`` line, whatever its key: a
    group starts at a ``User-agent`` line whose previous key line is not
    ``User-agent``, so any other directive ends a run of agents and the
    next ``User-agent`` opens a new group. A directive belongs to the
    nearest preceding group.

    Plan: posexplode lines -> two window passes keyed on the host (group
    id = running count of group starts) -> semi-join on the groups that
    apply. Robots files are KB-sized, so the per-host window sort is
    bounded; ONE host-keyed exchange. Windows instead of a HOF fold keep
    the logic replayable in the oracle's SQL dialect."""
    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(
            F.split(F.coalesce(F.col(robots_col), F.lit("")), r"\r?\n")
        ).alias("ln", "line"),
    )
    key = F.lower(F.trim(F.regexp_extract("line", r"^([^:#]+):", 1)))
    val = F.trim(F.regexp_extract("line", r"^[^:#]+:\s*([^#]*)", 1))
    typed = lines.select(
        "host", "ln", key.alias("k"), val.alias("v")
    ).filter(F.col("k") != "")
    w = Window.partitionBy("host").orderBy("ln")
    is_ua = (F.col("k") == "user-agent").cast("int")
    prev_ua = F.coalesce(F.lag(is_ua).over(w), F.lit(0))
    typed = typed.withColumn("_start", ((is_ua == 1) & (prev_ua == 0)).cast("int"))
    typed = typed.withColumn("grp", F.sum("_start").over(w))
    applies = (
        typed.filter(F.col("k") == "user-agent")
        .groupBy("host", "grp")
        .agg(
            F.max(
                (F.lower(F.col("v")) == agent.lower())
                | (F.col("v") == "*")
            ).alias("_ok")
        )
        .filter("_ok")
        .drop("_ok")
    )
    return (
        typed.filter(F.col("k") != "user-agent")
        .join(applies, ["host", "grp"], "left_semi")
        .select("host", "k", "v")
    )


def robots_txt_rules(
    df: DataFrame,
    robots_col: str = "robots_txt",
    host_col: str = "host",
    agent: str = "*",
) -> DataFrame:
    """Parse robots.txt bodies (the REP grammar subset that governs
    fetching: User-agent groups, Allow/Disallow path rules) into one row
    per applicable rule — the host-level crawl-compliance layer that
    complements the page-level :func:`robots_meta_signals` and the
    manual :func:`host_suffix_filter`.

    Grammar handled (robots.txt de-facto core): a GROUP is one or more
    consecutive ``User-agent:`` lines followed by its rule lines; any
    other ``key:`` line (Crawl-delay, Sitemap, an unknown directive)
    ends a run of agents, so a ``User-agent:`` after it opens a new group
    (:func:`_robots_group_lines`). A rule belongs to the nearest preceding
    group; a group applies when any of its agents is ``*`` or equals
    ``agent`` (case-insensitive keys and agent match); empty-path
    ``Disallow:`` means allow-all and yields no rule; unknown directives
    yield no rule.

    Returns (host, allow boolean, path, path_len) for applicable rules.
    Pair with :func:`robots_allowed` to gate URLs. Plan: that of
    :func:`_robots_group_lines`, ONE host-keyed exchange."""
    return (
        _robots_group_lines(df, robots_col, host_col, agent)
        .filter(F.col("k").isin("allow", "disallow"))
        .filter(F.length("v") > 0)  # empty Disallow: = allow-all, no rule
        .select(
            "host",
            (F.col("k") == "allow").alias("allow"),
            F.col("v").alias("path"),
            F.length("v").cast("long").alias("path_len"),
        )
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Gate URLs against :func:`robots_txt_rules` output with the REP
    longest-match decision: among the URL's host's rules that MATCH the
    URL path, the rule with the LONGEST path string wins, and on equal
    length Allow beats Disallow (the documented REP tiebreak); a URL
    with no matching rule is allowed. Returns one row per distinct
    input URL: (url, host, path, fetch_allowed).

    Matching implements the full RFC 9309 rule grammar, not just
    literal prefixes: ``*`` in a rule path matches any character
    sequence (including ``/``) and a trailing ``$`` anchors the match
    at the end of the URL path (``Disallow: /*.pdf$`` blocks exactly
    the pdf paths). Wildcard rules are translated at plan time into
    anchored regexes by pure expressions (escape regex metacharacters,
    ``*`` -> ``.*``, trailing ``$`` -> end anchor); literal rules keep
    the cheap prefix test. "Longest" counts the raw rule string
    (wildcards included) — the googlebot-matcher convention. Failing
    OPEN on an unsupported rule shape is therefore impossible: every
    RFC 9309 rule either prefix-matches or regex-matches exactly.

    Plan at scale: one equi-join on host (the rule table is
    hosts x rules — dimension-sized next to a crawl, broadcast when
    small), then the winner is a single max() of a (path_len, allow)
    struct per URL — the struct ordering IS the REP tiebreak, so no
    window sort is needed; one (url)-keyed aggregation. The regex
    branch only evaluates on wildcard rules (a ``when`` guard), so a
    wildcard-free rule table pays nothing for the RFC 9309 support."""
    u = F.col(url_col)
    host = F.lower(F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/:?#]*)", 1))
    path = F.coalesce(
        F.nullif(
            F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/]*(/[^?#]*)", 1),
            F.lit(""),
        ),
        F.lit("/"),
    )
    pages = urls.select(
        u.alias("url"), host.alias("host"), path.alias("path")
    )
    # RFC 9309 wildcard translation (rule -> anchored regex), all plan-time
    # expressions: a trailing '$' anchors, any '*' becomes '.*', every
    # other regex metacharacter in the rule is escaped literally.
    rp = F.col("path")
    anchored = rp.endswith("$")
    body = F.when(anchored, rp.substr(F.lit(1), F.length(rp) - 1)).otherwise(rp)
    esc = F.regexp_replace(body, r"([\\.\[\]\{\}\(\)\+\?\^\$\|])", r"\\$1")
    translated = F.replace(esc, F.lit("*"), F.lit(".*"))
    wild = rp.contains("*") | anchored
    r = rules.select(
        F.col("host"),
        F.col("allow").cast("int").alias("r_allow"),
        F.col("path").alias("r_path"),
        F.col("path_len").alias("r_len"),
        F.when(
            wild,
            F.concat(
                F.lit("^"),
                translated,
                F.when(anchored, F.lit("$")).otherwise(F.lit("")),
            ),
        ).alias("r_re"),
    )
    joined = pages.join(r, "host", "left")
    hit = F.col("r_path").isNotNull() & F.when(
        F.col("r_re").isNotNull(),
        F.regexp_like(F.col("path"), F.col("r_re")),
    ).otherwise(F.col("path").startswith(F.col("r_path")))
    winner = F.max(
        F.when(
            hit,
            F.struct(F.col("r_len").alias("l"), F.col("r_allow").alias("a")),
        )
    )
    return (
        joined.groupBy("url", "host", "path")
        .agg(winner.alias("_w"))
        .select(
            "url",
            "host",
            "path",
            F.coalesce(F.col("_w.a") == 1, F.lit(True)).alias(
                "fetch_allowed"
            ),
        )
    )


def robots_sitemaps(
    df: DataFrame,
    robots_col: str = "robots_txt",
    host_col: str = "host",
) -> DataFrame:
    """Sitemap directives from robots.txt — the third leg of the crawl
    compliance surface (with :func:`robots_txt_rules`/:func:`robots_allowed`
    and :func:`robots_crawl_delay`). Per RFC 9309 §2.2.4 ``Sitemap:`` is
    a GLOBAL record: it is not scoped to a User-agent group, so every
    line counts regardless of position. Returns
    (host, position, sitemap_url) with 1-based position among the
    host's Sitemap lines — feed the URLs to :func:`sitemap_locs` for
    frontier seeding.

    Pure per-row projection (split -> transform -> filter ->
    posexplode), zero shuffles."""
    lines = F.split(F.coalesce(F.col(robots_col), F.lit("")), r"\r?\n")
    kv = F.transform(
        lines,
        lambda ln: F.struct(
            F.lower(F.trim(F.regexp_extract(ln, r"^([^:#]+):", 1))).alias("k"),
            F.trim(F.regexp_extract(ln, r"^[^:#]+:\s*([^#]*)", 1)).alias("v"),
        ),
    )
    urls = F.transform(
        F.filter(kv, lambda s: (s["k"] == "sitemap") & (F.length(s["v"]) > 0)),
        lambda s: s["v"],
    )
    return df.select(
        F.col(host_col).alias("host"),
        F.posexplode(urls).alias("pos", "sitemap_url"),
    ).select(
        "host",
        (F.col("pos") + 1).cast("long").alias("position"),
        "sitemap_url",
    )


def robots_crawl_delay(
    df: DataFrame,
    robots_col: str = "robots_txt",
    host_col: str = "host",
    agent: str = "*",
) -> DataFrame:
    """Per-host ``Crawl-delay`` for the given agent — the de-facto REP
    extension most large crawlers honor for politeness budgeting. Like
    Allow/Disallow (and unlike Sitemap) it is GROUP-SCOPED: a directive
    belongs to the nearest preceding User-agent group and applies when
    that group names ``agent`` or ``*``. Groups are those of
    :func:`robots_txt_rules`: any other ``key:`` line ends a run of
    agents, so ``User-agent: a`` / ``Disallow: /x`` / ``User-agent: b``
    / ``Crawl-delay: 9`` gives agent ``a`` no delay. When several
    applicable groups set it, the MINIMUM wins (the conservative
    politeness choice). Non-numeric values are ignored. Returns (host,
    crawl_delay:double); hosts with no applicable directive are absent —
    join 'left' and coalesce to the crawler's default.

    Plan shape: that of :func:`robots_txt_rules`, ONE host-keyed
    exchange; the final min() rides the same key."""
    return (
        _robots_group_lines(df, robots_col, host_col, agent)
        .filter(F.col("k") == "crawl-delay")
        .withColumn("_delay", F.col("v").try_cast("double"))  # ANSI-safe
        .filter(F.col("_delay").isNotNull())
        .groupBy("host")
        .agg(F.min("_delay").alias("crawl_delay"))
    )


def fetch_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    default_delay: float = 1.0,
) -> DataFrame:
    """Politeness-aware fetch scheduling: order each host's frontier
    URLs deterministically (URL ascending — swap in a priority column
    upstream by pre-sorting keys into the URL or extending the window
    order) and space them by the host's ``crawl_delay`` (from
    :func:`robots_crawl_delay`; hosts without a directive use
    ``default_delay``):

        fetch_offset_s(url) = (position - 1) * delay(host)

    Returns (host, url, position, fetch_offset_s) — the per-host fetch
    timeline a polite distributed fetcher shards by host.

    Plan at scale: ONE host-keyed window for the position plus a
    broadcast join against the dimension-sized delay table; no other
    exchange. Per-host frontiers are bounded by the upstream
    host_frequency_cap / stratified_topk budget operators, so the
    window partition never degenerates."""
    f = frontier.select(
        F.col(host_col).alias("host"), F.col(url_col).alias("url")
    )
    w = Window.partitionBy("host").orderBy("url")
    d = delays.select(
        F.col("host"), F.col("crawl_delay").cast("double").alias("_delay")
    )
    return (
        f.withColumn("position", F.row_number().over(w).cast("long"))
        .join(F.broadcast(d), "host", "left")
        .select(
            "host",
            "url",
            "position",
            (
                (F.col("position") - 1)
                * F.coalesce(F.col("_delay"), F.lit(float(default_delay)))
            ).alias("fetch_offset_s"),
        )
    )


SITEMAP_LOC_RE = r"(?is)<loc>\s*([^<]*?)\s*</loc>"


def sitemap_locs(
    df: DataFrame, xml_col: str = "sitemap_xml", host_col: str = "host"
) -> DataFrame:
    """Crawl seeding from sitemap.xml: extract every ``<loc>`` URL (works
    for both urlset entries and sitemap-index children) with its
    1-based position — the frontier input that pairs with
    :func:`robots_allowed` and :func:`url_dedup_first`.

    Returns (host, position, loc). Pure per-row projection
    (regexp_extract_all + posexplode), zero shuffles."""
    locs = F.regexp_extract_all(
        F.coalesce(F.col(xml_col), F.lit("")), F.lit(SITEMAP_LOC_RE), 1
    )
    return df.select(
        F.col(host_col).alias("host"), F.posexplode(locs).alias("pos", "loc")
    ).select("host", (F.col("pos") + 1).cast("long").alias("position"), "loc")


# leet-speak confusable folding for the homograph detector: the digit
# substitutions actually used in phishing hostnames (0->o 1->l 3->e
# 4->a 5->s 7->t)
_CONFUSABLE_FROM = "013457"
_CONFUSABLE_TO = "oleast"

DEFAULT_BRAND_TARGETS = [
    "amazon", "apple", "google", "microsoft", "paypal", "wikipedia",
]


def idn_homograph_signals(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    brands: list[str] | None = None,
) -> DataFrame:
    """Homograph / lookalike-host detection — the phishing-domain
    screen a crawl pipeline runs over its frontier (lookalike hosts
    poison both the corpus and the link graph, and they cluster around
    a small set of high-value brand targets):

    - ``has_punycode``: any label starts ``xn--`` (an IDN label; not
      malicious per se, but unrenderable-to-ASCII brand lookalikes
      always travel this way, so it is the triage flag).
    - confusable fold: digits that substitute for letters in real
      phishing hosts (0->o 1->l 3->e 4->a 5->s 7->t) folded in the
      second-level label.
    - ``nearest_brand``/``distance``: minimum Levenshtein distance from
      the FOLDED label to a small broadcast brand list (ties -> the
      lexicographically smallest brand — pinned for the oracle).
    - ``lookalike`` = distance <= 1 AND the RAW label is not itself the
      brand (the genuine domain must not self-flag; 'paypa1' folds to
      'paypal' at distance 0 and flags, 'paypal' itself does not).

    Returns (doc_id, host, label, has_punycode, nearest_brand,
    distance, lookalike).

    Plan at 100 TB: pure per-row projection — the brand list unrolls
    into a literal struct array (transform + array_min, all codegen);
    levenshtein runs |brands| times per row against a <= 63-char label,
    constant work. Complements :func:`url_spam_score` (lexicon) and
    :func:`host_suffix_filter` (hard blocklist)."""
    brands = DEFAULT_BRAND_TARGETS if brands is None else sorted(brands)
    u = F.lower(F.coalesce(F.col(url_col), F.lit("")))
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/:?#]*)", 1)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    label = F.when(n >= 2, F.element_at(labels, -2)).otherwise(
        F.element_at(labels, -1)
    )
    folded = F.translate(label, _CONFUSABLE_FROM, _CONFUSABLE_TO)
    cand = F.transform(
        F.array([F.lit(b) for b in brands]),
        lambda b: F.struct(
            F.levenshtein(folded, b).alias("d"), b.alias("brand")
        ),
    )
    best = F.array_min(cand)
    return df.select(
        F.col(id_col),
        host.alias("host"),
        label.alias("label"),
        host.rlike(r"(^|\.)xn--").alias("has_punycode"),
        best["brand"].alias("nearest_brand"),
        best["d"].cast("int").alias("distance"),
        (
            (best["d"] <= 1) & (label != best["brand"])
        ).alias("lookalike"),
    )


def canonical_pick(
    df: DataFrame,
    url_col: str = "url",
    canonical_col: str = "canonical_url",
    quality_col: str = "quality",
) -> DataFrame:
    """Canonical-URL cluster dedup: group fetched pages by their
    DECLARED canonical (``rel=canonical`` from
    :func:`robots_meta_signals` / :func:`page_meta`; absent or empty ->
    the page's own URL) and keep ONE representative per cluster —
    highest ``quality_col``, ties to the lexicographically smallest
    url. This is the dedup key search engines themselves honor:
    re-hosted articles, tracking-parameter variants and m./www.
    mirrors all declare the same canonical, so the cluster collapses
    BEFORE any content hashing runs (cheaper than MinHash, catches
    what URL normalization alone cannot).

    Returns one row per cluster:
    (canonical_key, url, quality, cluster_size).

    Plan at 100 TB: ONE hash aggregate on the canonical key — the
    argmax is a struct-min (min(struct(-quality, url)) = max quality,
    then min url on ties) with map-side partial combine, so a hot
    canonical (an aggregator with thousands of tracking-variant URLs)
    collapses per map task instead of sorting in one reducer partition
    (quality must be non-NULL; same rewrite as
    dedup.keep_best_duplicate). Output one row per cluster."""
    key = F.when(
        F.col(canonical_col).isNotNull() & (F.col(canonical_col) != ""),
        F.col(canonical_col),
    ).otherwise(F.col(url_col))
    best = F.min(
        F.struct(
            (-F.col(quality_col)).alias("neg"),
            F.col(url_col).alias("url"),
        )
    )
    return (
        df.select(
            key.alias("canonical_key"),
            F.col(url_col).alias("url"),
            F.col(quality_col).alias("quality"),
        )
        .groupBy("canonical_key")
        .agg(
            best.alias("b"),
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
        )
        .select(
            "canonical_key",
            F.col("b.url").alias("url"),
            (-F.col("b.neg")).alias("quality"),
            "cluster_size",
        )
    )


# hreflang alternates: rel=alternate must precede the hreflang/href
# attributes; those two may come in either order (the two patterns
# below). RE2-safe like the other head-metadata patterns.
HREFLANG_LH_RE = (
    r'(?is)<link\s[^>]*rel\s*=\s*["\']alternate["\']'
    r'[^>]*hreflang\s*=\s*["\']([A-Za-z0-9-]+)["\']'
    r'[^>]*href\s*=\s*["\']([^"\']+)["\']'
)
HREFLANG_HL_RE = (
    r'(?is)<link\s[^>]*rel\s*=\s*["\']alternate["\']'
    r'[^>]*href\s*=\s*["\']([^"\']+)["\']'
    r'[^>]*hreflang\s*=\s*["\']([A-Za-z0-9-]+)["\']'
)


def hreflang_alternates(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """``rel=alternate hreflang`` cluster extraction — how a
    multilingual corpus pipeline discovers parallel-translation page
    sets (the hreflang cluster IS the alignment unit for parallel-text
    mining, and dedup must NOT collapse translations the way it
    collapses mirrors). Emits one row per alternate link:
    (doc_id, hreflang lowercased per BCP 47 case-insensitivity, href).

    Both attribute orders are handled; each tag matches exactly one
    pattern (the lang-first scan requires hreflang BEFORE href, the
    href-first scan the reverse), so nothing double-counts. Pure
    per-row projection: two regexp_extract_all pairs zipped +
    one explode, zero shuffles."""
    t = F.decode(F.col(html_col), "utf-8")

    def pairs(pat: str, lang_idx: int, href_idx: int) -> F.Column:
        return F.arrays_zip(
            F.regexp_extract_all(t, F.lit(pat), lang_idx).alias("lang"),
            F.regexp_extract_all(t, F.lit(pat), href_idx).alias("href"),
        )

    both = F.concat(
        pairs(HREFLANG_LH_RE, 1, 2), pairs(HREFLANG_HL_RE, 2, 1)
    )
    return (
        df.select(F.col(id_col), F.explode(both).alias("p"))
        .select(
            id_col,
            F.lower(F.col("p.lang")).alias("hreflang"),
            F.col("p.href").alias("href"),
        )
    )


def sitemap_tree(
    df: DataFrame, xml_col: str = "sitemap_xml", host_col: str = "host"
) -> DataFrame:
    """Sitemap-protocol tree classification: real crawls mostly hit
    ``<sitemapindex>`` files whose ``<loc>`` children are MORE SITEMAPS
    to fetch-and-expand, not pages — treating them as page URLs (what a
    naive loc scan does) floods the frontier with XML documents. This
    classifies each fetched sitemap by its root element and tags every
    extracted loc with what the frontier should DO with it:

        kind = 'index'  -> loc is a child sitemap (fetch + re-expand)
        kind = 'urlset' -> loc is a page URL (schedule for crawl)
        kind = 'unknown'-> malformed root; loc surfaced for quarantine

    Returns (host, kind, position, loc) — :func:`sitemap_locs` with the
    routing column. Pure per-row projection (one rlike pair +
    regexp_extract_all + posexplode), zero shuffles."""
    xml = F.coalesce(F.col(xml_col), F.lit(""))
    kind = (
        F.when(xml.rlike(r"(?is)<\s*sitemapindex\b"), F.lit("index"))
        .when(xml.rlike(r"(?is)<\s*urlset\b"), F.lit("urlset"))
        .otherwise(F.lit("unknown"))
    )
    locs = F.regexp_extract_all(xml, F.lit(SITEMAP_LOC_RE), 1)
    return df.select(
        F.col(host_col).alias("host"),
        kind.alias("kind"),
        F.posexplode(locs).alias("pos", "loc"),
    ).select(
        "host", "kind",
        (F.col("pos") + 1).cast("long").alias("position"), "loc",
    )


META_REFRESH_RE = (
    r'(?is)<meta\s[^>]*http-equiv\s*=\s*["\']refresh["\']'
    r'[^>]*content\s*=\s*["\']\s*(\d+)\s*;\s*url\s*=\s*([^"\'>\s]+)'
)
META_REFRESH_FIRST_RE = (
    r'(?is)<meta\s[^>]*content\s*=\s*["\']\s*(\d+)\s*;\s*url\s*='
    r'\s*([^"\'>\s]+)[^>]*http-equiv\s*=\s*["\']refresh["\']'
)


def meta_refresh_redirects(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """Meta-refresh soft-redirect extraction: pages that redirect via
    ``<meta http-equiv="refresh" content="N;url=...">`` are served
    HTTP 200, so they are invisible to :func:`~.warc.status_class_col`
    routing and to the Location-header redirect map — yet they are
    redirects (doorway/parked pages use exactly this), and their
    targets belong in the same edge list ``redirect_chains`` resolves.
    Both attribute orders, first match wins; emits only pages that have
    one.

    Returns (doc_id, refresh_seconds, refresh_target). Pure per-row
    projection, zero shuffles; union the output with Location-header
    edges before chain resolution."""
    t = F.decode(F.col(html_col), "utf-8")
    sec = F.coalesce(
        F.nullif(F.regexp_extract(t, META_REFRESH_RE, 1), F.lit("")),
        F.nullif(F.regexp_extract(t, META_REFRESH_FIRST_RE, 1), F.lit("")),
    )
    url = F.coalesce(
        F.nullif(F.regexp_extract(t, META_REFRESH_RE, 2), F.lit("")),
        F.nullif(F.regexp_extract(t, META_REFRESH_FIRST_RE, 2), F.lit("")),
    )
    return (
        df.select(
            F.col(id_col),
            sec.try_cast("int").alias("refresh_seconds"),
            url.alias("refresh_target"),
        )
        .filter(F.col("refresh_target").isNotNull())
    )


def change_rate(
    observations: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Page change-rate estimation from crawl history — the recrawl
    scheduler's input (Cho & Garcia-Molina 2003, "Estimating frequency
    of change", the bias-corrected estimator of their §4.2): given per-
    URL observations ``(url, ts, digest)`` across snapshots, count the
    revisit intervals ``n`` and the intervals that saw a content change
    ``x`` (digest differs from the previous visit), and estimate the
    Poisson change rate

        lambda = ln((n + 0.5) / (n - x + 0.5)) / mean_interval

    ``ts`` must be NUMERIC (epoch seconds/days — the caller picks the
    unit; timestamps convert upstream so the operator, and its oracle,
    stay timezone-free). Returns per url: ``n_obs``, ``n_intervals``,
    ``n_changes``, ``span`` (last - first ts), ``change_rate`` (per ts
    unit, 4 dp, NULL when unestimable: single visit or zero span) and
    ``revisit_after`` (1/lambda — the Poisson-optimal uniform revisit
    interval, NULL when no change was ever observed: such URLs fall to
    the scheduler's floor-priority tier).

    The x = n corner (changed EVERY visit) stays finite by the same
    +0.5 correction — these are the "recrawl constantly" tier. The
    ratio is written numerator-over-denominator INVERTED vs the paper's
    -ln form so x = 0 yields exactly +0.0 (never IEEE -0.0, which would
    byte-differ across engines in the oracle hash).

    Plan at 100 TB: one url-keyed window (lag of the digest) feeding a
    same-key groupBy — Catalyst reuses the single url exchange for
    both, and per-url history depth is snapshot count (tiny), so the
    window partition never degenerates."""
    w = Window.partitionBy(url_col).orderBy(ts_col)
    prev = F.lag(F.col(digest_col)).over(w)
    obs = observations.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("_ts"),
        prev.isNotNull().cast("long").alias("_has_prev"),
        (prev.isNotNull() & (F.col(digest_col) != prev))
        .cast("long")
        .alias("_chg"),
    )
    agg = obs.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("_has_prev").cast("long").alias("n_intervals"),
        F.sum("_chg").cast("long").alias("n_changes"),
        (F.max("_ts") - F.min("_ts")).cast("double").alias("span"),
    )
    n = F.col("n_intervals")
    x = F.col("n_changes")
    lam = F.when(
        (n > 0) & (F.col("span") > 0),
        F.log((n + 0.5) / (n - x + 0.5)) / (F.col("span") / n),
    )
    return agg.select(
        "url",
        "n_obs",
        "n_intervals",
        "n_changes",
        "span",
        F.round(lam, 4).alias("change_rate"),
        F.round(
            F.when(x > 0, 1.0 / lam), 4
        ).alias("revisit_after"),
    )


def anchor_stats(
    edges: DataFrame,
    target_col: str = "href",
    anchor_col: str = "anchor",
    src_col: str = "src_host",
) -> DataFrame:
    """Anchor-text aggregation per link TARGET — the classic search-index
    signal (Brin & Page 1998 §2.2: anchor text often describes the target
    page better than the target's own content) and the link-popularity
    feature crawl prioritizers and quality classifiers consume. Input is
    an edge list like :func:`extract_links` output plus the source host.

    Returns per target: ``n_links`` (total in-links), ``n_hosts``
    (distinct linking hosts — the spam-resistant popularity count),
    ``top_anchor`` (most frequent non-empty anchor text, ties broken
    lexicographically) and ``top_anchor_count`` (its frequency; 0 with a
    NULL top_anchor when every in-link had empty anchor text).

    Plan at 100 TB: one (target, anchor) pre-aggregation (map-side
    partial combine shrinks the edge list to distinct anchor strings
    before the exchange), a target-keyed window argmax over those
    bounded per-target anchor-count rows, and one target-keyed
    count/count_distinct — the final join's both sides are already
    hash-partitioned by target so no extra exchange. Never ships raw
    edges twice: both aggregates reduce before shuffling."""
    tgt = F.col(target_col)
    nonempty = F.trim(F.coalesce(F.col(anchor_col), F.lit(""))) != ""
    per_anchor = (
        edges.filter(nonempty)
        .groupBy(tgt.alias("target"), F.col(anchor_col).alias("anchor"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.partitionBy("target").orderBy(
        F.col("cnt").desc(), F.col("anchor").asc()
    )
    top = (
        per_anchor.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "target",
            F.col("anchor").alias("top_anchor"),
            F.col("cnt").alias("top_anchor_count"),
        )
    )
    per_target = edges.groupBy(tgt.alias("target")).agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.count_distinct(F.col(src_col)).cast("long").alias("n_hosts"),
    )
    return per_target.join(top, "target", "left").select(
        "target",
        "n_links",
        "n_hosts",
        "top_anchor",
        F.coalesce(F.col("top_anchor_count"), F.lit(0).cast("long"))
        .alias("top_anchor_count"),
    )


#: Built-in public-suffix subset for :func:`registrable_domain_col` —
#: enough for tests/oracles; production passes the full Mozilla PSL
#: (https://publicsuffix.org/list/) through the same parameter.
DEFAULT_PUBLIC_SUFFIXES = (
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "dev",
    "app", "example", "uk", "co.uk", "org.uk", "ac.uk", "gov.uk",
    "jp", "co.jp", "ne.jp", "or.jp", "de", "fr", "nl", "au",
    "com.au", "org.au", "br", "com.br", "github.io", "blogspot.com",
)


def registrable_domain_col(
    host_col,
    suffixes: Sequence[str] = DEFAULT_PUBLIC_SUFFIXES,
    max_suffix_labels: int = 4,
) -> F.Column:
    """Registrable domain (eTLD+1) of a host per the Public Suffix List
    algorithm — the grouping key per-site policies actually want
    (:func:`domain_quality_filter`, :func:`host_frequency_cap`,
    per-site crawl budgets): ``a.b.example.co.uk`` -> ``example.co.uk``.

    PSL semantics on the literal ``suffixes`` set: the prevailing
    suffix is the LONGEST (most labels) listed suffix matching the
    host's tail; when none matches, the default ``*`` rule makes the
    last label the suffix. The registrable domain is the suffix plus
    one more label; a host that IS a public suffix (or a bare unlisted
    TLD) has no registrable domain -> NULL. Wildcard/exception PSL
    rules (``*.ck`` / ``!www.ck``) are out of scope — pass them
    pre-expanded in ``suffixes``.

    Pure expression chain, zero shuffle, nothing broadcast: the suffix
    set folds into the plan as an array literal (the real PSL is ~9k
    entries — still a fine literal; an in-plan array membership check
    beats a 9k-row broadcast join by skipping the join machinery
    entirely). Candidate tails are bounded by ``max_suffix_labels``
    (the PSL's deepest rules are 4 labels)."""
    labels = F.split(F.lower(host_col), r"\.")
    n = F.size(labels)
    suf = F.array(*[F.lit(s) for s in suffixes])
    ks = F.filter(
        F.array(*[F.lit(k) for k in range(1, max_suffix_labels + 1)]),
        lambda k: (k <= n)
        & F.array_contains(
            suf, F.array_join(F.slice(labels, -k, k), ".")
        ),
    )
    # no listed suffix on a multi-label host -> the '*' default rule
    # (last label); bound k_best so host==suffix and single-label hosts
    # fall out as NULL below
    k_best = F.coalesce(F.array_max(ks), F.lit(1))
    return F.when(
        n > k_best,
        F.array_join(F.slice(labels, -(k_best + 1), k_best + 1), "."),
    )


SITEMAP_URL_BLOCK_RE = r"(?is)<url>(.*?)</url>"
SITEMAP_LASTMOD_RE = r"(?is)<lastmod>\s*([^<]*?)\s*</lastmod>"
SITEMAP_CHANGEFREQ_RE = r"(?is)<changefreq>\s*([^<]*?)\s*</changefreq>"
SITEMAP_PRIORITY_RE = r"(?is)<priority>\s*([^<]*?)\s*</priority>"


def sitemap_entries(
    df: DataFrame, xml_col: str = "sitemap_xml", host_col: str = "host"
) -> DataFrame:
    """Full sitemap urlset entries — :func:`sitemap_locs` plus the
    recrawl metadata the sitemaps.org protocol carries: ``lastmod``
    (both the raw string and, when it parses as an ISO date/datetime
    prefix, ``lastmod_date``), ``changefreq`` (lowercased) and
    ``priority`` (double, NULL when absent or non-numeric). These are
    the publisher-declared priors a scheduler blends with the OBSERVED
    :func:`change_rate` — a sitemap that says ``daily`` seeds the
    revisit interval before any revisit has happened.

    One row per ``<url>`` block with its 1-based position; blocks
    without a ``<loc>`` are dropped (no URL, nothing to schedule).
    Pure per-row projection: block split + per-block child-tag
    extraction inside one posexplode — zero shuffles, RE2-safe
    (non-greedy, no lookaround) so the DuckDB oracle replays the same
    patterns."""
    xml = F.coalesce(F.col(xml_col), F.lit(""))
    blocks = F.regexp_extract_all(xml, F.lit(SITEMAP_URL_BLOCK_RE), 1)
    out = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(blocks).alias("pos", "_b"),
    )
    b = F.col("_b")

    def _tag(pattern: str) -> F.Column:
        v = F.regexp_extract(b, pattern, 1)
        return F.when(v != "", v)

    loc = _tag(SITEMAP_LOC_RE)
    lastmod = _tag(SITEMAP_LASTMOD_RE)
    return (
        out.select(
            "host",
            (F.col("pos") + 1).cast("long").alias("position"),
            loc.alias("loc"),
            lastmod.alias("lastmod"),
            F.substring(lastmod, 1, 10).try_cast("date")
            .alias("lastmod_date"),
            F.lower(_tag(SITEMAP_CHANGEFREQ_RE)).alias("changefreq"),
            _tag(SITEMAP_PRIORITY_RE).try_cast("double").alias("priority"),
        )
        .filter(F.col("loc").isNotNull())
    )


def host_profile(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-host corpus profile — the "web table" row a curation run
    consults when deciding host-level policy (include/exclude, crawl
    budget, mixture weight): document count, token volume, mean doc
    length, and the majority language with its share (a host whose
    top_lang_frac is low is mixed-language or mislabeled — both worth
    a second look). NULL langs profile as 'und' (BCP 47 undetermined).

    Returns (host, n_docs, total_tokens, mean_doc_tokens 6dp,
    n_langs, top_lang, top_lang_frac 6dp).

    Plan at 100 TB: ONE (host, lang) pre-aggregation shrinks the corpus
    to host x lang rows before any wide work; the host rollup, the
    majority-language window argmax and the final join all run on the
    host key that pre-agg already partitioned — no second corpus
    exchange."""
    ntok = F.size(
        F.filter(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
            lambda t: t != "",
        )
    )
    per_hl = df.groupBy(
        F.col(host_col).alias("host"),
        F.coalesce(F.col(lang_col), F.lit("und")).alias("lang"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(ntok).cast("long").alias("tok"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n").desc(), F.col("lang").asc()
    )
    top = (
        per_hl.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", F.col("lang").alias("top_lang"),
                F.col("n").alias("_top_n"))
    )
    tot = per_hl.groupBy("host").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    return tot.join(top, "host").select(
        "host",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.col("n_docs"), 6)
        .alias("mean_doc_tokens"),
        "n_langs",
        "top_lang",
        F.round(F.col("_top_n") / F.col("n_docs"), 6)
        .alias("top_lang_frac"),
    )


# Control characters C0 (minus \t\n\r) + DEL — the bytes a text corpus
# should never contain after decode; the class is cross-engine-safe
# (Java regex and RE2/DuckDB read \xNN identically).
CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def _nfc_udf():
    """Arrow-batched NFC normalizer. Unicode normalization has NO JVM
    builtin in Spark SQL, so this is one of the repo's few sanctioned
    Python stages — a vectorized pandas UDF (Arrow batch transfer), the
    same contract as the decode engine, never a row-at-a-time UDF.

    The hints are real types (not the module's postponed-annotation
    strings): with ``from __future__ import annotations`` in force,
    string hints referencing a function-local import do not resolve in
    PySpark's type-hint inference, so the signature is attached
    explicitly via ``__annotations__``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(s):
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_nfc, "string")


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "norm_text",
) -> DataFrame:
    """Unicode text normalization — the cleanup pass a multilingual web
    corpus runs before ANY digest-keyed dedup (NFC: 'é' composed and
    'e'+U+0301 decomposed are the SAME text but different bytes, so
    unnormalized corpora under-dedup) and before tokenization (control
    characters and run-on whitespace inflate token counts).

    Pipeline, in order: NFC canonical composition (Arrow-batched pandas
    UDF — no JVM builtin exists), C0/DEL control-character strip
    (``CTRL_RE``; \\t \\n \\r survive into the whitespace collapse),
    ASCII-whitespace collapse to single spaces, trim. NULL text stays
    NULL. Returns (id, out_col, changed) where ``changed`` marks rows
    the normalization actually rewrote.

    Plan at 100 TB: one projection — the UDF is the only Python stage
    and it is Arrow-batched; everything after it is JVM regexp. No
    shuffle, no join; partition count is inherited, so repartition
    upstream when feeding from a one-row-group file (see CLAUDE.md)."""
    nfc = _nfc_udf()
    raw = F.col(text_col)
    norm = F.when(
        raw.isNotNull(),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(nfc(raw), CTRL_RE, ""), r"\s+", " "
            )
        ),
    )
    return df.select(
        F.col(id_col),
        norm.alias(out_col),
        (raw.isNotNull() & (norm != raw)).alias("changed"),
    )


def redirect_resolve(
    redirects: DataFrame,
    url_col: str = "url",
    target_col: str = "target",
    max_hops: int = 4,
) -> DataFrame:
    """Resolve HTTP redirect chains to their final destination — the
    canonicalization a crawl frontier runs so that a page reached via
    three hops of 301s dedups against its direct fetch (Common Crawl
    ships these as WARC ``response``/``revisit`` redirect records; the
    frontier must collapse them before URL-keyed dedup).

    Input: one (url, target) row per redirecting URL (a URL with
    multiple recorded targets deterministically keeps the
    lexicographically smallest). Each of the ``max_hops - 1`` unrolled
    rounds follows one more hop via a LEFT equi-join against the
    redirect map; URLs whose chain ends keep their final target.
    Returns (url, final_url, hops, resolved) — ``resolved=False`` means
    the chain was still pointing at another redirect after ``max_hops``
    (a longer chain or a loop; crawlers treat both as dead).

    Plan at 100 TB: the redirect map is edge-sized (a small fraction of
    the corpus); each hop is ONE equi-join on the current target —
    key-partitioned shuffle, broadcastable when the map fits. The unroll
    count is fixed, so the whole resolution is ONE lazy plan (real
    crawlers cap redirect chains at ~5 hops anyway — RFC 9110 suggests
    5 as the historical limit)."""
    m = (
        redirects.select(
            F.col(url_col).alias("_m_src"), F.col(target_col).alias("_m_dst")
        )
        .groupBy("_m_src")
        .agg(F.min("_m_dst").alias("_m_dst"))
    )
    r = m.select(
        F.col("_m_src").alias("url"),
        F.col("_m_dst").alias("cur"),
        F.lit(1).alias("hops"),
    )
    for i in range(max_hops - 1):
        mi = m.select(
            F.col("_m_src").alias(f"_s{i}"), F.col("_m_dst").alias(f"_d{i}")
        )
        r = r.join(mi, r["cur"] == mi[f"_s{i}"], "left").select(
            "url",
            F.coalesce(F.col(f"_d{i}"), F.col("cur")).alias("cur"),
            F.when(F.col(f"_d{i}").isNotNull(), F.col("hops") + 1)
            .otherwise(F.col("hops"))
            .alias("hops"),
        )
    probe = m.select(
        F.col("_m_src").alias("_p_src"), F.lit(True).alias("_again")
    )
    return r.join(probe, r["cur"] == F.col("_p_src"), "left").select(
        "url",
        F.col("cur").alias("final_url"),
        "hops",
        F.col("_again").isNull().alias("resolved"),
    )


def url_template_mining(
    df: DataFrame,
    url_col: str = "url",
    trap_threshold: int = 100,
) -> DataFrame:
    """URL template mining — crawler-trap detection. Calendars, session
    ids, and faceted search generate UNBOUNDED URL spaces under one path
    template (``/2024/05/17/``, ``/item/8f3a.../``); a frontier that
    doesn't collapse them spends its whole budget inside one host. The
    standard defense: rewrite variable path segments to placeholders and
    count URLs per (host, template) — a template with a huge URL count
    and a placeholder is a trap candidate.

    Template: the URL path (scheme/authority stripped, query+fragment
    dropped) with runs of >=8 hex chars rewritten to ``{H}`` (ids,
    digests, session tokens — applied first so digit-only ids don't
    split) then digit runs to ``{N}``. Returns one row per (host,
    template): ``n_urls``, ``n_distinct_urls``, ``has_placeholder``, and
    ``trap`` = has_placeholder AND n_distinct_urls >= trap_threshold.

    Plan at 100 TB: one projection + ONE (host, template)-keyed
    aggregate with map-side combine (distinct via count_distinct on the
    normalized url — Spark plans it as the standard two-phase expand);
    output is template-dimension-sized, not corpus-sized."""
    u = F.col(url_col)
    path = F.regexp_replace(
        F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://[^/?#]*", ""),
        r"[?#].*", "",
    )
    tmpl = F.regexp_replace(
        F.regexp_replace(path, "[0-9a-f]{8,}", "{H}"), "[0-9]+", "{N}"
    )
    return (
        df.select(
            host_of(u).alias("host"), tmpl.alias("template"), u.alias("_u")
        )
        .groupBy("host", "template")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.count_distinct(F.col("_u")).cast("long")
            .alias("n_distinct_urls"),
        )
        .select(
            "host",
            "template",
            "n_urls",
            "n_distinct_urls",
            (
                F.col("template").contains("{N}")
                | F.col("template").contains("{H}")
            ).alias("has_placeholder"),
        )
        .withColumn(
            "trap",
            F.col("has_placeholder")
            & (F.col("n_distinct_urls") >= F.lit(int(trap_threshold))),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """Per-URL crawl snapshot diff — the change ledger two crawl
    snapshots produce (what :func:`change_rate` consumes as history and
    cross-snapshot dedup consumes as the novelty set): FULL OUTER join
    on URL, classify each as ``added`` (new only), ``removed`` (old
    only), ``changed`` (both, digest differs), ``unchanged``. A URL
    appearing multiple times within one snapshot deterministically keeps
    its lexicographically smallest digest.

    Returns (url, old_digest, new_digest, status).

    Plan at 100 TB: two URL-keyed pre-aggregations (map-side combined)
    + ONE full-outer sort-merge join on the URL key — both sides arrive
    already partitioned by the join key from their groupBys, so AQE
    plans no extra exchange."""
    o = (
        old.select(F.col(url_col).alias("url"),
                   F.col(digest_col).alias("_d"))
        .groupBy("url").agg(F.min("_d").alias("old_digest"))
    )
    n = (
        new.select(F.col(url_col).alias("url"),
                   F.col(digest_col).alias("_d"))
        .groupBy("url").agg(F.min("_d").alias("new_digest"))
    )
    j = o.join(n, "url", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("url", "old_digest", "new_digest",
                    status.alias("status"))
