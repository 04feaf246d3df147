"""Round-4 regression tests: RFC 9309 wildcard rules in the robots
gate (ADVICE r03 medium — wildcard rules used to fail OPEN), graph
operator empty-input/unpersist/reliable-checkpoint behavior, and the
prepare_training_data empty-corpus manifest guard."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F


# ----------------------------------------------------- robots wildcards
def _gate(spark, rules_rows, urls):
    from access_log_parser_spark.operators.webtext import robots_allowed

    rules = spark.createDataFrame(
        [Row(host="h.example", allow=a, path=p, path_len=len(p))
         for a, p in rules_rows]
    )
    u = spark.createDataFrame(
        [Row(url=f"https://h.example{p}") for p in urls]
    )
    return {
        r["path"]: r["fetch_allowed"]
        for r in robots_allowed(u, rules).collect()
    }


def test_robots_wildcard_star_matches_any_sequence(spark):
    got = _gate(
        spark,
        [(False, "/private*")],
        ["/private", "/privateX", "/private/deep/x", "/public"],
    )
    assert got == {
        "/private": False,
        "/privateX": False,
        "/private/deep/x": False,
        "/public": True,
    }


def test_robots_dollar_anchors_end_of_path(spark):
    # the ADVICE example: 'Disallow: /*.pdf$' must actually block pdfs
    got = _gate(
        spark,
        [(False, "/*.pdf$")],
        ["/a/file.pdf", "/file.pdf", "/a/file.pdfx", "/a/file.html"],
    )
    assert got == {
        "/a/file.pdf": False,
        "/file.pdf": False,
        "/a/file.pdfx": True,   # $ anchors: .pdfx does not end in .pdf
        "/a/file.html": True,
    }


def test_robots_dollar_exact_path(spark):
    got = _gate(spark, [(False, "/fish$")], ["/fish", "/fish/", "/fishy"])
    assert got == {"/fish": False, "/fish/": True, "/fishy": True}


def test_robots_wildcard_allow_overrides_by_length(spark):
    # REP precedence uses the raw rule-string length, wildcards included
    got = _gate(
        spark,
        [(False, "/dir/*"), (True, "/dir/*/open")],
        ["/dir/a", "/dir/a/open"],
    )
    assert got == {"/dir/a": False, "/dir/a/open": True}


def test_robots_regex_metachars_in_rules_stay_literal(spark):
    # a rule path containing regex metachars must match literally, not
    # as a pattern — '+', '(', '.', '[' are all legal URL-path bytes
    got = _gate(
        spark,
        [(False, "/a+b(c)*"), (False, "/x.y$")],
        ["/a+b(c)d", "/aab(c)d", "/x.y", "/xzy"],
    )
    assert got == {
        "/a+b(c)d": False,  # literal prefix /a+b(c) then wildcard
        "/aab(c)d": True,   # '+' is NOT one-or-more
        "/x.y": False,
        "/xzy": True,       # '.' is NOT any-char
    }


def test_robots_wildcard_translation_fuzz_vs_python_reference(spark):
    """Seeded sweep: the plan-time rule->regex translation must agree
    with a pure-Python RFC 9309 reference matcher on rules stuffed with
    regex metacharacters, wildcards and anchors (300 cases, one
    DataFrame)."""
    import random
    import re

    from access_log_parser_spark.operators.webtext import robots_allowed

    def ref_hit(rule: str, path: str) -> bool:
        anchored = rule.endswith("$")
        if "*" not in rule and not anchored:
            return path.startswith(rule)
        body = rule[:-1] if anchored else rule
        pat = ("^" + ".*".join(re.escape(p) for p in body.split("*"))
               + ("$" if anchored else ""))
        return re.match(pat, path) is not None

    rng = random.Random(41)
    rule_abc = list("ab/*.$+()[]{}|^?\\x")
    path_abc = list("ab/.x+($)y")
    cases = []
    for i in range(300):
        rule = "/" + "".join(rng.choice(rule_abc)
                             for _ in range(rng.randint(1, 8)))
        path = "/" + "".join(rng.choice(path_abc)
                             for _ in range(rng.randint(0, 10)))
        cases.append((f"h{i}.ex", rule, path))
    rules = spark.createDataFrame(
        [Row(host=h, allow=False, path=r, path_len=len(r))
         for h, r, _ in cases]
    )
    urls = spark.createDataFrame(
        [Row(url=f"https://{h}{p}") for h, _, p in cases]
    )
    got = {r["host"]: r["fetch_allowed"]
           for r in robots_allowed(urls, rules).collect()}
    for h, rule, path in cases:
        want_allowed = not ref_hit(rule, path)
        assert got[h] == want_allowed, (rule, path, got[h])


def test_robots_wildcards_end_to_end_from_robots_txt(spark):
    from access_log_parser_spark.operators.webtext import (
        robots_allowed,
        robots_txt_rules,
    )

    body = (
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Disallow: /tmp*\n"
        "Allow: /tmp/public*\n"
    )
    rules = robots_txt_rules(
        spark.createDataFrame([Row(host="h.example", robots_txt=body)])
    )
    urls = spark.createDataFrame(
        [Row(url=f"https://h.example{p}")
         for p in ["/doc/x.pdf", "/tmp/a", "/tmp/public/a", "/ok"]]
    )
    got = {r["path"]: r["fetch_allowed"]
           for r in robots_allowed(urls, rules).collect()}
    assert got == {
        "/doc/x.pdf": False,
        "/tmp/a": False,
        "/tmp/public/a": True,
        "/ok": True,
    }


# ------------------------------------- robots sitemap / crawl-delay
ROBOTS_FULL = """# politeness policy
User-agent: googlebot
Crawl-delay: 1
Disallow: /g/

Sitemap: https://h.example/sm1.xml
User-agent: *
User-agent: trainingbot
Crawl-delay: 2.5
Disallow: /tmp/

User-agent: *
Crawl-delay: 4
SITEMAP: https://h.example/sm2.xml

User-agent: slowbot
Crawl-delay: not-a-number
"""


def test_robots_sitemaps_are_global_and_ordered(spark):
    from access_log_parser_spark.operators.webtext import robots_sitemaps

    df = spark.createDataFrame([Row(host="h.example", robots_txt=ROBOTS_FULL)])
    got = [(r["position"], r["sitemap_url"])
           for r in robots_sitemaps(df).orderBy("position").collect()]
    # Sitemap is NOT group-scoped: both lines count, case-insensitive key
    assert got == [
        (1, "https://h.example/sm1.xml"),
        (2, "https://h.example/sm2.xml"),
    ]


def test_robots_crawl_delay_group_scope_and_min(spark):
    from access_log_parser_spark.operators.webtext import robots_crawl_delay

    df = spark.createDataFrame([Row(host="h.example", robots_txt=ROBOTS_FULL)])
    # '*' agent: the googlebot group (1) does NOT apply; the two '*'
    # groups set 2.5 and 4 -> min 2.5; slowbot's non-numeric is ignored
    out = robots_crawl_delay(df).collect()
    assert [(r["host"], r["crawl_delay"]) for r in out] == [("h.example", 2.5)]
    # named agent matches its own group AND the '*' groups -> min 1.0
    out = robots_crawl_delay(df, agent="GoogleBot").collect()
    assert out[0]["crawl_delay"] == 1.0
    # an agent with only the non-numeric directive yields NO row
    assert robots_crawl_delay(df, agent="slowbot").count() == 1  # * groups apply
    only = spark.createDataFrame(
        [Row(host="x.example",
             robots_txt="User-agent: slowbot\nCrawl-delay: nan-ish\n")]
    )
    assert robots_crawl_delay(only, agent="slowbot").count() == 0


def test_robots_other_directives_end_an_agent_run(spark):
    """Any ``key:`` line ends a run of User-agent lines, whichever
    operator reads the body: a directive the operator ignores still
    closes the group before it, so the next User-agent opens a new one."""
    from access_log_parser_spark.operators.webtext import (
        robots_crawl_delay,
        robots_txt_rules,
    )

    delay_after_rule = spark.createDataFrame([Row(
        host="h.example",
        robots_txt="User-agent: slowbot\nDisallow: /x\nUser-agent: fastbot\nCrawl-delay: 9\n",
    )])
    assert robots_crawl_delay(delay_after_rule, agent="slowbot").count() == 0
    assert robots_crawl_delay(delay_after_rule, agent="fastbot").collect()[0]["crawl_delay"] == 9.0

    rule_after_delay = spark.createDataFrame([Row(
        host="h.example",
        robots_txt="User-agent: a\nCrawl-delay: 3\nUser-agent: b\nDisallow: /x\n",
    )])
    assert robots_txt_rules(rule_after_delay, agent="a").count() == 0
    got = [(r["allow"], r["path"]) for r in robots_txt_rules(rule_after_delay, agent="b").collect()]
    assert got == [(False, "/x")]


def test_fetch_schedule_spacing_and_default(spark):
    from access_log_parser_spark.operators.webtext import fetch_schedule

    frontier = spark.createDataFrame(
        [Row(host="a.example", url=f"https://a.example/p{i}") for i in range(3)]
        + [Row(host="b.example", url="https://b.example/only")]
    )
    delays = spark.createDataFrame([Row(host="a.example", crawl_delay=2.5)])
    out = {(r["host"], r["position"]): r["fetch_offset_s"]
           for r in fetch_schedule(frontier, delays, default_delay=1.0).collect()}
    assert out == {
        ("a.example", 1): 0.0,
        ("a.example", 2): 2.5,
        ("a.example", 3): 5.0,
        ("b.example", 1): 0.0,  # no directive -> default spacing
    }


# -------------------------------------------- semdedup production-k path
def test_ivf_assign_join_matches_literal(spark):
    import random

    from access_log_parser_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_join,
        semdedup,
    )

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
         for i in range(80)]
    )
    cents = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)]
    lit_path = {(r["id"], r["cell"])
                for r in ivf_assign(emb, cents).collect()}
    join_path = {(r["id"], r["cell"])
                 for r in ivf_assign_join(emb, cents).collect()}
    assert lit_path == join_path
    # end-to-end: semdedup with the join path forced equals the default
    k_lit = {(r["id"], r["cell"])
             for r in semdedup(emb, cents, threshold=0.9).collect()}
    k_join = {
        (r["id"], r["cell"])
        for r in semdedup(
            emb, cents, threshold=0.9, assign_join_threshold=0
        ).collect()
    }
    assert k_lit == k_join and len(k_lit) > 0


def test_ivf_assign_join_tiebreak_highest_cell(spark):
    from access_log_parser_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_join,
    )

    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0]), Row(vec_id=2, embedding=[0.5, 0.5])]
    )
    # two identical centroids: exact score tie -> highest cell id wins
    cents = [(3, [0.6, 0.4]), (9, [0.6, 0.4])]
    for fn in (ivf_assign, ivf_assign_join):
        assert {r["cell"] for r in fn(emb, cents).collect()} == {9}


def test_ivf_assign_join_is_broadcast(spark):
    from access_log_parser_spark.operators.similarity import ivf_assign_join

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(10)]
    )
    out = ivf_assign_join(emb, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------- cross-doc exact block dedup
def test_block_dedup_removes_shared_span_keeps_first(spark):
    from access_log_parser_spark.operators.dedup import block_dedup

    shared = "one two three four"  # exactly one 4-token block
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"{shared} alpha beta gamma delta"),
        Row(doc_id=2, text=f"{shared} epsilon zeta eta theta"),
        Row(doc_id=3, text="totally different content here"),
    ])
    out = {r["id"]: r for r in block_dedup(docs, block_tokens=4).collect()}
    # doc 1 owns the shared block; docs 2 loses it, tails survive
    assert out[1]["text"] == f"{shared} alpha beta gamma delta"
    assert out[2]["text"] == "epsilon zeta eta theta"
    assert out[3]["text"] == "totally different content here"
    assert (out[1]["n_removed"], out[2]["n_removed"], out[3]["n_removed"]) \
        == (0, 1, 0)
    assert out[2]["n_blocks"] == 2


def test_block_dedup_partial_tail_and_whitespace_normalization(spark):
    from access_log_parser_spark.operators.dedup import block_dedup

    docs = spark.createDataFrame([
        Row(doc_id=1, text="  a   b \n c  "),  # 3 tokens -> one partial block
    ])
    r = block_dedup(docs, block_tokens=4).collect()[0]
    assert r["text"] == "a b c" and r["n_blocks"] == 1 and r["n_removed"] == 0


def test_block_dedup_empty_and_null_pass_through(spark):
    from access_log_parser_spark.operators.dedup import block_dedup

    docs = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text=None),
         Row(doc_id=3, text="real words in here")]
    )
    out = {r["id"]: r for r in block_dedup(docs, block_tokens=2).collect()}
    assert out[1]["text"] == "" and out[1]["n_blocks"] == 0
    assert out[2]["text"] == "" and out[2]["n_removed"] == 0
    assert out[3]["n_blocks"] == 2


def test_block_dedup_within_doc_repeats_also_collapse(spark):
    from access_log_parser_spark.operators.dedup import block_dedup

    # the SAME aligned block twice within one doc: position order keeps
    # the first occurrence only
    docs = spark.createDataFrame([Row(doc_id=1, text="x y x y tail word")])
    r = block_dedup(docs, block_tokens=2).collect()[0]
    assert r["text"] == "x y tail word"
    assert r["n_blocks"] == 3 and r["n_removed"] == 1


# ------------------------------------------------------- graph operators
def test_pagerank_empty_edges_returns_empty(spark):
    from access_log_parser_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank(empty, iterations=2)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_hits_empty_edges_returns_empty(spark):
    from access_log_parser_spark.operators.graph import hits

    empty = spark.createDataFrame([], "src string, dst string")
    out = hits(empty, iterations=2)
    assert out.columns == ["node", "hub", "authority"]
    assert out.count() == 0


def test_graph_ops_release_their_caches(spark, monkeypatch):
    # spy on DataFrame.cache: every frame the operators cache must be
    # un-persisted by the time they return (storage level back to NONE)
    from pyspark.sql.classic.dataframe import DataFrame  # runtime class

    from access_log_parser_spark.operators.graph import hits, pagerank

    cached: list[DataFrame] = []
    orig_cache = DataFrame.cache

    def spy(self):
        out = orig_cache(self)
        cached.append(out)
        return out

    monkeypatch.setattr(DataFrame, "cache", spy)
    edges = spark.createDataFrame(
        [Row(src=f"h{i % 4}", dst=f"h{(i * 3 + 1) % 4}") for i in range(12)]
    )
    pagerank(edges, iterations=2).collect()
    hits(edges, iterations=2).collect()
    assert len(cached) >= 3  # pagerank e + out_deg, hits e
    for c in cached:
        lvl = c.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)


def test_pagerank_reliable_checkpoint_matches_local(spark, tmp_path):
    from access_log_parser_spark.operators.graph import hits, pagerank

    edges = spark.createDataFrame(
        [Row(src=f"h{i % 5}", dst=f"h{(i * 7 + 3) % 5}") for i in range(20)]
    )
    local = {r["node"]: r["rank"]
             for r in pagerank(edges, iterations=3).collect()}
    reliable = {
        r["node"]: r["rank"]
        for r in pagerank(
            edges, iterations=3, checkpoint_dir=str(tmp_path / "ck")
        ).collect()
    }
    assert local == reliable
    h_local = {r["node"]: (r["hub"], r["authority"])
               for r in hits(edges, iterations=2).collect()}
    h_rel = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(
            edges, iterations=2, checkpoint_dir=str(tmp_path / "ck2")
        ).collect()
    }
    assert h_local == h_rel


# ------------------------------------- prepare_training_data empty guard
def test_prepare_manifest_survives_empty_corpus(spark, tmp_path):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from prepare_training_data import prepare

    from access_log_parser_spark.pages import synth_pages

    pages = synth_pages(spark, 50)
    # quality_min above the score ceiling filters EVERY page
    manifest = prepare(
        spark, pages, str(tmp_path / "out"), quality_min=2.0, n_shards=2
    )
    assert manifest["stages"]["after_near_dup"] == 0
    assert manifest["packs"]["n_packs"] == 0
    assert manifest["packs"]["max_pack_tokens"] == 0  # not None


# --------------------------------------------- recrawl change-rate (C&GM)
def test_change_rate_estimator_values(spark):
    import math

    from access_log_parser_spark.operators.webtext import change_rate

    rows = (
        # u1: 4 visits every 10 units, changes on visits 2 and 3 ->
        # n=3 intervals, x=2 changes, span=30, mean interval 10
        [Row(url="u1", ts=float(t), digest=d)
         for t, d in [(0, "a"), (10, "b"), (20, "c"), (30, "c")]]
        # u2: never changes -> rate 0.0, revisit_after NULL
        + [Row(url="u2", ts=float(t), digest="same") for t in (0, 5, 10)]
        # u3: single visit -> everything unestimable
        + [Row(url="u3", ts=1.0, digest="x")]
    )
    out = {r["url"]: r for r in change_rate(
        spark.createDataFrame(rows)).collect()}

    lam = math.log(3.5 / 1.5) / 10.0
    assert out["u1"]["n_obs"] == 4
    assert out["u1"]["n_intervals"] == 3
    assert out["u1"]["n_changes"] == 2
    assert out["u1"]["span"] == 30.0
    assert out["u1"]["change_rate"] == round(lam, 4)
    assert out["u1"]["revisit_after"] == round(1.0 / lam, 4)

    assert out["u2"]["n_changes"] == 0
    assert out["u2"]["change_rate"] == 0.0
    assert math.copysign(1.0, out["u2"]["change_rate"]) == 1.0  # +0.0
    assert out["u2"]["revisit_after"] is None

    assert out["u3"]["n_intervals"] == 0
    assert out["u3"]["change_rate"] is None
    assert out["u3"]["revisit_after"] is None


def test_change_rate_changed_every_visit_stays_finite(spark):
    import math

    from access_log_parser_spark.operators.webtext import change_rate

    rows = [Row(url="u", ts=float(t), digest=f"d{t}") for t in (0, 1, 2)]
    out = change_rate(spark.createDataFrame(rows)).collect()[0]
    lam = math.log(2.5 / 0.5) / 1.0
    assert out["change_rate"] == round(lam, 4)
    assert out["revisit_after"] == round(1.0 / lam, 4)


def test_change_rate_out_of_order_input_uses_ts_order(spark):
    from access_log_parser_spark.operators.webtext import change_rate

    # same history as u1 above but rows arrive shuffled: lag must order
    # by ts, so counters are identical
    rows = [Row(url="u1", ts=float(t), digest=d)
            for t, d in [(20, "c"), (0, "a"), (30, "c"), (10, "b")]]
    out = change_rate(spark.createDataFrame(rows)).collect()[0]
    assert (out["n_intervals"], out["n_changes"], out["span"]) == (3, 2, 30.0)


# ---------------------------------------------- anchor-text aggregation
def test_anchor_stats_counts_and_argmax(spark):
    from access_log_parser_spark.operators.webtext import anchor_stats

    edges = spark.createDataFrame(
        [
            Row(href="t1", anchor="home", src_host="a"),
            Row(href="t1", anchor="home", src_host="b"),
            Row(href="t1", anchor="click", src_host="a"),
            Row(href="t1", anchor="", src_host="c"),  # counted, never top
            Row(href="t2", anchor=None, src_host="a"),  # null-only target
        ]
    )
    out = {r["target"]: r for r in anchor_stats(edges).collect()}
    assert (out["t1"]["n_links"], out["t1"]["n_hosts"]) == (4, 3)
    assert out["t1"]["top_anchor"] == "home"
    assert out["t1"]["top_anchor_count"] == 2
    assert out["t2"]["n_links"] == 1
    assert out["t2"]["top_anchor"] is None
    assert out["t2"]["top_anchor_count"] == 0


def test_anchor_stats_frequency_tie_breaks_lexicographically(spark):
    from access_log_parser_spark.operators.webtext import anchor_stats

    edges = spark.createDataFrame(
        [Row(href="t", anchor=a, src_host="h") for a in ["zeta", "alpha"]]
    )
    out = anchor_stats(edges).collect()[0]
    assert out["top_anchor"] == "alpha"
    assert out["top_anchor_count"] == 1


# --------------------------------------------- registrable domain (PSL)
def test_registrable_domain_psl_cases(spark):
    from access_log_parser_spark.operators.webtext import (
        registrable_domain_col,
    )

    cases = {
        "a.b.example.co.uk": "example.co.uk",   # longest listed suffix
        "www.example.com": "example.com",
        "example.com": "example.com",
        "com": None,                            # bare listed TLD
        "co.uk": None,                          # host IS a suffix
        "x.y.foo.github.io": "foo.github.io",   # private-registry suffix
        "deep.sub.site.zz": "site.zz",          # unlisted TLD: '*' rule
        "localhost": None,                      # single unlisted label
        "EXAMPLE.Co.Uk": "example.co.uk",       # case-folded
    }
    df = spark.createDataFrame([Row(host=h) for h in cases])
    got = {
        r["host"]: r["d"]
        for r in df.select(
            "host", registrable_domain_col(F.col("host")).alias("d")
        ).collect()
    }
    assert got == cases


def test_registrable_domain_custom_suffix_set(spark):
    from access_log_parser_spark.operators.webtext import (
        registrable_domain_col,
    )

    df = spark.createDataFrame([Row(host="a.b.internal.corp")])
    got = df.select(
        registrable_domain_col(F.col("host"), suffixes=["internal.corp"])
        .alias("d")
    ).collect()[0]["d"]
    assert got == "b.internal.corp"


# --------------------------------------------------- sitemap full entries
def test_sitemap_entries_fields_and_dropped_locless_block(spark):
    import datetime

    from access_log_parser_spark.operators.webtext import sitemap_entries

    xml = (
        "<urlset>"
        "<url><loc> https://h.example/a </loc>"
        "<lastmod>2024-03-05T10:30:00+02:00</lastmod>"
        "<changefreq>WEEKLY</changefreq><priority>0.8</priority></url>"
        "<url><lastmod>2099-01-01</lastmod></url>"   # no loc: dropped
        "<url><loc>https://h.example/b</loc>"
        "<lastmod>not-a-date</lastmod>"
        "<priority>soon</priority></url>"
        "</urlset>"
    )
    df = spark.createDataFrame([Row(host="h.example", sitemap_xml=xml)])
    rows = {r["position"]: r for r in sitemap_entries(df).collect()}
    assert sorted(rows) == [1, 3]  # position 2 consumed by dropped block
    a = rows[1]
    assert a["loc"] == "https://h.example/a"
    assert a["lastmod"] == "2024-03-05T10:30:00+02:00"
    assert a["lastmod_date"] == datetime.date(2024, 3, 5)
    assert a["changefreq"] == "weekly"
    assert a["priority"] == 0.8
    b = rows[3]
    assert b["lastmod"] == "not-a-date"
    assert b["lastmod_date"] is None      # try_cast, never a throw
    assert b["priority"] is None
    assert b["changefreq"] is None


def test_sitemap_entries_null_xml_yields_no_rows(spark):
    from access_log_parser_spark.operators.webtext import sitemap_entries

    df = spark.createDataFrame(
        [Row(host="h", sitemap_xml=None)],
        schema="host string, sitemap_xml string",
    )
    assert sitemap_entries(df).count() == 0


# ------------------------------------------------------ WARC -> WET
def test_warc_to_wet_converts_200_responses_only(spark):
    from access_log_parser_spark.sources.warc import (
        parse_warc_records,
        warc_to_wet,
    )

    def rec(wtype, uri, block, status_line="HTTP/1.1 200 OK"):
        if wtype == "response":
            block = f"{status_line}\r\nContent-Type: text/html\r\n\r\n{block}"
        return (
            f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Target-URI: {uri}\r\n"
            f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(block.encode())}\r\n\r\n{block}\r\n\r\n"
        )

    data = (
        rec("response", "https://a/", "<p>Hello &amp; <b>world</b></p>")
        + rec("response", "https://b/", "gone", status_line="HTTP/1.1 404 NF")
        + rec("metadata", "https://a/", "len=1")
    )
    files = spark.createDataFrame(
        [Row(path="mem://x", content=bytearray(data.encode()))]
    )
    out = warc_to_wet(parse_warc_records(files)).collect()
    assert len(out) == 1  # 404 and metadata records dropped
    assert out[0]["target_uri"] == "https://a/"
    assert out[0]["text"] == "Hello & world"
    assert out[0]["truncated"] is False


# ---------------------------------------------- corpus duplication profile
def test_dup_profile_counts_planted_duplication(spark):
    from access_log_parser_spark.operators.dedup import dup_profile

    lic = "a b c"  # one 3-token block at block_tokens=3
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"{lic} x y z"),
            Row(doc_id=1, text=f"{lic} p q r"),
            Row(doc_id=2, text="u v w"),
            Row(doc_id=3, text=None),
            Row(doc_id=4, text="   "),
        ],
        schema="doc_id long, text string",
    )
    r = dup_profile(docs, block_tokens=3).collect()[0]
    assert r["n_docs"] == 5
    # blocks: [abc, xyz], [abc, pqr], [uvw] -> 5 total, 4 distinct
    assert r["n_blocks"] == 5
    assert r["n_distinct_blocks"] == 4
    assert r["n_dup_occurrences"] == 1
    assert r["dup_block_frac"] == round(1 / 5, 6)
    assert r["max_block_df"] == 2


def test_dup_profile_all_empty_corpus(spark):
    from access_log_parser_spark.operators.dedup import dup_profile

    docs = spark.createDataFrame(
        [Row(doc_id=0, text=None), Row(doc_id=1, text="")],
        schema="doc_id long, text string",
    )
    r = dup_profile(docs).collect()[0]
    assert (r["n_docs"], r["n_blocks"], r["max_block_df"]) == (2, 0, 0)
    assert r["dup_block_frac"] == 0.0


# ------------------------------------------------ degree distribution
def test_degree_histogram_bins_and_directions(spark):
    from access_log_parser_spark.operators.graph import degree_histogram

    # a -> hub x5, b -> hub x3, c -> d x1  (multigraph: parallel count)
    edges = spark.createDataFrame(
        [Row(src="a", dst="hub")] * 5
        + [Row(src="b", dst="hub")] * 3
        + [Row(src="c", dst="d")]
    )
    out = {
        (r["direction"], r["degree_bin_lo"]): r["n_nodes"]
        for r in degree_histogram(edges).collect()
    }
    # in-degrees: hub=8 (bin 8), d=1 (bin 1)
    assert out[("in", 8)] == 1
    assert out[("in", 1)] == 1
    # out-degrees: a=5 (bin 4), b=3 (bin 2), c=1 (bin 1)
    assert out[("out", 4)] == 1
    assert out[("out", 2)] == 1
    assert out[("out", 1)] == 1
    assert len(out) == 5


# ------------------------------------------------------ host profile
def test_host_profile_majority_lang_and_rollup(spark):
    from access_log_parser_spark.operators.webtext import host_profile

    pages = spark.createDataFrame(
        [
            Row(host="a", text="one two", lang="en"),
            Row(host="a", text="three", lang="en"),
            Row(host="a", text="quatre cinq six", lang="fr"),
            Row(host="b", text=None, lang=None),       # 'und', 0 tokens
            Row(host="b", text="sieben", lang="de"),
        ],
        schema="host string, text string, lang string",
    )
    out = {r["host"]: r for r in host_profile(pages).collect()}
    a = out["a"]
    assert (a["n_docs"], a["total_tokens"], a["n_langs"]) == (3, 6, 2)
    assert a["mean_doc_tokens"] == 2.0
    assert (a["top_lang"], a["top_lang_frac"]) == ("en", round(2 / 3, 6))
    b = out["b"]
    assert (b["n_docs"], b["total_tokens"], b["n_langs"]) == (2, 1, 2)
    # 1-1 tie between 'de' and 'und' -> lexicographically smaller wins
    assert b["top_lang"] == "de"


# --------------------------------------------- mixture budget planning
def test_mixture_budget_plan_targets_and_shortfall(spark):
    from access_log_parser_spark.operators.sampling import (
        mixture_budget_plan,
    )

    counts = spark.createDataFrame(
        [("web", 1000), ("code", 100), ("orphan", 50)],
        schema="domain string, n_tokens long",
    )
    weights = spark.createDataFrame(
        [("web", 3.0), ("code", 1.0), ("ghost", 1.0)],
        schema="domain string, weight double",
    )
    out = {r["domain"]: r
           for r in mixture_budget_plan(counts, weights, 500.0).collect()}
    # normalizer = 5.0; targets: web 300, code 100, ghost 100
    web = out["web"]
    assert web["target_tokens"] == 300.0
    assert web["rate"] == round(300.0 / 1000.0, 6)
    assert web["expected_tokens"] == 300.0
    assert web["capped"] is False and web["shortfall"] == 0.0
    code = out["code"]
    assert code["rate"] == 1.0 and code["capped"] is False  # exact fit
    ghost = out["ghost"]                      # declared, no corpus
    assert ghost["n_tokens"] == 0
    assert ghost["rate"] == 0.0
    assert ghost["shortfall"] == 100.0 and ghost["capped"] is True
    orphan = out["orphan"]                    # corpus, not in the mix
    assert orphan["weight"] == 0.0
    assert orphan["rate"] == 0.0 and orphan["expected_tokens"] == 0.0


def test_mixture_budget_plan_capped_when_budget_exceeds_corpus(spark):
    from access_log_parser_spark.operators.sampling import (
        mixture_budget_plan,
    )

    counts = spark.createDataFrame(
        [("a", 10)], schema="domain string, n_tokens long"
    )
    weights = spark.createDataFrame(
        [("a", 1.0)], schema="domain string, weight double"
    )
    r = mixture_budget_plan(counts, weights, 100.0).collect()[0]
    assert r["rate"] == 1.0
    assert r["expected_tokens"] == 10.0
    assert r["shortfall"] == 90.0
    assert r["capped"] is True


# ------------------------------------------------- label propagation
def test_label_propagation_majority_and_clamp(spark):
    from access_log_parser_spark.operators.graph import label_propagation

    # path a - b - c; seeds: a=spam. Undirected: round1 labels b,
    # round2 labels c. Seed a stays spam even though b's label would
    # "flow back".
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], schema="src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("a", "spam")], schema="node string, label string"
    )
    out = {r["node"]: r for r in
           label_propagation(edges, seeds, iterations=2).collect()}
    assert out["a"]["label"] == "spam" and out["a"]["is_seed"] is True
    assert out["b"]["label"] == "spam" and out["b"]["is_seed"] is False
    assert out["c"]["label"] == "spam"
    # one round only reaches b, not c
    one = {r["node"] for r in
           label_propagation(edges, seeds, iterations=1).collect()}
    assert one == {"a", "b"}


def test_label_propagation_tiebreak_and_majority(spark):
    from access_log_parser_spark.operators.graph import label_propagation

    # x has neighbors s1(bad), s2(good) -> 1-1 tie -> lexicographically
    # smaller label 'bad' wins; y has neighbors s2, s3 (both good) plus
    # s1 (bad) -> majority good
    edges = spark.createDataFrame(
        [("s1", "x"), ("s2", "x"), ("s1", "y"), ("s2", "y"), ("s3", "y")],
        schema="src string, dst string",
    )
    seeds = spark.createDataFrame(
        [("s1", "bad"), ("s2", "good"), ("s3", "good")],
        schema="node string, label string",
    )
    out = {r["node"]: r["label"] for r in
           label_propagation(edges, seeds, iterations=1).collect()}
    assert out["x"] == "bad"      # tie -> min label
    assert out["y"] == "good"     # 2-1 majority


def test_label_propagation_directed_and_dup_seed(spark):
    from access_log_parser_spark.operators.graph import label_propagation

    # directed a->b: label flows a->b only; seed node with two labels
    # deterministically keeps the smaller one
    edges = spark.createDataFrame(
        [("a", "b")], schema="src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("b", "zeta"), ("b", "alpha")], schema="node string, label string"
    )
    out = {r["node"]: r["label"] for r in label_propagation(
        edges, seeds, iterations=2, directed=True).collect()}
    assert out == {"b": "alpha"}  # nothing flows upstream to a
    out2 = {r["node"]: r["label"] for r in label_propagation(
        edges, seeds, iterations=2, directed=False).collect()}
    assert out2 == {"a": "alpha", "b": "alpha"}


# ------------------------------------------------- redirect resolution
def test_redirect_resolve_chain_loop_exhaustion(spark):
    from access_log_parser_spark.operators.webtext import redirect_resolve

    redirects = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "final"),   # 3-hop chain
            ("self", "self"),                          # loop
            ("p", "q"), ("q", "p"),                    # 2-cycle
            ("deep1", "deep2"), ("deep2", "deep3"),
            ("deep3", "deep4"), ("deep4", "deep5"),
            ("deep5", "done"),                         # 5 hops > max 4
        ],
        schema="url string, target string",
    )
    out = {r["url"]: r for r in
           redirect_resolve(redirects, max_hops=4).collect()}
    assert out["a"]["final_url"] == "final"
    assert out["a"]["hops"] == 3 and out["a"]["resolved"] is True
    assert out["c"]["hops"] == 1 and out["c"]["resolved"] is True
    assert out["self"]["resolved"] is False and out["self"]["hops"] == 4
    assert out["p"]["resolved"] is False
    # deep1 follows 4 hops to deep5, which still redirects -> unresolved
    assert out["deep1"]["final_url"] == "deep5"
    assert out["deep1"]["resolved"] is False
    assert out["deep2"]["final_url"] == "done"
    assert out["deep2"]["resolved"] is True and out["deep2"]["hops"] == 4


def test_redirect_resolve_multi_target_min(spark):
    from access_log_parser_spark.operators.webtext import redirect_resolve

    redirects = spark.createDataFrame(
        [("u", "zzz"), ("u", "aaa")], schema="url string, target string"
    )
    r = redirect_resolve(redirects, max_hops=3).collect()
    assert len(r) == 1
    assert r[0]["final_url"] == "aaa"  # lexicographically smallest target


# ------------------------------------------------- text normalization
def test_normalize_text_nfc_ctrl_ws(spark):
    from access_log_parser_spark.operators.webtext import normalize_text
    import unicodedata

    df = spark.createDataFrame(
        [
            (1, "Cafe\u0301  du\x07o\tx"),   # NFC + ctrl strip + collapse
            (2, "already clean"),
            (3, None),
            (4, "  pad  "),
        ],
        schema="doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in normalize_text(df).collect()}
    assert out[1]["norm_text"] == "Caf\u00e9 duo x"
    assert unicodedata.is_normalized("NFC", out[1]["norm_text"])
    assert out[1]["changed"] is True
    assert out[2]["norm_text"] == "already clean"
    assert out[2]["changed"] is False
    assert out[3]["norm_text"] is None and out[3]["changed"] is False
    assert out[4]["norm_text"] == "pad" and out[4]["changed"] is True


# ------------------------------------------------- URL template mining
def test_url_template_mining_placeholders_and_trap(spark):
    from access_log_parser_spark.operators.webtext import (
        url_template_mining,
    )

    rows = (
        [(f"https://h.example/post/{i}/view",) for i in range(30)]
        + [("https://h.example/s/deadbeefcafe1234/x",)]
        + [("https://h.example/about",)] * 3      # dup urls, no placeholder
        + [("https://h.example/v2024/short/7x",)]  # digits inside segments
    )
    out = {(r["host"], r["template"]): r for r in url_template_mining(
        spark.createDataFrame(rows, schema="url string"), trap_threshold=30
    ).collect()}
    post = out[("h.example", "/post/{N}/view")]
    assert post["n_urls"] == 30 and post["n_distinct_urls"] == 30
    assert post["has_placeholder"] is True and post["trap"] is True
    hexed = out[("h.example", "/s/{H}/x")]
    assert hexed["trap"] is False          # below threshold
    about = out[("h.example", "/about")]
    assert about["n_urls"] == 3 and about["n_distinct_urls"] == 1
    assert about["has_placeholder"] is False and about["trap"] is False
    assert ("h.example", "/v{N}/short/{N}x") in out


# ------------------------------------------------- snapshot diff
def test_snapshot_diff_statuses_and_dup_min(spark):
    from access_log_parser_spark.operators.webtext import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3"),
         ("u3", "d0")],                     # dup url -> min digest d0
        schema="url string, digest string",
    )
    new = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX"), ("u4", "d4")],
        schema="url string, digest string",
    )
    out = {r["url"]: r for r in snapshot_diff(old, new).collect()}
    assert out["u1"]["status"] == "unchanged"
    assert out["u2"]["status"] == "changed"
    assert out["u3"]["status"] == "removed" and out["u3"]["old_digest"] == "d0"
    assert out["u4"]["status"] == "added" and out["u4"]["old_digest"] is None


# ------------------------------------------------- embedding centroids
def test_embedding_centroids_mean_and_order(spark):
    from access_log_parser_spark.operators.similarity import (
        embedding_centroids,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 2.0, 10.0]), ("a", [3.0, 6.0, 20.0]),
         ("b", [5.0, 5.0, 5.0])],
        schema="label string, embedding array<double>",
    )
    out = {r["group"]: r for r in embedding_centroids(df).collect()}
    assert out["a"]["n_vectors"] == 2
    assert out["a"]["centroid"] == [2.0, 4.0, 15.0]  # dim order preserved
    assert out["b"]["centroid"] == [5.0, 5.0, 5.0]


def test_centroid_drift_metrics_and_one_sided_groups(spark):
    import math

    from access_log_parser_spark.operators.similarity import centroid_drift

    old = spark.createDataFrame(
        [("g1", [1.0, 0.0]), ("g1", [1.0, 0.0]), ("gone", [2.0, 2.0])],
        schema="label string, embedding array<double>",
    )
    new = spark.createDataFrame(
        [("g1", [0.0, 1.0]), ("fresh", [3.0, 3.0])],
        schema="label string, embedding array<double>",
    )
    out = {r["group"]: r for r in centroid_drift(old, new).collect()}
    g1 = out["g1"]
    assert g1["n_old"] == 2 and g1["n_new"] == 1
    assert g1["cosine"] == 0.0                      # orthogonal centroids
    assert g1["l2_dist"] == round(math.sqrt(2.0), 6)
    assert out["gone"]["n_new"] is None and out["gone"]["cosine"] is None
    assert out["fresh"]["n_old"] is None and out["fresh"]["l2_dist"] is None


# ------------------------------------------------- image dHash near-dup
def test_dhash_media_stub_is_deterministic_and_hex_renders(spark):
    import hashlib

    from access_log_parser_spark.operators.multimodal import dhash_media

    df = spark.createDataFrame(
        [(1, b"img-A"), (2, b"img-A"), (3, b"img-B")],
        schema="media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in
           dhash_media(df, "media_id", "payload").collect()}
    # identical payloads -> identical hashes; distinct -> different
    assert out[1]["bands"] == out[2]["bands"]
    assert out[1]["dhash_hex"] == out[2]["dhash_hex"]
    assert out[1]["bands"] != out[3]["bands"]
    assert len(out[1]["dhash_hex"]) == 16
    # pin against an independent pure-python replay of the stub
    raw = b"img-A"
    stream = hashlib.md5(raw).digest() + hashlib.md5(raw + b"\x01").digest()
    stream += hashlib.md5(raw + b"\x02").digest()
    stream += hashlib.md5(raw + b"\x03").digest()
    stream += hashlib.md5(raw + b"\x04").digest()
    g = list(stream[:72])
    expect = []
    for b in range(4):
        acc = 0
        for j in range(16):
            k = b * 16 + j
            r, c = divmod(k, 8)
            if g[r * 9 + c + 1] > g[r * 9 + c]:
                acc |= 1 << j
        expect.append(acc)
    assert list(out[1]["bands"]) == expect
    hexpect = "".join(f"{v:04x}" for v in reversed(expect))
    assert out[1]["dhash_hex"] == hexpect


def test_dhash_near_dup_pairs_and_threshold(spark):
    from access_log_parser_spark.operators.multimodal import (
        dhash_media,
        dhash_near_dup,
    )

    df = spark.createDataFrame(
        [(1, b"same"), (2, b"same"), (3, b"same"), (4, b"other")],
        schema="media_id long, payload binary",
    )
    h = dhash_media(df, "media_id", "payload")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dhash_near_dup(h, max_hamming=6).collect()}
    # all 3 identical-payload pairs at hamming 0, ordered id_a < id_b
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0
    # md5 avalanche: "other" lands far away from "same" (way over 6 bits)
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_dhash_near_dup_catches_small_band_confined_flips(spark):
    from access_log_parser_spark.operators.multimodal import dhash_near_dup

    # hand-built band rows: b differs from a by 2 bits inside band 1
    # (caught: bands 2-4 still collide); c differs from a by 2 bits in
    # EVERY band (missed by pigeonhole: no band collides) — the
    # documented recall trade
    hashes = spark.createDataFrame(
        [(1, [7, 0, 0, 0]), (2, [4, 0, 0, 0]), (3, [6, 1, 1, 1])],
        schema="media_id long, bands array<long>",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dhash_near_dup(hashes, max_hamming=6).collect()}
    assert pairs[(1, 2)] == 2
    assert (1, 3) not in pairs  # differs in all four bands -> no candidate
    assert (2, 3) not in pairs  # likewise: no band collides


# ------------------------------------------------- containment dedup
def test_containment_catches_subset_copies_jaccard_misses(spark):
    from access_log_parser_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    long_text = "the quick brown fox jumps over the lazy dog again and again"
    short_text = "the quick brown fox jumps"       # strict prefix
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "completely different words "
                                              "about unrelated topics here")],
        schema="doc_id long, text string",
    )
    cont = {(r["id_a"], r["id_b"]): r["overlap"]
            for r in containment_pairs(df, threshold=0.9).collect()}
    assert cont[(1, 2)] == 1.0                     # subset -> overlap 1
    assert (1, 3) not in cont and (2, 3) not in cont
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, threshold=0.9).collect()}
    assert (1, 2) not in jac                       # Jaccard misses it


def test_containment_threshold_and_ordering(spark):
    from access_log_parser_spark.operators.dedup import containment_pairs

    # half-overlapping shingle sets -> overlap 0.5 < 0.8 threshold
    df = spark.createDataFrame(
        [(10, "a b c d e f"), (20, "c d e f x y")],
        schema="doc_id long, text string",
    )
    assert containment_pairs(df, threshold=0.8).count() == 0
    got = containment_pairs(df, threshold=0.4).collect()
    assert len(got) == 1
    r = got[0]
    assert r["id_a"] == 10 and r["id_b"] == 20     # id_a < id_b
    assert 0.4 <= r["overlap"] < 0.8


# ------------------------------------------------- per-host rate limiter
class _FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_rate_limit_batch_greedy_semantics(spark):
    from access_log_parser_spark.streaming.ratelimit import rate_limit_batch

    # h1 at delay 10: t=0 ok; t=5 denied (5 < 0+10); t=9 denied — the
    # greedy point: 9 >= 5+10 is irrelevant because 5 was DENIED and did
    # not advance the clock; t=10 ok; t=15 denied; h2 independent.
    df = spark.createDataFrame(
        [("h1", "a", 0), ("h1", "b", 5), ("h1", "c", 9),
         ("h1", "d", 10), ("h1", "e", 15), ("h2", "z", 1)],
        schema="host string, url string, ts_epoch long",
    )
    out = {(r["host"], r["url"]): r["allowed"]
           for r in rate_limit_batch(df, delay_seconds=10).collect()}
    assert out == {("h1", "a"): True, ("h1", "b"): False,
                   ("h1", "c"): False, ("h1", "d"): True,
                   ("h1", "e"): False, ("h2", "z"): True}


def test_rate_limit_ties_break_by_url(spark):
    from access_log_parser_spark.streaming.ratelimit import rate_limit_batch

    df = spark.createDataFrame(
        [("h", "b", 100), ("h", "a", 100)],
        schema="host string, url string, ts_epoch long",
    )
    out = {r["url"]: r["allowed"]
           for r in rate_limit_batch(df, delay_seconds=10).collect()}
    assert out == {"a": True, "b": False}  # 'a' sorts first, wins the slot


def test_rate_limiter_state_carries_across_batches():
    import pandas as pd

    from access_log_parser_spark.streaming.ratelimit import make_rate_limiter

    fn = make_rate_limiter(10)
    state = _FakeState()
    rows = []
    for batch in ([("u1", 0), ("u2", 5)], [("u3", 8), ("u4", 12)]):
        pdf = pd.DataFrame(batch, columns=["url", "ts_epoch"])
        for res in fn(("h",), iter([pdf]), state):
            rows.extend(map(tuple, res.itertuples(index=False)))
    # u3 at t=8 is denied because batch-1's allowed fetch at t=0 is in
    # STATE; u4 at t=12 is allowed
    assert rows == [("h", "u1", 0, True), ("h", "u2", 5, False),
                    ("h", "u3", 8, False), ("h", "u4", 12, True)]
    assert state._v == (12,)


def test_rate_limit_stream_matches_batch_twin(spark, tmp_path):
    import pandas as pd

    from access_log_parser_spark.streaming.ratelimit import (
        rate_limit_batch,
        rate_limit_stream,
    )

    # two micro-batch files in event-time order
    rows1 = [("h%d" % (i % 3), "u%03d" % i, 1_700_000_000 + i * 7)
             for i in range(30)]
    rows2 = [("h%d" % (i % 3), "u%03d" % i, 1_700_000_000 + i * 7)
             for i in range(30, 60)]
    src = tmp_path / "req"
    src.mkdir()
    cols = ["host", "url", "ts"]

    def write(rows, name):
        # epoch-second longs; the stream's long->timestamp->long cast
        # chain is the identity on them
        pd.DataFrame(rows, columns=cols).to_parquet(src / name)

    write(rows1, "b1.parquet")
    write(rows2, "b2.parquet")
    schema = "host string, url string, ts long"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    out_q = (
        rate_limit_stream(stream, delay_seconds=20)
        .writeStream.format("memory")
        .queryName("rl_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    out_q.awaitTermination(120)
    got = {
        (r["host"], r["url"]): (r["ts_epoch"], r["allowed"])
        for r in spark.sql("SELECT * FROM rl_out").collect()
    }
    batch_df = spark.createDataFrame(
        [(h, u, t) for h, u, t in rows1 + rows2],
        schema="host string, url string, ts_epoch long",
    )
    want = {
        (r["host"], r["url"]): (r["ts_epoch"], r["allowed"])
        for r in rate_limit_batch(batch_df, delay_seconds=20).collect()
    }
    assert got == want and len(got) == 60


# -------------------------------------------- HTTP response header parse
def test_parse_http_full_headers_and_charset():
    from access_log_parser_spark.sources.warc import (
        _parse_http_full,
        _split_content_type,
    )

    block = (
        b"HTTP/1.1 301 Moved Permanently\r\n"
        b"Content-Type: Text/HTML; charset=\"ISO-8859-1\"\r\n"
        b"Location: https://a.example/x\r\n"
        b"Location: https://b.example/dup\r\n"   # repeated: first wins
        b"Content-Length: 4\r\n"
        b"\r\nbody"
    )
    status, hdrs, body = _parse_http_full(block)
    assert status == 301 and body == b"body"
    assert hdrs["location"] == "https://a.example/x"
    assert _split_content_type(hdrs["content-type"]) == (
        "text/html", "iso-8859-1"
    )
    assert _split_content_type("application/json") == (
        "application/json", None
    )
    assert _split_content_type(None) == (None, None)
    # non-HTTP and unparsable status lines fail visibly, not silently
    assert _parse_http_full(b"GARBAGE") == (None, {}, b"GARBAGE")
    assert _parse_http_full(b"HTTP/1.1 abc\r\n\r\nx") == (
        None, {}, b"HTTP/1.1 abc\r\n\r\nx"
    )


def test_parse_warc_http_and_status_class(spark):
    from access_log_parser_spark.sources.warc import (
        parse_warc_http,
        status_class_col,
    )

    def member(block: bytes, wtype: bytes = b"response") -> bytes:
        return (
            b"WARC/1.0\r\nWARC-Type: " + wtype
            + b"\r\nWARC-Target-URI: https://w.example/p"
            + b"\r\nWARC-Date: 2024-01-01T00:00:00Z"
            + b"\r\nContent-Length: " + str(len(block)).encode()
            + b"\r\n\r\n" + block + b"\r\n\r\n"
        )

    ok = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Length: 2\r\n\r\nhi"
    )
    data = member(ok) + member(b"meta", b"metadata") + member(b"NOT HTTP")
    df = spark.createDataFrame(
        [("f1", bytearray(data))], schema="path string, content binary"
    )
    out = (
        parse_warc_http(df)
        .withColumn("cls", status_class_col(F.col("http_status")))
        .collect()
    )
    # metadata record filtered; response records keep their WARC index
    assert [(r["record_idx"], r["http_status"], r["cls"]) for r in out] == [
        (0, 200, "2xx"), (2, None, "unmatched")
    ]
    assert out[0]["content_type"] == "text/plain"
    assert out[0]["content_length_hdr"] == 2
    assert bytes(out[0]["html"]) == b"hi"
    assert bytes(out[1]["html"]) == b"NOT HTTP"   # raw block kept


def test_status_class_boundaries(spark):
    from access_log_parser_spark.sources.warc import status_class_col

    df = spark.createDataFrame(
        [(99,), (100,), (599,), (600,), (None,)], schema="s int"
    )
    got = [
        r["c"]
        for r in df.select(
            status_class_col(F.col("s")).alias("c")
        ).collect()
    ]
    assert got == ["other", "1xx", "5xx", "other", "unmatched"]


# --------------------------------------------------- trustrank / spam mass
def test_trustrank_seed_bias_and_python_replay(spark):
    from access_log_parser_spark.operators.graph import trustrank

    # a -> b -> c, d isolated-in-graph via d -> a; seed = {a}
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "a")], schema="src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], schema="node string")
    got = {
        r["node"]: r["trust"]
        for r in trustrank(edges, seeds, iterations=2).collect()
    }
    # python replay of the pinned semantics
    t = {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0}
    tele = dict(t)
    deg = {"a": 1, "b": 1, "d": 1}
    for _ in range(2):
        mass = {}
        for s, d_ in [("a", "b"), ("b", "c"), ("d", "a")]:
            mass[d_] = mass.get(d_, 0.0) + t[s] / deg[s]
        t = {
            v: (1.0 - 0.85) * tele[v] + 0.85 * mass.get(v, 0.0)
            for v in t
        }
    assert got == {k: round(v, 6) for k, v in t.items()}
    # trust only flows FROM seeds: d has no in-path from a -> stays 0;
    # after 2 rounds the front has propagated a->b->c, both positive
    assert got["d"] == 0.0 and got["b"] > 0.0 and got["c"] > 0.0


def test_trustrank_seeds_outside_graph_and_empty(spark):
    from access_log_parser_spark.operators.graph import trustrank

    edges = spark.createDataFrame(
        [("a", "b")], schema="src string, dst string"
    )
    # seed 'z' is not in the graph: S counts only in-graph seeds
    seeds = spark.createDataFrame([("a",), ("z",)], schema="node string")
    got = {
        r["node"]: r["trust"]
        for r in trustrank(edges, seeds, iterations=1).collect()
    }
    assert got["a"] == round(0.15 * 1.0, 6)          # S == 1, not 2
    assert got["b"] == round(0.85 * 1.0, 6)
    # all seeds outside the graph -> all-zero trust, no crash
    only_z = spark.createDataFrame([("z",)], schema="node string")
    got0 = {
        r["node"]: r["trust"]
        for r in trustrank(edges, only_z, iterations=1).collect()
    }
    assert got0 == {"a": 0.0, "b": 0.0}


def test_spam_mass_identity(spark):
    from access_log_parser_spark.operators.graph import spam_mass

    pr = spark.createDataFrame(
        [("a", 0.5), ("b", 0.25)], schema="node string, rank double"
    )
    tr = spark.createDataFrame(
        [("a", 0.5), ("b", 0.05)], schema="node string, trust double"
    )
    got = {
        r["node"]: r["spam_mass"] for r in spam_mass(pr, tr).collect()
    }
    assert got == {"a": 0.0, "b": 0.8}   # (0.25-0.05)/0.25


# ------------------------------------------------------- link reciprocity
def test_link_reciprocity_tiers_and_dedup(spark):
    from access_log_parser_spark.operators.graph import link_reciprocity

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # mutual pair
            ("a", "b"),                       # duplicate: must not double
            ("a", "c"),                       # one-way
            ("c", "c"),                       # self-loop: dropped
            ("d", "a"),                       # one-way into a
        ],
        schema="src string, dst string",
    )
    got = {
        r["node"]: (r["n_out"], r["n_reciprocal"], r["reciprocity"])
        for r in link_reciprocity(edges).collect()
    }
    assert got == {
        "a": (2, 1, 0.5),    # b reciprocated, c not
        "b": (1, 1, 1.0),
        "d": (1, 0, 0.0),
    }
    assert "c" not in got    # only the self-loop: no out-edges left


# ---------------------------------------------- trigram stupid backoff
def test_trigram_backoff_python_replay(spark):
    """Pin the backoff cascade against a pure-Python replay on a tiny
    corpus engineered to hit every tier: seen trigram, unseen trigram
    with seen bigram, unseen bigram, and the pos-0/pos-1 edges."""
    import math

    from access_log_parser_spark.operators.text_quality import (
        trigram_backoff_logprob,
    )

    corpus = {
        1: "a b c a b c",     # 'a b c' trigram seen twice
        2: "a b d",           # 'a b d' unseen trigram, 'b d' seen once
        3: "e a c",           # 'a c' unseen bigram -> unigram backoff
    }
    df = spark.createDataFrame(
        list(corpus.items()), schema="doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
        for r in trigram_backoff_logprob(df).collect()
    }

    # python reference
    seqs = {k: v.split() for k, v in corpus.items()}
    uni: dict = {}
    bi: dict = {}
    tri: dict = {}
    for s in seqs.values():
        for i, w in enumerate(s):
            uni[w] = uni.get(w, 0) + 1
            if i >= 1:
                bi[(s[i - 1], w)] = bi.get((s[i - 1], w), 0) + 1
            if i >= 2:
                key = (s[i - 2], s[i - 1], w)
                tri[key] = tri.get(key, 0) + 1
    T = sum(uni.values())

    def s_uni(w):
        return uni[w] / T

    def s_bi(v, w):
        return bi[(v, w)] / uni[v] if (v, w) in bi else 0.4 * s_uni(w)

    def s_tri(u, v, w):
        if (u, v, w) in tri:
            return tri[(u, v, w)] / bi[(u, v)]
        return 0.4 * s_bi(v, w)

    for k, s in seqs.items():
        lps = [math.log(s_uni(s[0]))]
        if len(s) > 1:
            lps.append(math.log(s_bi(s[0], s[1])))
        for i in range(2, len(s)):
            lps.append(math.log(s_tri(s[i - 2], s[i - 1], s[i])))
        assert got[k] == (len(s), round(sum(lps) / len(lps), 4)), k


# ------------------------------------- weighted sampling w/o replacement
def test_weighted_sample_topk_python_replay(spark):
    import hashlib
    import math

    from access_log_parser_spark.operators.sampling import (
        weighted_sample_topk,
    )

    rows = [(i, float(i % 3 + 1)) for i in range(40)]
    df = spark.createDataFrame(rows, schema="doc_id long, weight double")
    got = sorted(
        (r["doc_id"], r["es_key"])
        for r in weighted_sample_topk(df, k=5, weight_col="weight").collect()
    )

    def es(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return -math.log((h + 1) / float(2**60 + 1)) / w

    want = sorted(
        (i, round(es(i, w), 6))
        for i, w in sorted(rows, key=lambda p: (es(p[0], p[1]), p[0]))[:5]
    )
    assert got == want


def test_weighted_sample_excludes_nonpositive_and_is_pps(spark):
    from access_log_parser_spark.operators.sampling import (
        weighted_sample_topk,
    )

    df = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, None), (4, 1e9), (5, 1e-12)],
        schema="doc_id long, weight double",
    )
    got = [
        r["doc_id"]
        for r in weighted_sample_topk(df, k=2, weight_col="weight").collect()
    ]
    # only 4 and 5 are eligible; the huge weight must rank first
    assert got == [4, 5]


def test_weighted_sample_per_stratum_counts(spark):
    from access_log_parser_spark.operators.sampling import (
        weighted_sample_topk,
    )

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 2), 1.0) for i in range(20)],
        schema="doc_id long, source string, weight double",
    )
    out = weighted_sample_topk(
        df, k=3, weight_col="weight", stratum_col="source"
    )
    cnt = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert cnt == {"s0": 3, "s1": 3}


# ----------------------------------------------------------- page meta
def test_page_meta_extraction_and_soft404(spark):
    from access_log_parser_spark.operators.webtext import page_meta

    pages = {
        1: ('<html lang="EN-gb"><head><title>  A\n  B </title>'
            '<meta name="description" content="d1">'
            '<meta property="og:title" content="o1"></head><body>x'),
        2: ('<html><head><meta content="d2" name="description">'
            '<meta content="o2" property="og:title"></head><body>'),
        3: '<html><head><title>Page Not Found</title></head><body>ok',
        4: "<html><body>no head at all",
        5: '<html><head><title>error</title><title>second</title></head>',
    }
    df = spark.createDataFrame(
        [(i, bytearray(h.encode())) for i, h in pages.items()],
        schema="doc_id long, html binary",
    )
    got = {r["doc_id"]: r.asDict() for r in page_meta(df).collect()}
    assert got[1]["title"] == "A B"                   # ws-normalized
    assert got[1]["meta_description"] == "d1"
    assert got[1]["og_title"] == "o1"
    assert got[1]["html_lang"] == "en-gb"             # lowercased
    assert got[1]["title_chars"] == 3
    assert got[1]["looks_soft404"] is False
    assert got[2]["meta_description"] == "d2"         # content-first order
    assert got[2]["og_title"] == "o2"
    assert got[2]["title"] is None and got[2]["title_chars"] == 0
    assert got[3]["looks_soft404"] is True            # 'not found' title
    assert got[4] == {
        "doc_id": 4, "title": None, "meta_description": None,
        "og_title": None, "html_lang": None, "title_chars": 0,
        "looks_soft404": False,
    }
    assert got[5]["title"] == "error"                 # first title wins
    assert got[5]["looks_soft404"] is True


# ------------------------------------------------------ triangle counts
def test_triangle_counts_known_graph(spark):
    from access_log_parser_spark.operators.graph import triangle_counts

    # K4 on {a,b,c,d} minus edge (c,d), plus pendant (d,e); given as
    # DIRECTED with duplicates and a self-loop to exercise normalization
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"),
         ("b", "d"), ("d", "e"), ("e", "e"), ("a", "b")],
        schema="src string, dst string",
    )
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in triangle_counts(edges).collect()
    }
    # triangles: abc, abd (cd missing kills acd/bcd)
    assert got == {
        "a": (3, 2, round(2 * 2 / (3 * 2), 6)),
        "b": (3, 2, round(2 * 2 / (3 * 2), 6)),
        "c": (2, 1, 1.0),
        "d": (3, 1, round(2 * 1 / (3 * 2), 6)),
        "e": (1, 0, 0.0),
    }


# ------------------------------------------------------- bot detection
def test_bot_signals_flags_and_score(spark):
    from access_log_parser_spark.operators.botdetect import bot_signals

    rows = []
    # 'crawler': 12 requests, all-distinct URIs, half errors, bot UA
    for i in range(12):
        rows.append(("1.1.1.1", f"/p{i}", "404" if i % 2 else "200",
                     "FancyBot/1.0"))
    # 'human': 12 requests over 3 URIs, no errors, browser UA
    for i in range(12):
        rows.append(("2.2.2.2", f"/page{i % 3}", "200", "Mozilla/5.0"))
    # 'curl sampler': 4 requests (below min_requests), OK statuses
    for i in range(4):
        rows.append(("3.3.3.3", f"/x{i}", "200", "curl/8.0"))
    # bad-status strings must not count as errors
    rows.append(("4.4.4.4", "/y", "abc", "Mozilla/5.0"))
    df = spark.createDataFrame(
        rows,
        schema="remote_host string, request_uri string, status string, "
               "user_agent string",
    )
    got = {r["host"]: r.asDict() for r in bot_signals(df).collect()}
    c = got["1.1.1.1"]
    assert (c["ua_bot"], c["bot_score"], c["is_bot"]) == (True, 3, True)
    assert c["uri_diversity"] == 1.0 and c["err_ratio"] == 0.5
    h = got["2.2.2.2"]
    assert (h["ua_bot"], h["bot_score"], h["is_bot"]) == (False, 0, False)
    assert h["n_uris"] == 3
    s = got["3.3.3.3"]      # UA fires, diversity gated by min_requests
    assert (s["ua_bot"], s["bot_score"], s["is_bot"]) == (True, 1, False)
    assert got["4.4.4.4"]["err_ratio"] == 0.0


# --------------------------------------- sitemap tree / meta refresh
def test_sitemap_tree_kinds(spark):
    from access_log_parser_spark.operators.webtext import sitemap_tree

    rows = [
        ("a.ex", '<sitemapindex><sitemap><loc>https://a.ex/s1.xml</loc>'
                 '</sitemap></sitemapindex>'),
        ("b.ex", '<urlset><url><loc>https://b.ex/p</loc></url></urlset>'),
        ("c.ex", 'plain text <loc>https://c.ex/x</loc>'),
        ("d.ex", None),
    ]
    df = spark.createDataFrame(rows, schema="host string, sitemap_xml string")
    got = {
        (r["host"], r["position"]): (r["kind"], r["loc"])
        for r in sitemap_tree(df).collect()
    }
    assert got == {
        ("a.ex", 1): ("index", "https://a.ex/s1.xml"),
        ("b.ex", 1): ("urlset", "https://b.ex/p"),
        ("c.ex", 1): ("unknown", "https://c.ex/x"),
    }


def test_meta_refresh_variants(spark):
    from access_log_parser_spark.operators.webtext import (
        meta_refresh_redirects,
    )

    pages = {
        1: '<meta http-equiv="refresh" content="0;url=https://t/x">',
        2: '<meta content="5; url=/rel" http-equiv="Refresh">',
        3: '<meta http-equiv="refresh" content="30">',      # no url=
        4: '<meta name="refresh" content="0;url=https://no">',  # wrong attr
    }
    df = spark.createDataFrame(
        [(i, bytearray(h.encode())) for i, h in pages.items()],
        schema="doc_id long, html binary",
    )
    got = {
        r["doc_id"]: (r["refresh_seconds"], r["refresh_target"])
        for r in meta_refresh_redirects(df).collect()
    }
    assert got == {1: (0, "https://t/x"), 2: (5, "/rel")}


# ------------------------------------------------------ postings index
def test_build_postings_rank_and_cap(spark):
    from access_log_parser_spark.operators.retrieval import build_postings

    docs = [
        (1, "x x x y"),
        (2, "x x z"),
        (3, "x y y"),
        (4, "x"),
    ]
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    got = {
        r["token"]: (r["df_docs"], r["postings"])
        for r in build_postings(df, max_postings=2).collect()
    }
    # x: tf 3,2,1,1 over docs 1,2,3,4 -> df 4, capped to top-2
    assert got["x"] == (4, "1:3,2:2")
    # y: tf 2 in doc3, 1 in doc1 -> rank by tf desc
    assert got["y"] == (2, "3:2,1:1")
    assert got["z"] == (1, "2:1")


# -------------------------------------------------- key skew profile
def test_key_skew_profile_surfaces_hot_key(spark):
    from access_log_parser_spark.enrich import key_skew_profile

    rows = [("hot",)] * 60 + [(f"c{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, schema="k string")
    got = key_skew_profile(df, "k", topk=3).collect()
    assert [(r["rank"], r["key"], r["n_rows"]) for r in got] == [
        (1, "hot", 60), (2, "c0", 1), (3, "c1", 1)
    ]
    top = got[0]
    assert top["share"] == 0.6
    # mean rows/key = 100/41; imbalance = 60 / (100/41)
    assert top["imbalance"] == round(60 / (100 / 41), 6)


# ----------------------------------------------------------- NDCG@k
def test_ndcg_python_replay(spark):
    import math

    from access_log_parser_spark.operators.evaluation import ndcg_at_k

    rows = [
        # query A: ranker puts rel=0 first (imperfect), rel 2 second
        ("A", 1, 9.0, 0), ("A", 2, 8.0, 2), ("A", 3, 7.0, 1),
        # query B: perfect ranking -> ndcg 1.0
        ("B", 4, 5.0, 3), ("B", 5, 4.0, 1), ("B", 6, 3.0, 0),
        # query C: all irrelevant -> idcg 0 -> ndcg 0 by contract
        ("C", 7, 2.0, 0), ("C", 8, 1.0, 0),
    ]
    df = spark.createDataFrame(
        rows, schema="query_id string, doc_id long, score double, rel int"
    )
    got = {r["query_id"]: r.asDict() for r in ndcg_at_k(df, k=2).collect()}

    def dcg(rels):
        return sum(
            (2**r - 1) / math.log2(i + 2) for i, r in enumerate(rels[:2])
        )

    a = got["A"]
    assert a["dcg"] == round(dcg([0, 2]), 6)
    assert a["idcg"] == round(dcg([2, 1]), 6)
    assert a["ndcg"] == round(dcg([0, 2]) / dcg([2, 1]), 6)
    assert got["B"]["ndcg"] == 1.0
    assert got["C"] == {"query_id": "C", "dcg": 0.0, "idcg": 0.0,
                        "ndcg": 0.0}


# ------------------------------------------------------ z-score spikes
def test_zscore_spikes_flags_planted_spike(spark):
    from access_log_parser_spark.streaming.anomaly import zscore_spikes

    # 20 flat buckets: a lone outlier's z is bounded by (n-1)/sqrt(n),
    # so n must exceed ~9.5 buckets before ANY single spike can clear
    # z=3 — with n=10 the bound is 2.846 (checked: it doesn't fire)
    rows = [("k", b) for b in range(20) for _ in range(5)]  # flat 5/bucket
    rows += [("k", 0)] * 45                                  # bucket 0 -> 50
    rows += [("flat", b) for b in range(4)]                  # zero variance
    rows += [("tiny", 0), ("tiny", 1)]                       # < min_buckets
    df = spark.createDataFrame(rows, schema="grp string, hour long")
    got = {
        (r["key"], r["bucket"]): (r["c"], r["z"], r["is_spike"])
        for r in zscore_spikes(df, key_col="grp", bucket_col="hour").collect()
    }
    n, s1, s2 = 20, 145, 50 * 50 + 19 * 25
    var = (s2 - s1 * s1 / n) / (n - 1)
    mean = s1 / n
    want_z = round((50 - mean) / var**0.5, 4)
    assert got[("k", 0)] == (50, want_z, True)
    assert got[("k", 1)][2] is False and got[("k", 1)][0] == 5
    assert got[("flat", 0)] == (1, None, False)   # zero variance -> NULL z
    assert got[("tiny", 0)] == (1, None, False)   # history too short


# -------------------------------------------- canonical pick / hreflang
def test_canonical_pick_fallback_and_best(spark):
    from access_log_parser_spark.operators.webtext import canonical_pick

    rows = [
        ("https://a/1", "https://c/x", 5.0),
        ("https://a/2", "https://c/x", 9.0),   # wins cluster x
        ("https://a/3", None, 1.0),            # no canonical -> own URL
        ("https://a/4", "", 2.0),              # empty -> own URL
        ("https://a/5", "https://c/y", 3.0),
        ("https://a/0", "https://c/y", 3.0),   # tie -> smaller url wins
    ]
    df = spark.createDataFrame(
        rows, schema="url string, canonical_url string, quality double"
    )
    got = {
        r["canonical_key"]: (r["url"], r["cluster_size"])
        for r in canonical_pick(df).collect()
    }
    assert got == {
        "https://c/x": ("https://a/2", 2),
        "https://a/3": ("https://a/3", 1),
        "https://a/4": ("https://a/4", 1),
        "https://c/y": ("https://a/0", 2),
    }


def test_hreflang_both_orders_and_case(spark):
    from access_log_parser_spark.operators.webtext import (
        hreflang_alternates,
    )

    html = (
        '<html><head>'
        '<link rel="alternate" hreflang="EN-us" href="https://x/en">'
        '<link rel="alternate" href="https://x/de" hreflang="de">'
        '<link rel="stylesheet" href="https://x/css">'      # not alternate
        '</head><body>'
    )
    df = spark.createDataFrame(
        [(1, bytearray(html.encode())), (2, bytearray(b"<html></html>"))],
        schema="doc_id long, html binary",
    )
    got = sorted(
        (r["doc_id"], r["hreflang"], r["href"])
        for r in hreflang_alternates(df).collect()
    )
    assert got == [(1, "de", "https://x/de"), (1, "en-us", "https://x/en")]


# -------------------------------------------------- search referrers
def test_search_referrers_grammar(spark):
    from access_log_parser_spark.operators.referrers import (
        search_referrers,
    )

    refs = [
        "https://www.google.com/search?q=big+data&hl=en",
        "https://www.google.com/search?q=big+data",       # same term x2
        "https://www.bing.com/search?form=X&q=Big+Data",  # case-folds in
        "https://duckduckgo.com/?q=",                     # empty -> drop
        "https://yandex.ru/search/?query=%D0%BF",         # %-escapes verbatim
        "https://site.example/?q=hidden",                 # non-engine -> other
        "https://news.example/article",                   # no q -> drop
        "-",                                              # direct -> drop
        None,                                             # null -> drop
    ]
    df = spark.createDataFrame([(r,) for r in refs], schema="referer string")
    got = {
        (r["engine"], r["term"]): r["hits"]
        for r in search_referrers(df).collect()
    }
    assert got == {
        ("google", "big data"): 2,
        ("bing", "big data"): 1,
        ("yandex", "%d0%bf"): 1,
        ("other", "hidden"): 1,
    }


# ------------------------------------------------ IDN homograph signals
def test_idn_homograph_lookalikes(spark):
    from access_log_parser_spark.operators.webtext import (
        idn_homograph_signals,
    )

    urls = {
        1: "https://paypa1.com/login",          # leet clone -> flags
        2: "https://paypal.com/login",          # genuine -> must NOT flag
        3: "https://www.g00gle.net/q",          # 2nd-level label used
        4: "https://xn--pple-43d.com/",         # punycode flag
        5: "https://appl.example.net/",         # 'example' label, benign
        6: "https://micr0soft.com/x",           # 0->o fold
    }
    df = spark.createDataFrame(
        list(urls.items()), schema="doc_id long, url string"
    )
    got = {r["doc_id"]: r.asDict() for r in idn_homograph_signals(df).collect()}
    assert got[1]["lookalike"] is True
    assert (got[1]["nearest_brand"], got[1]["distance"]) == ("paypal", 0)
    assert got[2]["lookalike"] is False and got[2]["distance"] == 0
    assert got[3]["label"] == "g00gle" and got[3]["lookalike"] is True
    assert got[4]["has_punycode"] is True and got[4]["lookalike"] is False
    assert got[5]["lookalike"] is False
    assert got[6]["nearest_brand"] == "microsoft"
    assert got[6]["distance"] == 0 and got[6]["lookalike"] is True


def test_rate_limit_batch_fuzz_vs_python_reference(spark):
    """Seeded sweep: the distributed greedy gate must agree with a
    pure-Python per-host walk on 300 random requests over 7 hosts with
    clustered timestamps (many within-delay collisions)."""
    import random

    from access_log_parser_spark.streaming.ratelimit import rate_limit_batch

    rng = random.Random(17)
    rows = [
        ("h%d" % rng.randint(0, 6), "u%03d" % i, rng.randint(0, 120))
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, schema="host string, url string, ts_epoch long"
    )
    got = {
        (r["host"], r["url"]): r["allowed"]
        for r in rate_limit_batch(df, delay_seconds=15).collect()
    }
    byhost: dict = {}
    for h, u, t in rows:
        byhost.setdefault(h, []).append((t, u))
    want = {}
    for h, reqs in byhost.items():
        last = None
        for t, u in sorted(reqs):
            ok = last is None or t >= last + 15
            if ok:
                last = t
            want[(h, u)] = ok
    assert got == want
