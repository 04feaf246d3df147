"""bench.py's headline job counts its write from the committed part files'
footers: on synthetic pages the counters are the corpus's closed form."""

from __future__ import annotations

import bench


def test_parse_route_job_counts_the_closed_form(spark, tmp_path):
    n_pages = 50
    r = bench.parse_route_job(spark, n_pages, str(tmp_path / "run"))
    lines = n_pages * bench.LINES_PER_PAGE
    unmatched = n_pages * (bench.LINES_PER_PAGE // 5)
    assert (r["docs"], r["lines"], r["unmatched"]) == (n_pages, lines, unmatched)
    assert r["matched"] == lines - unmatched
    assert r["lines"] == r["matched"] + r["unmatched"] + r["excluded"] + r["skipped"]
    assert r["elapsed"] > 0
