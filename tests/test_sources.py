"""File / gzip / zip source tests, mirroring the reference's testdata-based
tests (/root/reference/parser_core_test.go:704-1356): same content via
plain file, .gz and .zip must produce identical output; zip-entry results
merge with per-entry error tagging and entry lists
(parser_core_test.go:1236-1286 golden: Total 15, Matched 9, Unmatched 6)."""

import gzip
import zipfile

import pytest

import golden_s3 as g
from access_log_parser_spark import new_s3_parser


@pytest.fixture(scope="module")
def datadir(tmp_path_factory):
    d = tmp_path_factory.mktemp("srcdata")
    (d / "sample_s3_all_match.log").write_text(g.ALL_MATCH_INPUT + "\n")
    with gzip.open(d / "sample_s3_all_match.log.gz", "wt") as f:
        f.write(g.ALL_MATCH_INPUT + "\n")
    with zipfile.ZipFile(d / "sample_s3.zip", "w") as z:
        z.writestr("sample_s3_all_match.log", g.ALL_MATCH_INPUT + "\n")
        z.writestr("sample_s3_contains_unmatch.log", g.CONTAINS_UNMATCH_INPUT + "\n")
        z.writestr("sample_s3_all_unmatch.log", g.ALL_UNMATCH_INPUT + "\n")
    return d


def test_parse_file(spark, datadir):
    out, r = new_s3_parser(spark).parse_file(str(datadir / "sample_s3_all_match.log"))
    assert out == g.ALL_MATCH_DATA
    assert r.counters() == (5, 5, 0, 0, 0)
    assert r.source == "sample_s3_all_match.log"


def test_parse_file_literal_glob_metachar_name(spark, datadir, tmp_path):
    """A literal file name containing a glob metachar (``[``, ``{``) must
    parse like any other file through every file verb, as the reference's
    glob-free os.Open does: the existing path reaches the Hadoop glob
    layer escaped (regression: 'cannot open file' for ``access[1].log``,
    PATH_NOT_FOUND for ``a{1}.log`` and for ``z[1].zip``/``z{1}.zip``)."""
    import shutil

    parser = new_s3_parser(spark)
    for name in ("access[1].log", "a{1}.log"):
        p = tmp_path / name
        shutil.copy(str(datadir / "sample_s3_all_match.log"), str(p))
        out, r = parser.parse_file(str(p))
        assert out == g.ALL_MATCH_DATA
        assert r.counters() == (5, 5, 0, 0, 0)
        assert r.source == name
    for name in ("access[1].log.gz", "a{1}.log.gz"):
        p = tmp_path / name
        shutil.copy(str(datadir / "sample_s3_all_match.log.gz"), str(p))
        out, r = parser.parse_gzip(str(p))
        assert out == g.ALL_MATCH_DATA
        assert r.counters() == (5, 5, 0, 0, 0)
        assert r.source == name
    for name in ("z[1].zip", "z{1}.zip"):
        p = tmp_path / name
        shutil.copy(str(datadir / "sample_s3.zip"), str(p))
        out, r = parser.parse_zip_entries(str(p), "*all_match*")
        assert out == g.ALL_MATCH_DATA
        assert r.counters() == (5, 5, 0, 0, 0)
        assert r.source == name
        assert r.zip_entries == ["sample_s3_all_match.log"]


def test_parse_gzip(spark, datadir):
    out, r = new_s3_parser(spark).parse_gzip(
        str(datadir / "sample_s3_all_match.log.gz")
    )
    assert out == g.ALL_MATCH_DATA
    assert r.counters() == (5, 5, 0, 0, 0)


def test_parse_zip_entries_merged(spark, datadir):
    out, r = new_s3_parser(spark).parse_zip_entries(str(datadir / "sample_s3.zip"))
    # merged counters across 3 entries (golden parser_core_test.go:1236-1286)
    assert r.counters() == (15, 9, 6, 0, 0)
    assert r.source == "sample_s3.zip"
    assert r.zip_entries == [
        "sample_s3_all_match.log",
        "sample_s3_all_unmatch.log",
        "sample_s3_contains_unmatch.log",
    ]
    # errors tagged with entry name; line numbers restart per entry
    entries = {(e.entry, e.line_number) for e in r.errors}
    assert ("sample_s3_contains_unmatch.log", 4) in entries
    assert {e for e, _ in entries} == {
        "sample_s3_contains_unmatch.log",
        "sample_s3_all_unmatch.log",
    }
    assert len(out) == 9


def test_parse_zip_entries_glob(spark, datadir):
    out, r = new_s3_parser(spark).parse_zip_entries(
        str(datadir / "sample_s3.zip"), "*all_match*"
    )
    assert r.counters() == (5, 5, 0, 0, 0)
    assert out == g.ALL_MATCH_DATA


def test_multi_file_glob(spark, datadir):
    # directory scan: one source per file
    out, r = new_s3_parser(spark).parse_file(str(datadir / "*.log"))
    assert r.counters() == (5, 5, 0, 0, 0)


def test_parse_ltsv_gzip_roundtrip(spark, tmp_path):
    # LTSV corpus through the gzip scan (reference testdata matrix:
    # ltsv x .gz), counters + golden output preserved
    import gzip as gz

    import golden_ltsv as gl
    from access_log_parser_spark import LTSVParser

    p = tmp_path / "ltsv.log.gz"
    with gz.open(p, "wt") as f:
        f.write(gl.CONTAINS_UNMATCH_INPUT + "\n")
    out, r = LTSVParser(spark).parse_gzip(str(p))
    assert r.counters() == (5, 4, 1, 0, 0)
    assert r.input_type == "gzip"
    assert len(out) == 4


def test_ip_prefix_enrich(spark):
    from access_log_parser_spark.enrich import ip_prefix_enrich

    facts = spark.createDataFrame(
        [(1, "10.1.0.5"), (2, "10.2.0.9"), (3, "172.16.0.1")],
        "id long, remote_ip string",
    )
    geo = spark.createDataFrame(
        [("10.1.0", "US"), ("10.2.0", "DE")], "ip_prefix string, country string"
    )
    out = {r["id"]: r["country"] for r in
           ip_prefix_enrich(facts, geo).collect()}
    assert out == {1: "US", 2: "DE", 3: None}


def test_path_error_semantics(spark):
    """Reference error parity (parser_core.go:39-40, 487-531): empty path
    and unopenable file fail fast with the reference's messages."""
    import pytest

    from access_log_parser_spark import new_s3_parser

    p = new_s3_parser(spark)
    with pytest.raises(ValueError, match="empty path detected"):
        p.parse_file("")
    with pytest.raises(FileNotFoundError, match="cannot open file"):
        p.parse_file("/no/such/file.log")
    with pytest.raises(ValueError, match="empty path detected"):
        p.parse_zip_entries("")
    with pytest.raises(FileNotFoundError, match="cannot open file"):
        p.parse_gzip("/no/such/*.gz")


def test_cancellation_surface(spark):
    """ctx-cancellation parity: parse actions run under the parser's job
    group (so cancel() can abort them) and cancel() is a safe no-op when
    idle; a parse after cancel still works."""
    import tests.golden_s3 as g

    p = new_s3_parser(spark)
    p.cancel()  # idle: no-op
    out, r = p.parse_string(g.ALL_MATCH_INPUT)
    assert r.counters() == (5, 5, 0, 0, 0)
    # The group is thread-local driver state: _run clears it after the
    # action so later unrelated jobs on this thread can't be killed by a
    # subsequent cancel() (interruptOnCancel=True).
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    p.cancel()  # after completion: no in-flight jobs, still safe
    out2, r2 = p.parse_string(g.ALL_MATCH_INPUT)
    assert r2.counters() == (5, 5, 0, 0, 0)


def test_parse_zip_entries_runs_in_the_parser_job_group(spark, datadir):
    """cancel() reaches a zip-entries parse: its actions carry the parser's
    job group like every other verb's, and the group is cleared after."""
    p = new_s3_parser(spark)
    p.parse_zip_entries(str(datadir / "sample_s3.zip"))
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(p._job_group)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
