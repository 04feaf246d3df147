"""SQL-surface UDTF (functions/sql_udtf.py): LATERAL parse over a table
must match the engine's extract_fields on the same lines."""

from __future__ import annotations

import golden_s3 as g
from access_log_parser_spark import extract_fields
from access_log_parser_spark.functions.sql_udtf import register_parse_udtf

LINES = [
    (1, '1.2.3.4 - u [12/Mar/2023:10:55:36 +0000] "GET /a HTTP/1.1" 200 10 "-" "ua1"'),
    (2, "GARBAGE"),
    (3, '5.6.7.8 - v [12/Mar/2023:10:55:37 +0000] "POST /b HTTP/1.1" 404 20 "-" "ua2"'),
    (4, '9.9.9.9 - w [12/Mar/2023:10:55:38 +0000] "GET /c HTTP/1.1" 200 5'),  # pattern 1
]


def test_udtf_matches_engine(spark):
    register_parse_udtf(spark, "parse_clf_t", "apache_clf",
                        fields=["remote_host", "status", "referer"])
    df = spark.createDataFrame(LINES, ["id", "line"])
    df.createOrReplaceTempView("udtf_lines")
    sql_rows = {
        r["id"]: (r["pattern_id"], r["remote_host"], r["status"], r["referer"])
        for r in spark.sql(
            "SELECT l.id, t.* FROM udtf_lines l, LATERAL parse_clf_t(l.line) t"
        ).collect()
    }
    eng = {
        r["id"]: (r["pattern_id"], r["remote_host"], r["status"], r["referer"])
        for r in extract_fields(
            df, "apache_clf", passthrough=["id"], line_col="line",
        ).select("id", "pattern_id", "remote_host", "status", "referer").collect()
    }
    assert sql_rows == eng
    assert sql_rows[2][0] == -1                    # unmatched
    assert sql_rows[4][0] == 1                     # fallback pattern wins
    assert sql_rows[4][3] is None                  # referer absent in pattern 1

    # S3: a fused cascade, golden lines at depths 2-5 plus a garbage line
    # and a NULL line, in the full union, a selection and fields=[]
    s3 = spark.createDataFrame(
        list(enumerate([g.L1, g.L2, g.L3, g.L4_FULL, g.L5, "GARBAGE", None])),
        "id int, line string",
    )
    s3.createOrReplaceTempView("udtf_s3_lines")
    for k, fields in enumerate([None, ["bucket", "tls_version", "access_point_arn"], []]):
        register_parse_udtf(spark, f"parse_s3_t{k}", "s3", fields=fields)
        sql_rows = {
            r["id"]: tuple(r)[1:]
            for r in spark.sql(
                f"SELECT l.id, t.* FROM udtf_s3_lines l, LATERAL parse_s3_t{k}(l.line) t"
            ).collect()
        }
        eng = {
            r["id"]: tuple(r)[1:]
            for r in extract_fields(
                s3, "s3", passthrough=["id"], line_col="line", fields=fields
            ).collect()
        }
        assert sql_rows == eng
        assert [sql_rows[i][0] for i in range(7)] == [1, 2, 3, 4, 4, -1, -1]
        assert set(sql_rows[6][1:]) <= {None}


def test_structured_surfaces_treat_null_lines_as_unmatched(spark):
    """A NULL line is unmatched on the structured surfaces, as in the SQL
    UDTFs: pattern_id -1 with NULL fields, NULL labels/values; the other
    lines of its batch decode as usual."""
    from access_log_parser_spark import extract_ltsv

    df = spark.createDataFrame(
        [(1, LINES[0][1]), (2, None), (3, "GARBAGE"), (4, LINES[3][1])],
        "id int, line string",
    ).coalesce(1)
    rows = {
        r["id"]: (r["pattern_id"], r["raw"], r["remote_host"], r["referer"])
        for r in extract_fields(
            df, "apache_clf", passthrough=["id"], line_col="line", raw_when_unmatched=True,
        ).collect()
    }
    assert rows == {
        1: (0, None, "1.2.3.4", "-"),
        2: (-1, None, None, None),
        3: (-1, "GARBAGE", None, None),
        4: (1, None, "9.9.9.9", None),
    }
    ltsv = spark.createDataFrame(
        [(1, "a:1\tb:2"), (2, None), (3, "bad")], "id int, line string"
    ).coalesce(1)
    rows = {
        r["id"]: (r["labels"], r["values"])
        for r in extract_ltsv(ltsv, passthrough=["id"], line_col="line").collect()
    }
    assert rows == {1: (["a", "b"], ["1", "2"]), 2: (None, None), 3: (None, None)}


def test_ltsv_udtf(spark):
    from access_log_parser_spark.functions.sql_udtf import register_ltsv_udtf

    register_ltsv_udtf(spark, "parse_ltsv_t")
    rows = spark.sql(
        "SELECT t.* FROM VALUES ('a:1\tb:2'), ('bad field') AS v(l), "
        "LATERAL parse_ltsv_t(v.l) t ORDER BY t.pos"
    ).collect()
    assert [(r["pos"], r["label"], r["value"]) for r in rows] == [
        (-1, None, None), (0, "a", "1"), (1, "b", "2"),
    ]
