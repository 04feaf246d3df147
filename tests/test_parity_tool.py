"""tools/parity_check.py: an empty-frame comparison passes by value, and
dtype drift between the engines is reported as a note, not a failure."""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from parity_check import empty_dtype_drift, normalize  # noqa: E402


def test_empty_frames_with_drifting_dtypes_pass_and_are_noted():
    spark_df = pd.DataFrame({"ts": pd.Series([], dtype="datetime64[ns]"),
                             "n": pd.Series([], dtype="int64")})
    oracle_df = pd.DataFrame({"ts": pd.Series([], dtype="datetime64[us]"),
                              "n": pd.Series([], dtype="int64")})
    assert normalize(spark_df).equals(normalize(oracle_df))
    assert empty_dtype_drift(spark_df, oracle_df) == {
        "ts": ("datetime64[ns]", "datetime64[us]"),
    }


def test_non_empty_frames_get_no_note():
    a = pd.DataFrame({"n": pd.Series([1], dtype="int64")})
    b = pd.DataFrame({"n": pd.Series([1], dtype="int32")})
    assert empty_dtype_drift(a, b) == {}
    assert empty_dtype_drift(a.iloc[:0], a.iloc[:0]) == {}
