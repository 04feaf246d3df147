"""Local mirror of the driver's oracle comparison: run every queries()
entry and its oracle_sql() on the same sf dir, compare row count, schema
width and sorted values. Usage:

    PYTHONPATH=/root/repo python tools/parity_check.py [sf_dir] [names...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # stringify for robust exact comparison (mirrors value-hash intent);
        # the astype matters on EMPTY frames: .map() on an empty series
        # keeps the source dtype, and DataFrame.equals then compares dtype
        # metadata (e.g. spark's datetime64[ns] vs duckdb's datetime64[us])
        # even though there are zero values to differ
        df[c] = df[c].map(lambda v: repr(v)).astype(object)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def empty_dtype_drift(sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    """Columns whose dtypes differ between two zero-row frames, as
    {column: (spark dtype, oracle dtype)}. Zero rows compare equal by
    value whatever the dtypes, so this keeps dtype drift between the
    engines visible without failing the comparison; {} for non-empty."""
    if not sdf.empty:
        return {}
    return {
        c: (str(sdf[c].dtype), str(odf[c].dtype))
        for c in sdf.columns if sdf[c].dtype != odf[c].dtype
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from access_log_parser_spark import get_spark

    spark = get_spark(app_name="parity", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in entry.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: oracle error: {e}")
            failures.append(name)
            continue
        if len(sdf) != len(odf):
            print(f"[FAIL] {name}: rows spark={len(sdf)} oracle={len(odf)}")
            failures.append(name)
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"[FAIL] {name}: cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            failures.append(name)
            continue
        a, b = normalize(sdf), normalize(odf)
        if not a.equals(b):
            diff = (a != b).any(axis=1)
            print(f"[FAIL] {name}: {int(diff.sum())}/{len(a)} mismatched rows")
            mism = diff[diff].index[:3]
            for i in mism:
                print("  spark :", a.loc[i].to_dict())
                print("  oracle:", b.loc[i].to_dict())
            failures.append(name)
            continue
        drift = empty_dtype_drift(sdf, odf)
        if drift:
            print(f"[note] {name}: empty result, dtypes (spark, oracle) differ: {drift}")
        print(f"[OK]   {name}: {len(sdf)} rows")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
