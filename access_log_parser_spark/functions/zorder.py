"""Z-order (Morton) data layout for multi-dimensional scan pruning.

At 100 TB a table sorted on one column prunes parquet files/row-groups
only for predicates on that column; queries filtering the OTHER frequent
dimension (e.g. events laid out by time but queried by user) read
everything. Z-ordering interleaves the bits of several bucketed
dimensions into one sort key, so a range-partitioned + sorted write
produces files whose min/max footer stats are TIGHT in every interleaved
dimension at once — the layout trick behind Delta/Iceberg ``OPTIMIZE
ZORDER BY``, rebuilt here as a pure Catalyst expression (a static unroll
of shift/mask/or terms — whole-stage codegen, no UDF).

``tests/test_zorder.py`` proves the pruning claim mechanically: it
writes the same rows z-ordered and linearly sorted, reads the parquet
footer min/max for each file, and counts how many files a point
predicate on the *secondary* dimension could touch — z-order must admit
strictly fewer.

No reference analogue (the reference streams a log file); this is
graft-side infrastructure for the 10^12-row deployment's sink tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sinks import _replace


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton-interleave ``bits`` low bits of each column into one long.

    Columns must already be non-negative bucket numbers < 2**bits
    (use :func:`hash_bucket` / width-bucketing to get there); values
    outside the range are masked, not errored. Bit j of column i lands
    at position ``j * n_cols + i``, so equal-weight locality across
    dimensions. ``n_cols * bits`` must fit a signed long (<= 62).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    m = len(cols)
    if m < 2:
        raise ValueError("zorder needs >= 2 columns")
    if m * bits > 62:
        raise ValueError(f"{m} cols x {bits} bits overflows a long")
    key = F.lit(0).cast("long")
    for j in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), j).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, j * m + i)
    return key


def zorder_sql_term(col_names: list[str], bits: int = 16) -> str:
    """The same interleave as :func:`zorder_key`, rendered as portable
    ANSI-ish SQL (DuckDB/Spark agree on >>, <<, &) — used by the driver
    oracle so both engines compute the key from one definition."""
    m = len(col_names)
    terms = [
        f"((({c} >> {j}) & 1) << {j * m + i})"
        for j in range(bits)
        for i, c in enumerate(col_names)
    ]
    return " + ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: list[str],
    bits: int = 16,
    num_files: int = 16,
) -> None:
    """Replace ``path`` with ``df`` as parquet laid out along the z-curve
    of ``zcols``: range partition on the interleaved key (contiguous curve
    segment per output file) and sort within partitions, then drop the
    key. Each file's footer min/max is then bounded in EVERY z-dimension,
    so point/range predicates on any of them prune files before I/O.

    Scale notes: repartitionByRange samples the key distribution (one
    extra pass over a sample, standard for sorted writes); the sort is
    per-partition, spillable, no global sort. For Iceberg sinks the same
    key feeds ``sort_order`` metadata instead.
    """
    keyed = df.withColumn("_zkey", zorder_key(list(zcols), bits))
    _replace(
        keyed.repartitionByRange(num_files, "_zkey").sortWithinPartitions("_zkey").drop("_zkey"),
        path,
    )
