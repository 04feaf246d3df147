"""Column-level scalar functions (JVM-side, codegen-friendly).

These mirror the reference's scalar helpers (SURVEY.md §2.6) as Catalyst
expressions, where staying inside whole-stage codegen beats a Python hop.
The output encodings themselves live only in :mod:`..handlers`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def host_of_url(c: Column) -> Column:
    """URL -> host, for skew-aware partitioning of web corpora."""
    return F.parse_url(c, F.lit("HOST"))

