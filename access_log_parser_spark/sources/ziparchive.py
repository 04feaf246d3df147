"""Zip-archive source: ParseZipEntries equivalent.

The reference iterates zip entries, glob-filters entry names, and runs a
fresh parse per entry so line numbers (and the TSV header) restart per
entry (`/root/reference/parser_core.go:140-171,525-547`).

Spark has no zip codec, so archives are read with the ``binaryFile``
source and entries are expanded inside a ``mapInPandas`` stage (one
archive per task — archives parallelize across the cluster; entries within
one archive are sequential, matching the reference's model). ``source`` is
the ENTRY name, so downstream per-source grouping reproduces the per-entry
partial -> per-archive final merge (parser_core.go:152-163).
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

ZIP_LINES_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("source", StringType()),
        StructField("line_no", LongType()),
        StructField("raw", StringType()),
    ]
)


def _scan_lines(text: str) -> list[str]:
    """``bufio.ScanLines`` in plain Python: drop one final ``\\n``, split on
    ``\\n``, then drop one trailing ``\\r`` per token (``dropCR``, which
    Go applies to the unterminated last token too). Empty input has no
    lines. ``sources.text.explode_lines`` must agree with this row for row,
    and ``engine.parse_documents`` splits documents with it
    (tests/test_scanner.py)."""
    if text == "":
        return []
    if text.endswith("\n"):
        text = text[:-1]
    return [ln[:-1] if ln.endswith("\r") else ln for ln in text.split("\n")]


def lines_from_zip_entries(
    spark: SparkSession, zip_path: str, glob_pattern: str = "*"
) -> DataFrame:
    """(archive, source=entry, line_no, raw) for glob-matching entries.

    Entry names are matched with Go ``filepath.Match`` semantics
    (functions/go_glob.py): ``*``/``?`` do not cross ``/`` and a
    malformed pattern raises (parser_core.go:535-538) — validated
    driver-side before any task runs."""
    from ..functions.go_glob import translate

    glob_re = translate(glob_pattern)  # driver-side validation, Go-faithful
    bins = spark.read.format("binaryFile").load(zip_path).select("path", "content")

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple[str, str, int, str]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                base = path.rsplit("/", 1)[-1]
                with zipfile.ZipFile(io.BytesIO(bytes(content))) as zf:
                    for info in zf.infolist():
                        if glob_re.match(info.filename) is None:
                            continue
                        lines = _scan_lines(
                            zf.read(info).decode("utf-8", errors="replace")
                        )
                        rows.extend(
                            (base, info.filename, i + 1, ln)
                            for i, ln in enumerate(lines)
                        )
            yield pd.DataFrame(rows, columns=["archive", "source", "line_no", "raw"])

    return bins.mapInPandas(expand, ZIP_LINES_SCHEMA)
