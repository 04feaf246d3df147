"""Zip-archive source: ParseZipEntries equivalent.

The reference iterates zip entries, glob-filters entry names, and runs a
fresh parse per entry so line numbers (and the TSV header) restart per
entry (`/root/reference/parser_core.go:140-171,525-547`).

Spark has no zip codec, so archives are read with the ``binaryFile``
source and expanded inside a ``mapInArrow`` stage into one document per
entry (one archive per task — archives parallelize across the cluster;
entries within one archive are sequential, matching the reference's
model). ``source`` is the ENTRY name, so each entry is one input to
``engine.parse_documents`` and per-source grouping reproduces the
per-entry partial -> per-archive final merge (parser_core.go:152-163).
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

ZIP_DOCS_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ]
)


def _scan_lines(text: str) -> list[str]:
    """``bufio.ScanLines`` in plain Python: drop one final ``\\n``, split on
    ``\\n``, then drop one trailing ``\\r`` per token (``dropCR``, which
    Go applies to the unterminated last token too). Empty input has no
    lines. The test oracle of ``sources.text.explode_lines``, which splits
    every routed document (zip entries included) and must agree with this
    row for row (tests/test_scanner.py)."""
    if text == "":
        return []
    if text.endswith("\n"):
        text = text[:-1]
    return [ln[:-1] if ln.endswith("\r") else ln for ln in text.split("\n")]


def docs_from_zip_entries(
    spark: SparkSession, zip_path: str, glob_pattern: str = "*"
) -> DataFrame:
    """(archive, source=entry, text) for glob-matching entries.

    Entry names are matched with Go ``filepath.Match`` semantics
    (functions/go_glob.py): ``*``/``?`` do not cross ``/`` and a
    malformed pattern raises (parser_core.go:535-538) — validated
    driver-side before any task runs."""
    from ..functions.go_glob import translate

    glob_re = translate(glob_pattern)  # driver-side validation, Go-faithful
    bins = spark.read.format("binaryFile").load(zip_path).select("path", "content")
    names = ZIP_DOCS_SCHEMA.fieldNames()

    def expand(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: tuple[list[str], list[str], list[str]] = ([], [], [])
            paths, contents = batch.column(0).to_pylist(), batch.column(1).to_pylist()
            for path, content in zip(paths, contents):
                base = path.rsplit("/", 1)[-1]
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        if glob_re.match(info.filename) is None:
                            continue
                        cols[0].append(base)
                        cols[1].append(info.filename)
                        cols[2].append(zf.read(info).decode("utf-8", errors="replace"))
            arrays = [pa.array(c, pa.string()) for c in cols]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return bins.mapInArrow(expand, ZIP_DOCS_SCHEMA)
