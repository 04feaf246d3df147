"""Text sources: string / file / gzip documents and the line scan.

The reference scans lines with ``bufio.Scanner`` and its default split
function ``bufio.ScanLines`` (reference ``parser_core.go:190-201``).
``ScanLines`` cuts a token at every ``\\n`` and drops ONE trailing
``\\r`` from each token (``dropCR``), the last, unterminated token at EOF
included; newline-terminated input yields no trailing empty line, and empty
input yields no line at all. Line numbers are 1-based per source.
:func:`explode_lines` reproduces exactly that with pure Catalyst
expressions and no regex, so document-level predicates still push down to
the scan and no Python runs. It is the routed path's one line scanner:
``engine.parse_documents`` (every Parser verb, every pipeline batch) splits
documents with it too. ``ziparchive._scan_lines`` is the same semantics in
plain Python, kept as the test oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _drop_last(c: Column, ch: str) -> Column:
    """``c`` without its final character when that is ``ch``."""
    return F.when(c.endswith(ch), c.substr(F.lit(1), F.length(c) - 1)).otherwise(c)


def explode_lines(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "url",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(source, text) -> (source, line_no, raw) with ``bufio.ScanLines``
    semantics.

    Drop one final ``\\n``, split on the literal ``\\n``, then drop one
    trailing ``\\r`` per line. NULL and empty texts yield no rows.
    ``line_no`` is 1-based within each source document — the coordinate
    system of the reference's Errors table (parser_result.go:33-35).

    Every step is a literal string operation: a one-character delimiter
    that is not a regex metacharacter takes Java's ``String.split`` fast
    path, which never compiles a pattern. A regex strip or split here
    (``\\r?\\n``) made this layer over 9x slower, so
    ``tests/test_scanner.py`` pins the plan.
    """
    text = F.col(text_col)
    return (
        df.filter(text.isNotNull() & (text != ""))
        .select(
            F.col(source_col).alias("source"),
            *[F.col(c) for c in keep],
            F.posexplode(F.split(_drop_last(text, "\n"), "\n")).alias("pos", "raw"),
        )
        .select(
            "source",
            (F.col("pos") + 1).cast("long").alias("line_no"),
            _drop_last(F.col("raw"), "\r").alias("raw"),
            *keep,
        )
    )


def docs_from_string(spark: SparkSession, s: str, source: str = "") -> DataFrame:
    """ParseString equivalent (parser_core.go:92-99): one (source, text)
    document."""
    return spark.createDataFrame([(source, s)], "source string, text string")


def docs_from_files(spark: SparkSession, path: str) -> DataFrame:
    """ParseFile / ParseGzip equivalent (parser_core.go:104-135): one
    (source, text) document per file, ``source`` being the file basename
    (parser_core.go:114). Hadoop's codec layer decompresses ``*.gz``
    transparently. ``wholetext`` keeps each file whole, so line numbers
    restart per file; Spark distributes across files (one split per file),
    the right granularity for many-file log corpora."""
    # NB: .option("wholetext", ...) is silently ignored by the Spark 4.1
    # text reader; only the reader kwarg applies the whole-file mode
    return spark.read.text(path, wholetext=True).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("source"),
        F.col("value").alias("text"),
    )


def basename(path: str) -> str:
    return os.path.basename(path)
