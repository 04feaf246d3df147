"""WARC (Web ARChive, ISO 28500) record scan — the on-disk format Common
Crawl actually ships. A WARC file is a concatenation of records:

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...          (WARC named fields)
    \r\n
    <Content-Length octets of block>\r\n\r\n

For ``WARC-Type: response`` records the block is an HTTP response
(status line + headers + body); the body is the page payload the rest of
this library consumes as the ``html:binary`` column.

Framing is CONTENT-LENGTH-BASED, never regex-split: payloads legally
contain "WARC/1.0", so the only correct scan reads the declared octet
count (this is why the parser is an Arrow-batched mapInPandas over
binaryFile bytes rather than an expression chain — byte-accurate
slicing is imperative per-record work, the documented UDF exception).

Scale shape (100 TB): Common Crawl segments are ~1 GB gzip members; the
binaryFile source gives one file per task, records stream through one
Python pass per file (no per-record round trips), and everything after
this scan is ordinary columnar work. Malformed trailing bytes end the
scan for that file and SURFACE as the per-file ``truncated`` boolean on
every emitted record of that file (torn tails are never silent — the
counters discipline of the rest of the repo), matching how real CC
readers behave.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WARC_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("record_idx", LongType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("http_status", IntegerType()),
        StructField("html", BinaryType()),
        StructField("truncated", BooleanType()),
    ]
)


def _parse_http(block: bytes) -> tuple[int | None, bytes]:
    """HTTP response block -> (status, body). Non-HTTP blocks come back
    as (None, whole block)."""
    if not block.startswith(b"HTTP/"):
        return None, block
    head, sep, body = block.partition(b"\r\n\r\n")
    try:
        status = int(head.split(b"\r\n", 1)[0].split(b" ")[1])
    except (IndexError, ValueError):
        return None, block
    return status, body if sep else b""


def _parse_http_full(
    block: bytes,
) -> tuple[int | None, dict[str, str], bytes]:
    """HTTP response block -> (status, headers, body); headers are
    lowercased names, FIRST occurrence wins (RFC 9110 §5.3 lets
    repeated fields be list-combined; for the routing fields parsed
    here — Content-Type, Location, Content-Length — repetition is
    itself malformed, and first-wins is the deterministic choice real
    lenient parsers make). Non-HTTP or unparsable status lines come
    back as (None, {}, whole block) so the caller can route them to an
    unmatched sink — the same fail-visible discipline as the regex
    decode engine."""
    if not block.startswith(b"HTTP/"):
        return None, {}, block
    head, sep, body = block.partition(b"\r\n\r\n")
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split(b" ")[1])
    except (IndexError, ValueError):
        return None, {}, block
    headers: dict[str, str] = {}
    for line in lines[1:]:
        name, _, value = line.partition(b":")
        key = name.decode("ascii", "replace").strip().lower()
        if key and key not in headers:
            headers[key] = value.decode("utf-8", "replace").strip()
    return status, headers, (body if sep else b"")


def _split_content_type(ct: str | None) -> tuple[str | None, str | None]:
    """``Content-Type`` value -> (media_type, charset), both lowercased
    (RFC 9110: type/subtype and the charset parameter value are
    case-insensitive), charset unquoted; absent pieces are None."""
    if ct is None:
        return None, None
    parts = ct.split(";")
    media = parts[0].strip().lower() or None
    charset = None
    for p in parts[1:]:
        name, _, value = p.partition("=")
        if name.strip().lower() == "charset":
            charset = value.strip().strip('"').lower() or None
            break
    return media, charset


def scan_warc_records(
    data: bytes,
) -> tuple[list[tuple[dict[str, str], bytes]], bool]:
    """Parse a WARC member into ``(records, truncated)``: records is a
    list of (warc_headers dict, block bytes); ``truncated`` is True iff
    the scan stopped before consuming every byte (torn tail, malformed
    frame, or bad/short Content-Length). A torn tail ends the member —
    it never corrupts earlier records — but it is REPORTED, not
    swallowed."""
    records: list[tuple[dict[str, str], bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 5] != b"WARC/":
            return records, True
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return records, True
        headers: dict[str, str] = {}
        for line in data[pos:head_end].split(b"\r\n")[1:]:
            name, _, value = line.partition(b":")
            headers[name.decode("ascii", "replace").strip().lower()] = (
                value.decode("utf-8", "replace").strip()
            )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return records, True
        block_start = head_end + 4
        if block_start + length > n:
            return records, True
        records.append((headers, data[block_start:block_start + length]))
        pos = block_start + length
        # per spec: two CRLFs terminate the record
        if data[pos:pos + 4] == b"\r\n\r\n":
            pos += 4
    return records, False


def iter_warc_records(data: bytes):
    """Yield (warc_headers dict, block bytes) per record; stop at the
    first malformed frame (StopIteration semantics mirror real readers:
    a torn tail ends the member, it does not corrupt earlier records).
    Use :func:`scan_warc_records` when the truncation flag matters."""
    yield from scan_warc_records(data)[0]


def parse_warc_records(
    df: DataFrame, data_col: str = "content", source_col: str = "path"
) -> DataFrame:
    """binaryFile rows -> one row per WARC record:
    (source, record_idx, warc_type, target_uri, warc_date, http_status,
    html, truncated). For response records ``html`` is the HTTP body;
    for other record types it is the raw block. ``truncated`` is the
    per-file torn-tail indicator (constant across the file's records):
    True means trailing bytes after the last emitted record did not
    parse as a complete frame, so the file's record list MAY be
    incomplete — route such files to a quarantine sink or re-fetch.
    (A file whose FIRST frame is already malformed emits zero rows and
    therefore no flag; gate on a per-file record count upstream if
    whole-file garbage must also be surfaced.)"""
    sel = df.select(
        F.col(source_col).alias("source"), F.col(data_col).alias("data")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for src, data in zip(pdf["source"], pdf["data"]):
                records, truncated = scan_warc_records(bytes(data))
                for i, (hdr, block) in enumerate(records):
                    status, body = _parse_http(block)
                    rows.append(
                        (
                            src,
                            i,
                            hdr.get("warc-type", ""),
                            hdr.get("warc-target-uri", ""),
                            hdr.get("warc-date", ""),
                            status,
                            body,
                            truncated,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_SCHEMA.fields]
            )

    return sel.mapInPandas(run, WARC_SCHEMA)


HTTP_RESPONSE_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("record_idx", LongType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("http_status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("charset", StringType()),
        StructField("http_location", StringType()),
        StructField("content_length_hdr", LongType()),
        StructField("html", BinaryType()),
        StructField("truncated", BooleanType()),
    ]
)


def parse_warc_http(
    df: DataFrame, data_col: str = "content", source_col: str = "path"
) -> DataFrame:
    """binaryFile rows -> one row per ``WARC-Type: response`` record
    with the HTTP response line and routing headers PARSED into typed
    columns: (source, record_idx, target_uri, warc_date, http_status,
    content_type, charset, http_location, content_length_hdr, html,
    truncated). ``content_type``/``charset`` are the lowercased media
    type and charset parameter (RFC 9110 case rules, quotes stripped);
    ``http_location`` is the verbatim Location header (redirect
    routing); ``content_length_hdr`` is the DECLARED HTTP body length
    (the WARC frame is authoritative for slicing — the header is kept
    as a signal so truncated fetches, where declared > actual, are
    routable). A response record whose block is not parseable HTTP
    keeps NULL status/headers and the raw block as ``html`` — route it
    unmatched, never drop it.

    Plan at 100 TB: the SAME single Arrow-batched pass per file as
    :func:`parse_warc_records` (header parsing rides the framing scan
    for free); everything downstream — status-class routing,
    per-content-type aggregation — is pure Catalyst expression work."""
    sel = df.select(
        F.col(source_col).alias("source"), F.col(data_col).alias("data")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for src, data in zip(pdf["source"], pdf["data"]):
                records, truncated = scan_warc_records(bytes(data))
                for i, (hdr, block) in enumerate(records):
                    if hdr.get("warc-type", "") != "response":
                        continue
                    status, http_hdrs, body = _parse_http_full(block)
                    media, charset = _split_content_type(
                        http_hdrs.get("content-type")
                    )
                    try:
                        declared = int(http_hdrs["content-length"])
                    except (KeyError, ValueError):
                        declared = None
                    rows.append(
                        (
                            src,
                            i,
                            hdr.get("warc-target-uri", ""),
                            hdr.get("warc-date", ""),
                            status,
                            media,
                            charset,
                            http_hdrs.get("location"),
                            declared,
                            body,
                            truncated,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in HTTP_RESPONSE_SCHEMA.fields]
            )

    return sel.mapInPandas(run, HTTP_RESPONSE_SCHEMA)


def status_class_col(status: F.Column) -> F.Column:
    """HTTP status -> routing class: '2xx'/'3xx'/... for 100-599,
    'other' for out-of-range numerics, 'unmatched' for NULL (non-HTTP
    or unparsable blocks) — the fan-out key a log pipeline routes sinks
    by (mirrors the reference's matched/unmatched split at the HTTP
    layer). Pure expression; stays in whole-stage codegen."""
    return (
        F.when(status.isNull(), F.lit("unmatched"))
        .when(
            (status >= 100) & (status < 600),
            F.concat(F.floor(status / 100).cast("string"), F.lit("xx")),
        )
        .otherwise(F.lit("other"))
    )


def read_warc(spark, path_glob: str) -> DataFrame:
    """Scan WARC files (binaryFile source; add .gz to the glob for
    gzipped members — Spark's binaryFile does NOT decompress, so gzip
    members should instead be routed through sources.text gzip handling
    or decompressed upstream) and parse records."""
    return parse_warc_records(
        spark.read.format("binaryFile").load(path_glob)
    )


def wet_records(
    df: DataFrame, data_col: str = "content", source_col: str = "path"
) -> DataFrame:
    """WET (extracted-text) record scan: Common Crawl's ``*.warc.wet``
    members are ordinary WARC framing whose payload records are
    ``WARC-Type: conversion`` with a text/plain block (the crawl's
    pre-extracted text — the cheap input tier when HTML fidelity is not
    needed). Same Content-Length-framed pass as
    :func:`parse_warc_records`, then a conversion-type filter and a
    UTF-8 decode. Returns (source, record_idx, target_uri, warc_date,
    text, truncated)."""
    recs = parse_warc_records(df, data_col=data_col, source_col=source_col)
    return recs.filter(F.col("warc_type") == "conversion").select(
        "source",
        "record_idx",
        "target_uri",
        "warc_date",
        F.decode(F.col("html"), "utf-8").alias("text"),
        "truncated",
    )


def read_wet(spark, path_glob: str) -> DataFrame:
    """binaryFile scan + :func:`wet_records` (see read_warc for the gzip
    caveat)."""
    return wet_records(spark.read.format("binaryFile").load(path_glob))


def wat_records(
    df: DataFrame, data_col: str = "content", source_col: str = "path"
) -> DataFrame:
    """WAT (metadata) record scan: Common Crawl's ``*.warc.wat`` members
    carry ``WARC-Type: metadata`` records whose block is a JSON envelope
    (Envelope / WARC-Header-Metadata / Payload-Metadata). This scan
    keeps the payload as a STRING column — downstream extraction is
    ordinary ``get_json_object`` / ``from_json`` columnar work, so the
    (often huge) envelope never round-trips through Python again.
    Returns (source, record_idx, target_uri, warc_date, payload_json,
    truncated)."""
    recs = parse_warc_records(df, data_col=data_col, source_col=source_col)
    return recs.filter(F.col("warc_type") == "metadata").select(
        "source",
        "record_idx",
        "target_uri",
        "warc_date",
        F.decode(F.col("html"), "utf-8").alias("payload_json"),
        "truncated",
    )


def warc_to_wet(parsed: DataFrame) -> DataFrame:
    """WARC -> WET conversion — the Common Crawl "conversion" step that
    turns raw response captures into the extracted-text tier: keep
    HTTP 200 ``response`` records and run the shared
    ``webtext.html_text_col`` extraction chain over the payload.
    Output is shaped exactly like :func:`wet_records` (source,
    record_idx, target_uri, warc_date, text, truncated), so a pipeline
    can mix freshly-converted and pre-converted WET inputs downstream.

    Plan at 100 TB: the conversion itself is a pure projection over the
    already-Arrow-parsed records — the only Python in the chain stays
    the one mapInPandas framing pass in :func:`parse_warc_records`;
    tag-stripping and entity decode run JVM-side."""
    from ..operators.webtext import html_text_col

    keep = parsed.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    )
    return keep.select(
        "source",
        "record_idx",
        "target_uri",
        "warc_date",
        html_text_col(F.col("html")).alias("text"),
        "truncated",
    )
