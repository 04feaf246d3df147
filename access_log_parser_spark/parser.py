"""User-facing Parser API, mirroring the reference surface.

A user of ``nekrassov01/access-log-parser`` drives it through preset
constructors + ``Parse/ParseString/ParseFile/ParseGzip/ParseZipEntries``
(`/root/reference/parser_core.go:47-53`, `parser_regex.go:24-237`,
`parser_ltsv.go:21-62`). This module offers the same verbs on Spark: each
returns ``(output_lines, Result)`` where output_lines are the serialized
records in input order and Result carries the counters/errors. The heavy
lifting is the distributed engine; these verbs exist for API parity and
for golden-file testing — the scale path is :mod:`.pipeline`.
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from . import patterns as pat
from .decoders import UNMATCHED, NoPatternError
from .engine import parse_documents, parse_routed
from .metrics import ParseError, Result
from .options import Option
from .sources import docs_from_files, docs_from_string, docs_from_zip_entries
from .sources.text import basename


EMPTY_PATH_ERROR = "empty path detected"       # parser_core.go:39
OPEN_FILE_ERROR = "cannot open file"           # parser_core.go:40


def _check_path(path: str) -> None:
    """Driver-side path validation with the reference's error semantics
    (parser_core.go:487-531): empty path and unopenable file fail fast
    with the reference's messages instead of a deferred task error.
    Remote URIs (scheme://) are left to the DataSource."""
    import glob as _glob

    if path == "":
        raise ValueError(EMPTY_PATH_ERROR)
    if "://" in path:
        return
    if any(ch in path for ch in "*?["):
        # a literal name containing a glob metachar (e.g. "access[1].log")
        # produces an empty glob — accept it if the file itself exists
        if not _glob.glob(path) and not os.path.exists(path):
            raise FileNotFoundError(f"{OPEN_FILE_ERROR}: {path}")
    elif not os.path.exists(path):
        raise FileNotFoundError(f"{OPEN_FILE_ERROR}: {path}")


def _reader_path(path: str) -> str:
    """Escape Hadoop-glob metachars when ``path`` names a literal existing
    file that the glob layer would otherwise expand to nothing (e.g.
    ``access[1].log``) — the reference opens such files fine (os.Open is
    glob-free), so the Spark reader must too."""
    import glob as _glob

    if "://" in path or not any(ch in path for ch in "*?[{"):
        return path
    if _glob.glob(path) or not os.path.exists(path):
        return path
    return "".join("\\" + ch if ch in "*?[]{}\\" else ch for ch in path)


class BaseParser:
    """Shared verbs; format resolution differs per subclass."""

    def __init__(self, spark: SparkSession, opt: Option | None = None):
        import uuid

        self.spark = spark
        self.opt = opt or Option()
        # ctx-cancellation equivalent (parser_core.go:192-194): every
        # action this parser runs is tagged with a job group, so
        # cancel() aborts in-flight parse jobs the way ctx.Done() aborts
        # the reference's scan loop between lines.
        self._job_group = f"alp-{uuid.uuid4().hex[:8]}"

    # subclasses set this to a preset name / pattern list / "ltsv"
    def _format(self) -> str | Sequence[str]:
        raise NotImplementedError

    def parse_lines(self, lines_df: DataFrame) -> DataFrame:
        """Distributed surface: routed DataFrame for any lines source."""
        return parse_routed(lines_df, self._format(), self.opt)

    def cancel(self) -> None:
        """Abort this parser's in-flight jobs (the reference's
        context-cancellation surface). Safe to call when idle."""
        self.spark.sparkContext.cancelJobGroup(self._job_group)

    @contextmanager
    def _in_job_group(self):
        """Run the enclosed actions under this parser's job group."""
        sc = self.spark.sparkContext
        sc.setJobGroup(
            self._job_group, "access-log-parser parse", interruptOnCancel=True
        )
        try:
            yield
        finally:
            # The job group is thread-local driver state: without clearing
            # it, unrelated actions the caller runs later on this thread
            # inherit the group and a subsequent cancel() (with
            # interruptOnCancel=True) would kill them too.
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)

    def _run(
        self,
        docs: DataFrame,
        input_type: str,
        source: str = "",
        zip_entries: bool = False,
    ) -> tuple[list[str], Result]:
        """Parse (source, text) documents, each one input to the handler,
        in ONE action: the routed rows come to the driver as one Arrow
        table, sorted by (source, line_no) for input order (SURVEY.md §2.5;
        names by UTF-8 bytes, as Spark's ``orderBy``), and the output,
        counters, errors and zip entries are folded from it, as the
        reference builds its Result in its output pass (parser_core.go:176-254)."""
        import pyarrow.compute as pc

        start = time.monotonic()
        with self._in_job_group():
            table = (
                parse_documents(docs, self._format(), self.opt, source_col="source")
                .select("source", "line_no", "status", "out_line", "raw")
                .toArrow()
                .sort_by([("source", "ascending"), ("line_no", "ascending")])
            )
        statuses, counts = pc.value_counts(table["status"]).flatten()
        errs = table.filter(pc.equal(table["status"], UNMATCHED))
        result = Result.from_counters(
            dict(zip(statuses.to_pylist(), counts.to_pylist()), total=table.num_rows),
            input_type=input_type,
            source=source,
            errors=[
                # errors carry their zip entry (parser_core.go:152-163)
                ParseError(entry if zip_entries else "", line_no, raw)
                for entry, line_no, raw in zip(
                    *(errs[c].to_pylist() for c in ("source", "line_no", "raw"))
                )
            ],
        )
        if zip_entries:
            # the entries that yield at least one line, in sorted order
            result.zip_entries = pc.unique(table["source"]).to_pylist()
        out = table["out_line"].drop_null().to_pylist()
        result.elapsed_time = time.monotonic() - start
        return out, result

    def parse(self, reader) -> tuple[list[str], Result]:
        """``Parse(io.Reader)`` equivalent (parser_core.go:80-90,
        inputTypeStream): accepts a file-like object (``.read()``) or an
        iterable of pre-split lines. The stream is drained driver-side —
        the reference reads it single-threaded too; a genuinely
        distributed source belongs on :meth:`parse_file` /
        :meth:`parse_lines` instead."""
        if hasattr(reader, "read"):
            s = reader.read()
            if isinstance(s, bytes):
                s = s.decode("utf-8")
        else:
            s = "\n".join(reader)
        return self._run(docs_from_string(self.spark, s), "stream")

    def parse_string(self, s: str) -> tuple[list[str], Result]:
        return self._run(docs_from_string(self.spark, s), "string")

    def parse_file(self, path: str) -> tuple[list[str], Result]:
        return self._parse_path(path, "file")

    def parse_gzip(self, path: str) -> tuple[list[str], Result]:
        # Spark's text reader decompresses a .gz file by its extension
        return self._parse_path(path, "gzip")

    def _parse_path(self, path: str, input_type: str) -> tuple[list[str], Result]:
        _check_path(path)
        return self._run(
            docs_from_files(self.spark, _reader_path(path)),
            input_type,
            source=basename(path),
        )

    def parse_zip_entries(
        self, zip_path: str, glob_pattern: str = "*"
    ) -> tuple[list[str], Result]:
        """Per-entry parses merged into one Result: counters summed, errors
        tagged with entry name, entry list appended (parser_core.go:140-171)."""
        _check_path(zip_path)
        return self._run(
            docs_from_zip_entries(self.spark, zip_path, glob_pattern),
            "zip",
            source=basename(zip_path),
            zip_entries=True,
        )


class RegexParser(BaseParser):
    """NewRegexParser equivalent (parser_regex.go:24-35): user patterns via
    add_pattern(s), validated like AddPattern (parser_regex.go:74-100)."""

    def __init__(self, spark: SparkSession, opt: Option | None = None,
                 patterns: Sequence[str] | None = None):
        super().__init__(spark, opt)
        self._patterns: list[str] = []
        if patterns:
            self.add_patterns(patterns)

    def add_pattern(self, pattern: str) -> None:
        pat.validate_pattern(pattern)
        self._patterns.append(pattern)

    def add_patterns(self, patterns: Sequence[str]) -> None:
        for p in patterns:
            self.add_pattern(p)

    @property
    def patterns(self) -> list[str]:
        return list(self._patterns)

    def _format(self) -> Sequence[str]:
        if not self._patterns:
            raise NoPatternError
        return self._patterns


class PresetParser(BaseParser):
    def __init__(self, spark: SparkSession, preset: str, opt: Option | None = None):
        super().__init__(spark, opt)
        self.preset = preset

    def _format(self) -> str:
        return self.preset

    @property
    def patterns(self) -> list[str]:
        return list(pat.PRESETS[self.preset])


def new_apache_clf_parser(spark, opt=None):      # parser_regex.go:104-121
    return PresetParser(spark, "apache_clf", opt)


def new_apache_clf_vhost_parser(spark, opt=None):  # parser_regex.go:125-142
    return PresetParser(spark, "apache_clf_vhost", opt)


def new_s3_parser(spark, opt=None):              # parser_regex.go:146-164
    return PresetParser(spark, "s3", opt)


def new_cf_parser(spark, opt=None):              # parser_regex.go:168-182
    return PresetParser(spark, "cloudfront", opt)


def new_alb_parser(spark, opt=None):             # parser_regex.go:186-200
    return PresetParser(spark, "alb", opt)


def new_nlb_parser(spark, opt=None):             # parser_regex.go:204-218
    return PresetParser(spark, "nlb", opt)


def new_clb_parser(spark, opt=None):             # parser_regex.go:222-237
    return PresetParser(spark, "clb", opt)


class LTSVParser(BaseParser):
    """NewLTSVParser equivalent (parser_ltsv.go:21-32)."""

    def _format(self) -> str:
        return "ltsv"


def new_ltsv_parser(spark, opt=None):            # parser_ltsv.go:21-32
    return LTSVParser(spark, opt)
