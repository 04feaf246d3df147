"""Line decoders: regex first-match-wins cascade and LTSV.

Plain-Python batch decoders used inside the engine's one Python hop
(``mapInArrow``: :func:`..engine.extract_fields`,
:func:`..engine.parse_routed`, :func:`..engine.parse_documents`). They are
the engine's only decoders. Semantics match the reference's
``parser_core.go:259-288``:

- regex: ordered pattern list, first match wins, match index = pattern_id;
  no pattern matched -> unmatched; empty pattern list -> hard error;
- LTSV: tab-split then split each field on the first ``:``; any field
  without ``:`` invalidates the WHOLE line (unmatched);
- a NULL line is unmatched under both, found by one ``None in lines``
  check per batch, so a NULL-free batch runs the plain per-line loop.

:func:`compile_plan` is the package's one way from pattern strings to a
decoder, run once per task (and once on the driver, to validate). It parses
each string once; that tree feeds the RE2 gate, the capture-group checks,
the group names and :attr:`DecodePlan.union`, cascade fusion and the tab
twins. When the list is a prefix chain that :func:`.patterns.fuse_cascade`
can prove (the S3 and CLB presets), the plan holds one regex compiled from
the trees and no member pattern: each line costs ONE search, and the
match's ``lastindex`` looks up the winning pattern_id. Any other list is
compiled pattern by pattern and runs the cascade per batch: pattern 0 over
every line, then pattern 1 over its misses, and so on, with each
tab-separated pattern's guarded :func:`.patterns.fast_twin`. The fused
regex and the twins are compiled from trees and cannot be pickled, so a
task captures the pattern strings, never a plan.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass, field
from operator import itemgetter

from .patterns import FusedCascade, fast_twin, fuse_cascade, group_names, parse_pattern

PARSE_ERROR = "cannot parse input"

# status codes carried through the pipeline
MATCHED = "matched"
UNMATCHED = "unmatched"
EXCLUDED = "excluded"
SKIPPED = "skipped"


class NoPatternError(ValueError):
    def __init__(self) -> None:
        super().__init__(f"{PARSE_ERROR}: no pattern provided")


@dataclass(frozen=True)
class DecodePlan:
    """A regex pattern list compiled for batch decoding, built once per task.

    ``fused`` is set when :func:`.patterns.fuse_cascade` proves the list
    can be decoded with one search per line (its docstring has the
    soundness argument), and ``patterns`` is then empty; otherwise
    ``patterns`` holds the compiled list, ``twins`` each pattern's guarded
    :func:`.patterns.fast_twin` (or None), and lines run the cascade.
    """

    patterns: tuple[re.Pattern, ...]
    names: tuple[list[str], ...]
    twins: tuple[tuple[re.Pattern, int] | None, ...] = ()
    fused: FusedCascade | None = None
    # per-pattern row getters by requested fields, built on first use: the
    # SQL UDTF decodes one line per call
    _getters: dict = field(default_factory=dict, compare=False, repr=False)

    @property
    def union(self) -> list[str]:
        """Union of every pattern's group names, in first-seen positional
        order. The widest preset pattern comes first in every preset, so for
        presets this is pattern 0's field list."""
        return list(dict.fromkeys(name for names in self.names for name in names))

    def decode(self, lines: Sequence[str | None]) -> tuple[list[int], list[list[str] | None]]:
        """(pattern_ids, values) for ``lines``; pattern_id is -1 and values
        None for unmatched lines, otherwise values are the positional
        capture-group strings of the winning pattern, with "" for groups
        that did not take part (Go's ``matches[1:]``)."""
        pids, matches = self.match(lines)
        widths = [len(names) for names in self.names]
        vals = [
            None if m is None else list(m.groups("")[: widths[pid]])
            for pid, m in zip(pids, matches)
        ]
        return pids, vals

    def columns(
        self, lines: Sequence[str | None], fields: Sequence[str]
    ) -> tuple[list[int], list[Sequence[str | None]]]:
        """(pattern_ids, one value column per name in ``fields``). A field
        the winning pattern lacks, or any field of an unmatched line, is
        None; a group of the winner that did not take part is ""."""
        pids, matches = self.match(lines)
        width = len(fields)
        getters = self._getters.get(tuple(fields))
        if getters is None:
            getters = self._getters[tuple(fields)] = []
            for pid, names in enumerate(self.names):
                pos = {nm: k for k, nm in enumerate(names)}
                # a field the pattern lacks reads the None appended to its groups
                idx = [pos.get(nm, -1) for nm in fields]
                getters.append(
                    itemgetter(*idx) if width > 1 else lambda g, i=idx: tuple(g[k] for k in i)
                )
        empty = (None,) * width
        rows = [
            empty if m is None else getters[pid](m.groups("") + (None,))
            for pid, m in zip(pids, matches)
        ]
        return pids, (list(zip(*rows)) if rows else [()] * width)

    def match(self, lines: Sequence[str | None]) -> tuple[list[int], list[re.Match | None]]:
        """Winning pattern_id (-1 if none) and its match, per line; a NULL
        line is unmatched. A fused match also holds groups of deeper
        tails, all unset, after the winner's own. The routed core reads
        the groups itself (``engine._Router.route``); :meth:`decode` and
        :meth:`columns` build lists and columns from them."""
        if None in lines:
            live = [i for i, line in enumerate(lines) if line is not None]
            pids = [-1] * len(lines)
            matches: list[re.Match | None] = [None] * len(lines)
            for i, pid, m in zip(live, *self.match([lines[i] for i in live])):
                pids[i] = pid
                matches[i] = m
            return pids, matches
        if self.fused is not None:
            return self._match_fused(lines)
        return self._match_cascade(lines)

    def _match_fused(self, lines: Sequence[str]) -> tuple[list[int], list[re.Match | None]]:
        search, winner = self.fused.regex.search, self.fused.pids
        matches = [search(line) for line in lines]
        return [-1 if m is None else winner[m.lastindex or 0] for m in matches], matches

    def _match_cascade(self, lines: Sequence[str]) -> tuple[list[int], list[re.Match | None]]:
        n = len(lines)
        pids = [-1] * n
        matches: list[re.Match | None] = [None] * n
        pending = range(n)
        for pid, (pat, twin) in enumerate(zip(self.patterns, self.twins)):
            if not pending:
                break
            search = pat.search
            # a tab-separated pattern's twin applies only when the line has
            # exactly as many tabs as the pattern has separators
            fast_search, n_tabs = (twin[0].search, twin[1]) if twin else (None, -1)
            misses = []
            for i in pending:
                line = lines[i]
                if fast_search is not None and line.count("\t") == n_tabs:
                    m = fast_search(line)
                else:
                    m = search(line)
                if m is not None:
                    pids[i] = pid
                    matches[i] = m
                else:
                    misses.append(i)
            pending = misses
        return pids, matches


def compile_plan(pattern_strs: Sequence[str]) -> DecodePlan:
    """Decode plan for a pattern list (first match wins).

    Each string is parsed once (:func:`.patterns.parse_pattern`), which
    raises :class:`.patterns.PatternError` as the reference's
    ``AddPattern`` fails; an empty list raises :class:`NoPatternError`.
    Cascade sources are compiled with ``re.compile``, which a reused worker
    finds in ``re``'s cache; a fused list compiles no member pattern.
    """
    if not pattern_strs:
        raise NoPatternError
    trees = [parse_pattern(src) for src in pattern_strs]
    names = tuple(group_names(t) for t in trees)
    fused = fuse_cascade(trees)
    if fused is not None:
        return DecodePlan((), names, fused=fused)
    patterns = tuple(re.compile(src) for src in pattern_strs)
    return DecodePlan(patterns, names, twins=tuple(fast_twin(t) for t in trees))


def ltsv_decode_batch(
    lines: Sequence[str | None],
) -> tuple[list[tuple[str, ...] | None], list[tuple[str, ...] | None]]:
    """Decode LTSV lines in one pass per line; returns (labels, values)
    tuples, None/None when invalid or NULL. A label tuple is the key of
    its route in ``engine._Router.route``."""
    if None in lines:
        # a NULL line reads as "", which has no ":" and so is invalid
        lines = ["" if line is None else line for line in lines]
    out_ls: list[tuple[str, ...] | None] = []
    out_vs: list[tuple[str, ...] | None] = []
    for line in lines:
        ls: list[str] = []
        vs: list[str] = []
        for fld in line.split("\t"):
            label, sep, value = fld.partition(":")
            if not sep:
                out_ls.append(None)
                out_vs.append(None)
                break
            ls.append(label)
            vs.append(value)
        else:
            out_ls.append(tuple(ls))
            out_vs.append(tuple(vs))
    return out_ls, out_vs
