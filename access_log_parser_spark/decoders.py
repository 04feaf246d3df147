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

A pattern list is compiled once per task into a :class:`DecodePlan`. When
the list is a prefix chain that :func:`.patterns.fuse_cascade` can prove
(the S3 and CLB presets), each line costs ONE search of the fused regex.
Any other list runs the cascade per batch: pattern 0 over every line, then
pattern 1 over its misses, and so on, with each tab-separated pattern's
guarded :func:`.patterns.fast_twin` derived once in the plan.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass, field
from operator import itemgetter

from .patterns import FusedCascade, fast_twin, fuse_cascade, group_names

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
    soundness argument); otherwise ``twins`` holds each pattern's guarded
    :func:`.patterns.fast_twin` (or None) and lines run the cascade.
    """

    patterns: tuple[re.Pattern, ...]
    names: tuple[list[str], ...]
    twins: tuple[tuple[re.Pattern, int] | None, ...] = ()
    fused: FusedCascade | None = None
    # per-pattern row getters by requested fields, built on first use: the
    # SQL UDTF decodes one line per call
    _getters: dict = field(default_factory=dict, compare=False, repr=False)

    def decode(self, lines: Sequence[str | None]) -> tuple[list[int], list[list[str] | None]]:
        """(pattern_ids, values) for ``lines``; pattern_id is -1 and values
        None for unmatched lines, otherwise values are the positional
        capture-group strings of the winning pattern, with "" for groups
        that did not take part (Go's ``matches[1:]``)."""
        pids, matches = self._match(lines)
        widths = [p.groups for p in self.patterns]
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
        pids, matches = self._match(lines)
        width = len(fields)
        getters = self._getters.get(tuple(fields))
        if getters is None:
            getters = self._getters[tuple(fields)] = []
            for pid, names in enumerate(self.names):
                pos = {nm: k for k, nm in enumerate(names)}
                # a field the pattern lacks reads the None appended to its groups
                pad = self.fused.regex.groups if self.fused else self.patterns[pid].groups
                idx = [pos.get(nm, pad) for nm in fields]
                getters.append(
                    itemgetter(*idx) if width > 1 else lambda g, i=idx: tuple(g[k] for k in i)
                )
        empty = (None,) * width
        rows = [
            empty if m is None else getters[pid](m.groups("") + (None,))
            for pid, m in zip(pids, matches)
        ]
        return pids, (list(zip(*rows)) if rows else [()] * width)

    def _match(self, lines: Sequence[str | None]) -> tuple[list[int], list[re.Match | None]]:
        """Winning pattern_id (-1 if none) and its match, per line; a NULL
        line is unmatched. A fused match also holds groups of deeper
        tails, all unset."""
        if None in lines:
            live = [i for i, line in enumerate(lines) if line is not None]
            pids = [-1] * len(lines)
            matches: list[re.Match | None] = [None] * len(lines)
            for i, pid, m in zip(live, *self._match([lines[i] for i in live])):
                pids[i] = pid
                matches[i] = m
            return pids, matches
        if self.fused is not None:
            return self._match_fused(lines)
        return self._match_cascade(lines)

    def _match_fused(self, lines: Sequence[str]) -> tuple[list[int], list[re.Match | None]]:
        search, levels = self.fused.regex.search, self.fused.levels
        matches = [search(line) for line in lines]
        pids = [-1] * len(lines)
        for i, m in enumerate(matches):
            if m is None:
                continue
            g = m.groups()
            for marker, pid in levels:
                if marker < 0 or g[marker] is not None:
                    break
            pids[i] = pid
        return pids, matches

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


def compile_plan(patterns: Sequence[re.Pattern]) -> DecodePlan:
    """Decode plan for a compiled pattern list (first match wins)."""
    if not patterns:
        raise NoPatternError
    patterns = tuple(patterns)
    names = tuple(group_names(p) for p in patterns)
    fused = fuse_cascade(patterns)
    if fused is not None:
        return DecodePlan(patterns, names, fused=fused)
    return DecodePlan(patterns, names, twins=tuple(fast_twin(p) for p in patterns))


def ltsv_decode_batch(
    lines: Sequence[str | None],
) -> tuple[list[list[str] | None], list[list[str] | None]]:
    """Decode LTSV lines; returns (labels, values), None/None when invalid
    or NULL."""
    if None in lines:
        # a NULL line reads as "", which has no ":" and so is invalid
        lines = ["" if line is None else line for line in lines]
    out_ls: list[list[str] | None] = []
    out_vs: list[list[str] | None] = []
    for line in lines:
        ls: list[str] = []
        vs: list[str] = []
        ok = True
        for fld in line.split("\t"):
            label, sep, value = fld.partition(":")
            if not sep:
                ok = False
                break
            ls.append(label)
            vs.append(value)
        if ok:
            out_ls.append(ls)
            out_vs.append(vs)
        else:
            out_ls.append(None)
            out_vs.append(None)
    return out_ls, out_vs


def select_labels(
    targets: Sequence[str], labels: Sequence[str], values: Sequence[str]
) -> tuple[list[str], list[str]]:
    """Keep original line order, silently drop unknown targets
    (parser_core.go:291-305)."""
    tset = set(targets)
    ls: list[str] = []
    vs: list[str] = []
    for j, label in enumerate(labels):
        if label in tset:
            ls.append(label)
            vs.append(values[j])
    return ls, vs
