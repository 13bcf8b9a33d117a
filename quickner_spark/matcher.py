"""Gazetteer multi-pattern span matcher — the engine's core kernel.

This is a from-scratch Python implementation of the matching *semantics* of
the reference engine (omarmhaimdat/quickner):

* M1 — multi-pattern scan (reference: Aho-Corasick automaton,
  quickner-core/src/quickner.rs:118-135, built at quickner.rs:253-265).
* M2 — word-boundary post-filter branch cascade
  (quickner-core/src/quickner.rs:137-222). Ported branch-for-branch,
  including its quirks (see ``_boundary_ok``).
* M3 — span sort + consecutive dedup (quickner.rs:225-227).

Design notes (Spark-first, not a port):

* This module is **pure Python with zero Spark imports** so the identical
  code path is unit-testable locally and shipped to executors inside an
  Arrow-batched ``mapInPandas`` stage (see ``operators/annotate.py``).  The
  reference shares one automaton across rayon workers via ``Arc``
  (quickner.rs:265-266); we share it across executors via a Spark broadcast
  variable plus a per-worker ``lru_cache``.
* There is one scan, ``_BoundaryScan``: trie-shaped regexes anchored on a
  word boundary, so the C regex engine does the position scan and Python
  runs once per match.  It skips the automaton's mid-word matches, which
  M2 would reject anyway.  For ASCII text the whole M1+M2+M3 pipeline runs
  fused in the regex.  A pure-Python Aho-Corasick automaton producing the
  full overlapping raw match set lives under ``tests/`` as the independent
  oracle it is property-tested against.

Unicode semantics replicated exactly:

* Span offsets are CHARACTER indices (reference converts byte->char at
  quickner.rs:130-133; test: /root/reference/tests/test.py:167-174).
* ``target_len`` in boundary rules (d)-(f) is the **byte** length of the
  pattern and ``text.len()`` the **byte** length of the text — the
  reference mixes char and byte units there (quickner.rs:180-222).  We
  replicate the mix.
* Missing chars read as the sentinel ``'N'`` (quickner.rs:138-218
  ``unwrap_or('N')``), which is neither whitespace nor punctuation.
* Whitespace is Rust ``char::is_whitespace`` = Unicode ``White_Space``
  (NOT Python ``str.isspace``, which adds U+001C..001F).
* Punctuation is Rust ``char::is_ascii_punctuation``.
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterable, Iterator, Sequence

__all__ = [
    "Matcher",
    "find_spans",
    "annotate_text",
    "WHITE_SPACE",
    "ASCII_PUNCTUATION",
]

# Rust char::is_whitespace == Unicode White_Space property (25 code points).
WHITE_SPACE = frozenset(
    chr(cp)
    for cp in (
        0x0009, 0x000A, 0x000B, 0x000C, 0x000D, 0x0020, 0x0085, 0x00A0,
        0x1680,
        0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
        0x2008, 0x2009, 0x200A,
        0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
    )
)

# Rust char::is_ascii_punctuation (ASCII 0x21-0x2F, 0x3A-0x40, 0x5B-0x60, 0x7B-0x7E).
ASCII_PUNCTUATION = frozenset("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")

_SENTINEL = "N"  # reference unwrap_or('N') for out-of-range char reads


def _char_at(text: str, i: int) -> str:
    """``text.chars().nth(i).unwrap_or('N')`` with Rust release-mode usize
    wrap for i == -1 (reference rules (e)/(f) read ``start - 1`` without a
    ``start > 0`` guard; the wrapped index is out of range -> sentinel)."""
    if 0 <= i < len(text):
        return text[i]
    return _SENTINEL


def _is_ws(c: str) -> bool:
    return c in WHITE_SPACE


def _is_punct(c: str) -> bool:
    return c in ASCII_PUNCTUATION


# ---------------------------------------------------------------------------
# The multi-pattern scan (M1)
# ---------------------------------------------------------------------------


def _trie_regex(patterns: list[str]) -> str:
    """Collapse patterns into a trie-shaped regex (common prefixes factored
    into nested groups) so the C regex engine does the multi-pattern scan.
    CPython's ``re`` does not optimize plain alternations; the explicit trie
    makes failure at a position O(first mismatching char)."""
    trie: dict = {}
    for pat in patterns:
        node = trie
        for ch in pat:
            node = node.setdefault(ch, {})
        node[""] = {}  # terminal marker

    def emit(node: dict) -> str:
        if not node:
            return ""
        branches = []
        terminal = False
        for ch, child in sorted(node.items()):
            if ch == "":
                terminal = True
                continue
            sub = emit(child)
            branches.append(re.escape(ch) + sub)
        if not branches:
            return ""
        if len(branches) == 1 and not terminal:
            return branches[0]
        body = "(?:" + "|".join(branches) + ")"
        return body + ("?" if terminal else "")

    return emit(trie)


class _BoundaryScan:
    """C-speed scan of the M2-relevant raw-match subset.

    Every span the reference boundary cascade (quickner.rs:137-222) can
    ACCEPT either (i) starts at position 0 or right after a whitespace/
    ASCII-punct char — rules (a)(b)(c)(e)(f) all require it — or (ii) is a
    rule-(d) suffix match at the single char position
    ``start = byte_len(text) - byte_len(pattern)``. So the raw overlapping
    scan never needs the automaton's mid-word matches: this scan finds
    (i) with one trie-shaped regex per prefix-free layer, anchored by a
    boundary lookbehind ``(?:\\A|(?<=[bnd]))(?=(trie))`` — the position
    scan and trie walk run in the C regex engine, Python executes once per
    MATCH — and (ii) with an O(distinct pattern lengths) dict probe of the
    text suffix. Within one layer no name is a proper prefix of another, so
    at most one name matches at a start position and a single lookahead
    capture recovers it; a name that extends a shorter name goes one layer
    deeper (gazetteer prefix chains are short: 'sun' < 'sun microsystems'
    is depth 2).

    NOT the full raw match set (mid-word, non-suffix matches are absent by
    design) — valid only behind ``find_spans`` / ``find_spans_clean``,
    whose filters reject exactly the omitted matches. Property-tested,
    through both filters, against the full Aho-Corasick raw match set
    (tests/ac_oracle.py). A suffix match that also starts on a boundary is
    emitted twice (once per source); the duplicates are adjacent in the
    (end, pid) ordering and collapse in M3's consecutive dedup (set-dedup
    in clean mode).
    """

    __slots__ = ("_layers", "_by_name", "_len_groups", "_accept_rxs",
                 "_zero_rxs")

    def __init__(self, patterns: Sequence[str]):
        by_name: dict[str, list[int]] = {}
        for pid, p in enumerate(patterns):
            if p:
                by_name.setdefault(p, []).append(pid)
        names = sorted(by_name)
        name_set = set(names)
        layers: dict[int, list[str]] = {}
        for nm in names:
            depth = sum(1 for i in range(1, len(nm)) if nm[:i] in name_set)
            layers.setdefault(depth, []).append(nm)
        bnd = "[" + "".join(re.escape(c)
                            for c in sorted(WHITE_SPACE | ASCII_PUNCTUATION)) + "]"
        tries = [_trie_regex(group) for _, group in sorted(layers.items())]
        self._layers = [
            re.compile("(?:\\A|(?<=" + bnd + "))(?=(" + t + "))") for t in tries
        ]
        # Fused-ASCII forms: the leading consumed charset enables the C
        # engine's first-charset skip (measured ~2x over the lookbehind
        # form), and the trailing (?:[bnd]|\Z) IS the whole M2 next-check
        # for ASCII text (see fused_spans).
        self._accept_rxs = [
            re.compile(bnd + "(?=(" + t + ")(?:" + bnd + "|\\Z))") for t in tries
        ]
        self._zero_rxs = [
            re.compile("(?=(" + t + ")(?:" + bnd + "|\\Z))") for t in tries
        ]
        self._by_name = by_name
        # rule-(d) probe groups: (byte_len, char_len) -> {name: pids}
        lg: dict[tuple[int, int], dict[str, list[int]]] = {}
        for nm in names:
            lg.setdefault((len(nm.encode("utf-8")), len(nm)), {})[nm] = by_name[nm]
        self._len_groups = lg

    def iter_matches(self, text: str) -> Iterator[tuple[int, int, int]]:
        hits: list[tuple[int, int, int]] = []
        by_name = self._by_name
        for rx in self._layers:
            for m in rx.finditer(text):
                s = m.start()
                name = m.group(1)
                e = s + len(name)
                for pid in by_name[name]:
                    hits.append((s, e, pid))
        return self._suffix_and_sort(hits, text)

    def fused_spans(self, text: str, labels: Sequence[str]):
        """M1+M2+M3 in one pass for pure-ASCII text; None otherwise.

        For ASCII the whole reference cascade collapses to
        ``(start==0 ∨ prev∈bnd) ∧ (next∈bnd ∨ end==len)  ∨  rule (d)``
        (rules e/f are subsumed by b/c when char and byte indices coincide;
        an end-of-text next reads the 'N' sentinel, which fails a-c and is
        re-admitted exactly by the ``\\Z`` branch ≡ rule (d)). The accept
        condition lives inside the regex, so Python executes only per
        ACCEPTED span. Property-tested against the generic cascade fed
        the full Aho-Corasick raw match set (tests/test_matcher.py)."""
        if not text.isascii():
            return None
        hits: list[tuple[int, int, int]] = []
        by_name = self._by_name
        for rx, z in zip(self._accept_rxs, self._zero_rxs):
            mz = z.match(text)
            if mz:
                name = mz.group(1)
                for pid in by_name[name]:
                    hits.append((0, len(name), pid))
            for m in rx.finditer(text):
                s = m.start(1)
                name = m.group(1)
                e = s + len(name)
                for pid in by_name[name]:
                    hits.append((s, e, pid))
        n = len(text)
        for (blen, _clen), group in self._len_groups.items():
            s = n - blen  # ascii: byte == char units
            if s >= 0:
                pids = group.get(text[s:])
                if pids:
                    for pid in pids:
                        hits.append((s, n, pid))
        # sort by (start, end, pid) == the reference's stable start-sort of
        # the (end, pid)-ordered raw emission; consecutive-dedup = Vec::dedup.
        hits.sort()
        out: list[tuple[int, int, str]] = []
        prev = None
        for s, e, pid in hits:
            span = (s, e, labels[pid])
            if span != prev:
                out.append(span)
            prev = span
        return out

    def fused_clean(self, text: str, labels: Sequence[str]):
        """Clean-mode (engine extension) fused path for ASCII text: accept
        iff prev is absent/bnd AND next is absent/bnd — exactly the regex
        accept condition, with no rule-(d) suffix probe."""
        if not text.isascii():
            return None
        out = set()
        by_name = self._by_name
        for rx, z in zip(self._accept_rxs, self._zero_rxs):
            mz = z.match(text)
            if mz:
                name = mz.group(1)
                for pid in by_name[name]:
                    out.add((0, len(name), labels[pid]))
            for m in rx.finditer(text):
                s = m.start(1)
                name = m.group(1)
                for pid in by_name[name]:
                    out.add((s, s + len(name), labels[pid]))
        return sorted(out)

    def _suffix_and_sort(self, hits, text):
        try:
            tb = len(text.encode("utf-8"))
        except UnicodeEncodeError:
            tb = None  # invalid text: reference mode returns [] anyway
        if tb is not None:
            n = len(text)
            for (blen, clen), group in self._len_groups.items():
                s = tb - blen
                if 0 <= s and s + clen <= n:
                    pids = group.get(text[s:s + clen])
                    if pids:
                        for pid in pids:
                            hits.append((s, s + clen, pid))
        hits.sort(key=lambda h: (h[1], h[2]))
        return iter(hits)


class Matcher:
    """Compiled gazetteer: patterns + labels + boundary cascade.

    Parameters
    ----------
    entities : iterable of (name, label)
        Gazetteer rows; pattern id = position, mirroring the reference
        (quickner.rs:256-265 builds the automaton over entity positions).
        Empty names are skipped (the reference automaton would match the
        empty pattern everywhere; no real gazetteer contains one).

    The scan is always ``_BoundaryScan``; ASCII text takes its fused path,
    other text its raw-match subset through ``_filter_matches``.
    """

    __slots__ = ("names", "labels", "_scan", "_pat_bytes")

    def __init__(self, entities: Iterable[tuple[str, str]]):
        names: list[str] = []
        labels: list[str] = []
        for name, label in entities:
            names.append(name)
            labels.append(label)
        self.names = names
        self.labels = labels
        self._pat_bytes = [len(n.encode("utf-8")) for n in names]
        self._scan = _BoundaryScan(names)

    # -- M2: the boundary cascade, ported branch-for-branch ----------------
    def _boundary_ok(self, text: str, text_bytes: int, start: int, end: int, pid: int) -> bool:
        """Port of quickner-core/src/quickner.rs:137-222.

        start/end are char indices; ``target_len`` is the pattern's BYTE
        length and ``text_bytes`` the text's byte length — replicating the
        reference's char/byte unit mixing in rules (d)-(f).
        """
        target_len = self._pat_bytes[pid]
        nxt = _char_at(text, end)
        prev = _char_at(text, start - 1)
        # (a) quickner.rs:137-143
        if start == 0 and (_is_ws(nxt) or _is_punct(nxt)):
            return True
        # (b) quickner.rs:148-163
        if start > 0 and _is_ws(prev) and (_is_ws(nxt) or _is_punct(nxt)):
            return True
        # (c) quickner.rs:164-179
        if start > 0 and _is_punct(prev) and (_is_ws(nxt) or _is_punct(nxt)):
            return True
        # (d) quickner.rs:180-183 — suffix rule: char start + byte pattern
        # length equals byte text length; NO prev-char check.
        if start + target_len == text_bytes:
            return True
        # (e)/(f) quickner.rs:184-222 — prev boundary + char at
        # start+target_len (char/byte mix); for ASCII inputs subsumed by
        # (b)/(c), reachable only with multi-byte text.
        after = _char_at(text, start + target_len)
        if (_is_punct(prev) or _is_ws(prev)) and _is_ws(after):
            return True
        if (
            (_is_punct(prev) or _is_ws(prev))
            and _is_punct(after)
            and after != "."
            and (start > 0 and prev != ".")
        ):
            return True
        return False

    def find_spans(self, text: str) -> list[tuple[int, int, str]]:
        """M1 scan + M2 cascade + M3 sort/dedup.

        Port of find_index_using_aho_corasick (quickner.rs:118-233): returns
        char-offset spans ``(start, end, label)`` sorted stably by start with
        consecutive exact duplicates removed. Returns [] where the reference
        returns None.
        """
        fused = self._scan.fused_spans(text, self.labels)
        if fused is not None:
            return fused
        return self._filter_matches(text, self._scan.iter_matches(text))

    def find_spans_clean(self, text: str) -> list[tuple[int, int, str]]:
        """"Clean" word-boundary mode (engine extension, not reference
        parity): accept a match iff the char before is absent/whitespace/
        ASCII-punct AND the char after is absent/whitespace/ASCII-punct.

        This is the SQL-expressible variant used for oracle-checked
        distributed queries; it differs from reference mode only on the
        reference's quirk branches (rule (d) suffix matches with a
        non-boundary preceding char, e.g. 'xrust' at end of text).
        Results are sorted by (start, end, label) and exact-deduped.
        """
        fused = self._scan.fused_clean(text, self.labels)
        if fused is not None:
            return fused
        return self._filter_matches(text, self._scan.iter_matches(text),
                                    clean=True)

    def _filter_matches(self, text: str,
                        matches: Iterable[tuple[int, int, int]],
                        clean: bool = False) -> list[tuple[int, int, str]]:
        """M2 + M3 over raw ``(start, end, pid)`` matches ordered by
        (end, pid): the reference cascade, or the clean-mode filter when
        ``clean``. Accepts any superset of the boundary-anchored subset,
        so the tests feed it the full Aho-Corasick raw match set."""
        labels = self.labels
        if clean:
            n = len(text)
            out = set()
            for start, end, pid in matches:
                prev_ok = start == 0 or _is_ws(text[start - 1]) or _is_punct(text[start - 1])
                next_ok = end == n or _is_ws(text[end]) or _is_punct(text[end])
                if prev_ok and next_ok:
                    out.add((start, end, labels[pid]))
            return sorted(out)
        try:
            text_bytes = len(text.encode("utf-8"))
        except UnicodeEncodeError:
            # reference skips invalid-utf8 docs (quickner.rs:123-126)
            return []
        spans: list[tuple[int, int, str]] = []
        for start, end, pid in matches:
            if self._boundary_ok(text, text_bytes, start, end, pid):
                spans.append((start, end, labels[pid]))
        # M3 (quickner.rs:225-227): stable sort by start only, then
        # consecutive dedup (Vec::dedup semantics).
        spans.sort(key=lambda s: s[0])
        deduped: list[tuple[int, int, str]] = []
        for s in spans:
            if not deduped or deduped[-1] != s:
                deduped.append(s)
        return deduped


@lru_cache(maxsize=8)
def _cached_matcher(entities: tuple[tuple[str, str], ...]) -> Matcher:
    return Matcher(entities)


def get_matcher(entities: Sequence[tuple[str, str]]) -> Matcher:
    """Build-or-reuse a Matcher. Executors call this once per gazetteer per
    Python worker process — the automaton build is amortized across all
    Arrow batches of all tasks, mirroring the reference's Arc-shared
    automaton (quickner.rs:265)."""
    return _cached_matcher(tuple((n, l) for n, l in entities))


def find_spans(
    text: str,
    entities: Sequence[tuple[str, str]],
    mode: str = "reference",
) -> list[tuple[int, int, str]]:
    """One-shot span extraction (builds/caches a Matcher)."""
    m = get_matcher(entities)
    if mode == "clean":
        return m.find_spans_clean(text)
    return m.find_spans(text)


def annotate_text(
    text: str,
    labels: list[tuple[int, int, str]],
    entities: Sequence[tuple[str, str]],
    case_sensitive: bool = False,
) -> tuple[str, list[tuple[int, int, str]]]:
    """Single-document annotate — port of the Python-visible path
    PyDocument::annotate (src/pydocument.rs:75-87), which matches on a
    FRESH copy of the text (core Document::annotate,
    quickner-core/src/document.rs:65-86): the stored text is NOT mutated
    even when case-insensitive (unlike the batch ``process()`` path).

    The new matches are sorted by (start, end, label) (document.rs:83-85),
    APPENDED after the existing labels, then deduped order-preservingly
    (pydocument.rs:89-97) — so a span found by an earlier call keeps its
    position (asserted by /root/reference/tests/test.py:157-165: ORG stays
    first). Returns (text, new_labels) with ``text`` unchanged.
    """
    ents = list(entities)
    match_text = text
    if not case_sensitive:
        match_text = text.lower()
        ents = [(n.lower(), l) for n, l in ents]
    found = get_matcher(ents).find_spans(match_text)
    found.sort(key=lambda s: (s[0], s[1], s[2]))
    merged = list(labels) + found
    unique: list[tuple[int, int, str]] = []
    for s in merged:
        if s not in unique:
            unique.append(s)
    return text, unique
