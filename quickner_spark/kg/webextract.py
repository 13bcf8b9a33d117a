"""Boilerplate-aware text extraction for real-web HTML.

``kg.extract.extract_text`` inverts the synthetic corpus generator exactly
(byte-identical invariant); this module is the swap-in for non-synthetic
pages the extract stage docstring promises: a deterministic, pure-stdlib
(``html.parser``) extractor in the boilerplate-removal family of
Kohlschütter et al.'s boilerpipe (WSDM 2010) — block segmentation +
(word count, link density) features — with no parser-library dependency,
so it runs on any executor image.

Algorithm:
1. Parse once with ``HTMLParser`` (charrefs decoded by the parser).
   Content inside ``script/style/noscript/template/svg/head`` is dropped;
   block-level tags close the current text block; ``<a>`` text is counted
   toward the block's anchor-char tally.
2. A block is CONTENT iff it has >= ``min_words`` words AND its link
   density (anchor chars / text chars) is <= ``max_link_density``.
   Short low-link blocks between two content blocks are kept too
   (headline/continuation rule — the boilerpipe "surrounded" heuristic).
3. Blocks join with a single newline. Whitespace inside a block collapses
   to single spaces, so output is deterministic byte-for-byte for a given
   input (pinned by tests).

Same contract as ``kg.extract.extract_text`` (deterministic
``bytes -> str | None``), so it swaps into the fused pass as
``extract_annotate_stage(pages, gaz, extractor=extract_text_web)``.

Two parsers, one behavior: the hot path is :func:`_blocks_fast`, a
hand-rolled quote-aware tag scanner ~3x faster than ``html.parser`` (no
attribute parsing, no per-tag position bookkeeping, no handler dispatch
— extraction is the dominant stage cost of a real-web 100 TB run, so
per-core page throughput here multiplies the whole pipeline). It bails
to the :class:`HTMLParser`-based reference implementation on any
construct whose recovery semantics it does not replicate (unterminated
tags/comments, quote-ambiguous attributes, marked sections), so output
is byte-identical to the reference parser on EVERY input — pinned by
differential tests including a hostile-HTML suite and a random fuzzer
(``tests/test_webextract.py``).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

__all__ = ["extract_text_web"]

_SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "svg", "head", "iframe"})
_BLOCK_TAGS = frozenset(
    {"p", "div", "article", "section", "li", "ul", "ol", "table", "tr",
     "td", "th", "h1", "h2", "h3", "h4", "h5", "h6", "br", "blockquote",
     "pre", "header", "footer", "nav", "aside", "main", "body", "figure",
     "figcaption", "form"})
_VOID_TAGS = frozenset({"br", "hr", "img", "input", "meta", "link"})


class _BlockParser(HTMLParser):
    """One pass -> list of (text, n_chars, n_anchor_chars) blocks."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int]] = []
        self._buf: list[str] = []
        self._anchor_chars = 0
        self._skip_depth = 0
        self._anchor_depth = 0

    def _flush(self) -> None:
        text = " ".join("".join(self._buf).split())
        if text:
            self.blocks.append((text, len(text), self._anchor_chars))
        self._buf = []
        self._anchor_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "a":
            self._anchor_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        if tag in _BLOCK_TAGS and tag not in _VOID_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._skip_depth:
            return
        self._buf.append(data)
        if self._anchor_depth:
            self._anchor_chars += len(data.strip())

    def close(self):
        super().close()
        self._flush()


class _Bail(Exception):
    """Fast scanner met a construct whose HTMLParser recovery path it does
    not replicate — rerun the page through the reference parser."""


# Tolerant tag-name class, identical to html.parser's tagfind_tolerant.
_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")
# Whole start tag: tolerant name + quote-aware attribute scan to the
# closing '>' — lands on the same '>' as html.parser's
# locatestarttagend_tolerant for well-formed tags; fails (-> _Bail ->
# reference parser) on the weird attribute shapes where the two could
# diverge.
_STARTTAG_RE = re.compile(
    r"""<([a-zA-Z][^\t\n\r\f />\x00]*)(?:[^>'"]|"[^"]*"|'[^']*')*>""")
# Strict end tag, identical to html.parser's endtagfind.
_ENDTAG_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# Comment close, identical to html.parser's commentclose ('--  >' counts).
_COMMENT_CLOSE = re.compile(r"--\s*>")
# CDATA content elements (html.parser.HTMLParser.CDATA_CONTENT_ELEMENTS):
# raw text until the matching close tag, no tags parsed inside.
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script", re.IGNORECASE),
    "style": re.compile(r"</\s*style", re.IGNORECASE),
}
# One qualifying word == one maximal \S+ token containing >=1 alnum char;
# [^\W_] is exactly str.isalnum() for re.UNICODE (\w minus underscore).
_QUAL_WORD_RE = re.compile(r"\S*[^\W_]\S*")


def _blocks_reference(raw: str) -> list[tuple[str, int, int]]:
    parser = _BlockParser()
    parser.feed(raw)
    parser.close()
    return parser.blocks


def _blocks_fast(raw: str) -> list[tuple[str, int, int]]:
    """Single-pass scanner producing byte-identical blocks to
    ``_blocks_reference`` (pinned by differential tests) at a fraction of
    the cost: no attribute parsing, no per-tag position bookkeeping, no
    handler dispatch. Raises :class:`_Bail` on constructs (unterminated
    tags/comments, quote-ambiguous attributes, CDATA sections) whose
    HTMLParser recovery semantics it does not reimplement."""
    blocks: list[tuple[str, int, int]] = []
    buf: list[str] = []
    anchor_chars = 0
    skip_depth = 0
    anchor_depth = 0
    n = len(raw)
    i = 0
    find = raw.find

    def flush() -> None:
        nonlocal buf, anchor_chars
        if buf:
            text = " ".join("".join(buf).split())
            if text:
                blocks.append((text, len(text), anchor_chars))
            buf = []
        anchor_chars = 0

    while i < n:
        lt = find("<", i)
        if lt < 0:
            lt = n
        if lt > i and not skip_depth:
            seg = raw[i:lt]
            if "&" in seg:
                seg = unescape(seg)
            buf.append(seg)
            if anchor_depth:
                anchor_chars += len(seg.strip())
        if lt >= n:
            break
        nxt = raw[lt + 1:lt + 2]
        if "a" <= nxt <= "z" or "A" <= nxt <= "Z":  # start tag (ASCII only,
            # like html.parser's starttagopen)
            m = _STARTTAG_RE.match(raw, lt)
            if m is None:
                raise _Bail  # unterminated / quote-ambiguous start tag
            tag = m.group(1).lower()
            i = m.end()
            if raw[i - 2] == "/":
                # '/>' is self-closing only when the '/' follows the tag
                # name, whitespace, or a quoted value — a '/' glued to an
                # unquoted value is PART of the value in html.parser
                # (locatestarttagend_tolerant's bare-value arm), and '//>'
                # shapes take its bogus-tag recovery path: defer both.
                prev = raw[i - 3]
                if i - 2 == m.end(1) or prev in '\t\n\r\f "\'':
                    selfclosing = True
                else:
                    raise _Bail
            else:
                selfclosing = False
            if tag in _SKIP_TAGS:
                if not selfclosing:
                    skip_depth += 1
            elif tag == "a":
                if not selfclosing:
                    anchor_depth += 1
            if tag in _BLOCK_TAGS and buf:
                flush()
            if not selfclosing and tag in _CDATA_CLOSE:
                # raw-text element: scan for a *matching* close tag —
                # '</scriptx>' or '</script foo>' do NOT leave CDATA mode
                # (html.parser parse_endtag's cdata_elem checks)
                pat = _CDATA_CLOSE[tag]
                pos = i
                while True:
                    mc = pat.search(raw, pos)
                    if mc is None:
                        i = n  # EOF inside script/style: remainder is
                        break  # skipped data either way
                    m2 = _ENDTAG_RE.match(raw, mc.start())
                    if m2 is not None and m2.group(1).lower() == tag:
                        skip_depth = max(0, skip_depth - 1)
                        i = m2.end()
                        break
                    pos = mc.start() + 2  # still CDATA: keep scanning
        elif nxt == "/":  # end tag
            m = _ENDTAG_RE.match(raw, lt)
            if m is not None:
                tag = m.group(1).lower()
                i = m.end()
            elif raw.startswith("</>", lt):
                i = lt + 3
                continue
            else:
                m = _NAME_RE.match(raw, lt + 2)
                if m is None:
                    raise _Bail  # '</' + non-name: bogus-comment path
                tag = m.group(0).lower()
                gt = find(">", m.end())
                if gt < 0:
                    raise _Bail
                i = gt + 1
            if tag in _SKIP_TAGS:
                skip_depth = max(0, skip_depth - 1)
            elif tag == "a":
                anchor_depth = max(0, anchor_depth - 1)
            elif tag in _BLOCK_TAGS and buf and tag not in _VOID_TAGS:
                flush()
        elif nxt == "!":
            if raw.startswith("<!--", lt):
                mc = _COMMENT_CLOSE.search(raw, lt + 4)
                if mc is None:
                    raise _Bail  # unterminated comment
                i = mc.end()
            elif raw.startswith("<![", lt):
                raise _Bail  # marked section: parse_marked_section
            else:  # doctype / bogus declaration: skip to '>'
                gt = find(">", lt + 2)
                if gt < 0:
                    raise _Bail
                i = gt + 1
        elif nxt == "?":  # processing instruction: skip to '>'
            gt = find(">", lt + 2)
            if gt < 0:
                raise _Bail
            i = gt + 1
        else:  # lone '<' (incl. at EOF): literal data
            if not skip_depth:
                buf.append("<")
                if anchor_depth:
                    anchor_chars += 1
            i = lt + 1
    flush()
    return blocks


def extract_text_web(html: bytes | None, min_words: int = 5,
                     max_link_density: float = 0.5) -> str | None:
    """Deterministic boilerplate-aware extraction; None for undecodable,
    empty, or all-boilerplate payloads (the same invalid-input contract as
    ``extract_text``)."""
    if html is None:
        return None
    try:
        raw = html.decode("utf-8")
    except UnicodeDecodeError:
        return None
    try:
        try:
            blocks = _blocks_fast(raw)
        except _Bail:
            blocks = _blocks_reference(raw)
    except Exception:
        return None  # pathological markup: skip the page, never the job
    content = []
    for i, (text, n_chars, n_anchor) in enumerate(blocks):
        # count only tokens carrying at least one alphanumeric — bullet
        # separators and bare punctuation shouldn't qualify chrome blocks
        n_words = len(_QUAL_WORD_RE.findall(text))
        dense_link = n_chars > 0 and (n_anchor / n_chars) > max_link_density
        if dense_link:
            content.append(False)
        else:
            content.append(n_words >= min_words)
    # "surrounded" rule: a short low-link block between two content blocks
    # is a headline/continuation, keep it
    for i in range(1, len(blocks) - 1):
        if not content[i]:
            _, n_chars, n_anchor = blocks[i]
            low_link = n_chars == 0 or (n_anchor / n_chars) <= max_link_density
            if low_link and content[i - 1] and content[i + 1]:
                content[i] = True
    kept = [b[0] for b, c in zip(blocks, content) if c]
    return "\n".join(kept) if kept else None
