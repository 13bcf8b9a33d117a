"""Text extraction: html binary -> text, deterministic and byte-identical
per url (BASELINE.json input_hint).

The extractor is a pure-Python deterministic function (no parser library
dependency) run as an Arrow-batched mapInPandas stage. It inverts
``kg.corpus.page_html`` exactly: the first ``<p>...</p>`` payload,
HTML-unescaped. Real-web HTML would swap in a stronger extractor behind the
same stage contract (same schema/batching); determinism per url is the
invariant the pipeline tests pin.
"""

from __future__ import annotations

import html as html_mod
import re
from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame

__all__ = ["extract_text", "extract_stage", "extract_annotate_stage"]

_P_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


def extract_text(html: bytes) -> str | None:
    """Deterministic extraction; None for undecodable/empty payloads
    (the engine-level analogue of the reference's invalid-utf8 skip,
    quickner.rs:123-126)."""
    if html is None:
        return None
    m = _P_RE.search(html)
    if not m:
        return None
    try:
        return html_mod.unescape(m.group(1).decode("utf-8"))
    except UnicodeDecodeError:
        return None


def extract_stage(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url", extractor=None) -> DataFrame:
    """pages(url, html, ...) -> (url, text). Narrow map, no shuffle; only
    (url, html) columns are read (column pruning drops the rest at the
    scan). ``extractor``: any deterministic ``bytes -> str | None``
    (default :func:`extract_text`, the synthetic-corpus inverse; pass
    ``kg.webextract.extract_text_web`` for real-web boilerplate-aware
    extraction — same contract, pinned by tests)."""
    extractor = extractor or extract_text

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                url_col: pdf[url_col],
                "text": [extractor(h) for h in pdf[html_col].values],
            })

    return pages.select(url_col, html_col).mapInPandas(
        gen, f"{url_col} string, text string")


def extract_annotate_stage(pages: DataFrame,
                           entities: Sequence[tuple[str, str]],
                           html_col: str = "html", url_col: str = "url",
                           case_sensitive: bool = False,
                           extractor=None,
                           window: int = 0) -> DataFrame:
    """FUSED extract + annotate: pages(url, html, ...) ->
    (url, text, spans array<struct<start, end, label, surface>>) in ONE
    Arrow-batched Python pass.

    Rationale (the 100 TB bandwidth argument): run separately, the text
    corpus crosses the JVM<->Python Arrow boundary three times (extract
    out, annotate in, plus a parquet write+read between the stages); fused,
    the extracted text is matched while it is still a Python string, so
    the corpus crosses ONCE and the inter-stage parquet hop disappears.
    On a shared-memory box (and on bandwidth-bound executors) this is the
    difference that scales — the matcher compute itself parallelizes
    either way.

    Spans are produced by the SAME broadcast automaton + boundary cascade
    as ``operators.annotate.annotate_mentions`` (lowercase handling
    included: surfaces are sliced from the lowered text), so
    ``explode(spans)`` is row-identical to running annotate_mentions over
    the extract output — pinned by tests/test_kg_pipeline.py.

    Each span also carries a ``maximal`` flag — True unless another span
    of the SAME document strictly contains it (the longest-match rule the
    ``maximal_mentions`` operator implements as a doc-keyed anti-join).
    Computed here in-row because the document's spans are all in hand
    before the explode: an O(k log k) sweep per document replaces a
    corpus-sized mention×mention anti-join downstream — at 100 TB that
    join (and the re-sort its output forces on the triples join) simply
    never exists. Differential-tested against the operator.

    ``window > 0`` additionally emits per span a ``nxt`` column: the
    ``window`` characters of (matcher-cased) text following the span.
    Python string slicing is O(window) — fixed-width char array — so
    this costs nothing here, but it lets the triples stage test its
    connective predicates as a plain ``startswith`` on a 16-char column
    INSTEAD of joining the document text back onto every mention and
    seeking into a ~1 KB string per mention×predicate (a JVM
    ``substring`` re-scans the UTF-8 bytes up to the offset — measured
    as the triples stage's dominant cost). Pass
    ``window = max(len(p) for p in predicates) + 2`` (the two framing
    spaces)."""
    from quickner_spark.matcher import get_matcher

    ents = tuple(entities)
    bc = pages.sparkSession.sparkContext.broadcast(ents)
    lower = not case_sensitive
    extractor = extractor or extract_text

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = get_matcher(bc.value)
        find = matcher.find_spans
        for pdf in batches:
            texts, spans = [], []
            for h in pdf[html_col].values:
                text = extractor(h)
                texts.append(text)
                if text is None:
                    spans.append([])
                    continue
                t = text.lower() if lower else text
                found = find(t)
                flags = _maximal_flags(found)
                if window:
                    spans.append([
                        (s, e, lab, t[s:e], flags[i], t[e:e + window])
                        for i, (s, e, lab) in enumerate(found)])
                else:
                    spans.append([(s, e, lab, t[s:e], flags[i])
                                  for i, (s, e, lab) in enumerate(found)])
            yield pd.DataFrame({url_col: pdf[url_col],
                                "text": texts, "spans": spans})

    nxt = ", nxt: string" if window else ""
    return pages.select(url_col, html_col).mapInPandas(
        gen,
        f"{url_col} string, text string, "
        "spans array<struct<start: long, end: long, "
        f"label: string, surface: string, maximal: boolean{nxt}>>")


def _maximal_flags(spans) -> list[bool]:
    """Per-span longest-match flags, replicating ``maximal_mentions``'s
    anti-join condition exactly: span a is NOT maximal iff some span b of
    the same document has b.start <= a.start, a.end <= b.end and
    (b.start, b.end) != (a.start, a.end). Sweep over (start asc, end
    desc): every prior span has start <= current, so a container exists
    iff the running max end exceeds the current end, or equals it via a
    span that started strictly earlier (an identical-interval span — same
    start AND end, e.g. the same surface under two labels — is not a
    container, matching the operator)."""
    k = len(spans)
    if k <= 1:
        return [True] * k
    order = sorted(range(k), key=lambda i: (spans[i][0], -spans[i][1]))
    flags = [True] * k
    max_end = -1
    max_end_first_start = -1
    for i in order:
        s, e = spans[i][0], spans[i][1]
        if e < max_end or (e == max_end and max_end_first_start < s):
            flags[i] = False
        if e > max_end:
            max_end = e
            max_end_first_start = s
    return flags
