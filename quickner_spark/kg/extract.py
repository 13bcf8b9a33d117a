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
from pyspark.sql import DataFrame, functions as F

__all__ = ["extract_text", "extract_stage", "extract_annotate_stage",
           "mentions_from_spans"]

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
                           predicates: Sequence[str] = ()) -> DataFrame:
    """FUSED extract + annotate: pages(url, html, ...) ->
    (url, text, spans array<struct<start, end, label, surface, maximal,
    canonical_id, link_label, link_overlap>>, triples array<struct<subj,
    pred, obj, subj_start, obj_start>>) in ONE Arrow-batched Python pass.

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
    the extract output — pinned by tests/test_kg_pipeline.py against the
    relational oracle pipeline (tests/kg_oracle.py).

    Each span also carries a ``maximal`` flag — True unless another span
    of the SAME document strictly contains it (the longest-match rule the
    ``maximal_mentions`` operator implements as a doc-keyed anti-join).
    Computed here in-row because the document's spans are all in hand
    before the explode: an O(k log k) sweep per document replaces a
    corpus-sized mention×mention anti-join downstream — at 100 TB that
    join simply never exists. Differential-tested against the operator.

    Each document's ``triples`` are found here too, from its maximal
    spans and the matcher-cased text: a maximal span ending at ``e`` is a
    subject of predicate ``p`` when the text continues with ``" p "`` at
    ``e``, and every maximal span starting at ``e + len(p) + 2`` is its
    object — one triple per (subject span, object span) pair, so one
    surface under two labels counts twice, exactly as
    ``kg.triples.window_triples`` over the maximal mentions. A triple
    never spans documents, so the (doc, offset) join of the relational
    form becomes a dict lookup per document; ``kg.triples.
    triples_from_spans`` explodes the column JVM-side. With
    ``predicates=()`` every array is empty.

    Each span is also LINKED in-row (always): ``canonical_id``,
    ``link_label`` and ``link_overlap`` are the winner's fields under
    exactly ``kg.link.link_mentions``' semantics over
    ``alias_table_from_gazetteer(entities)`` — candidates are the entities
    whose ``name.lower()`` equals ``surface.lower()``, overlap = |distinct
    ``" "``-split tokens of the canonical id (``_`` -> space) ∩ distinct
    ``" "``-split tokens of the lowered document text|, winner = max of
    (score, canonical_id, label). Link scoring is doc-local, and the
    document's tokens are in hand here, so the document join, vocabulary
    broadcast and argmax aggregate of the relational linker never run;
    ``kg.link.linked_from_spans`` computes the score JVM-side from these
    fields. A span with no candidate (only possible under Unicode case
    quirks) carries nulls. All lowercasing here is Python ``str.lower``,
    like the matcher's; ``link_mentions`` lowers with the JVM, which
    differs on the code points that gained case pairs in Unicode 14 — the
    fused link follows the matcher there."""
    from quickner_spark.kg.link import gazetteer_candidates, link_winner
    from quickner_spark.matcher import get_matcher

    ents = tuple(entities)
    bc = pages.sparkSession.sparkContext.broadcast(ents)
    lower = not case_sensitive
    extractor = extractor or extract_text
    framed = tuple((p, f" {p} ") for p in predicates)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = get_matcher(bc.value)
        find = matcher.find_spans
        cands = gazetteer_candidates(bc.value)
        for pdf in batches:
            texts, spans, triples = [], [], []
            for h in pdf[html_col].values:
                text = extractor(h)
                texts.append(text)
                if text is None:
                    spans.append([])
                    triples.append([])
                    continue
                t = text.lower() if lower else text
                found = find(t)
                flags = _maximal_flags(found)
                # link winner per distinct surface; the document's token
                # set is built once, on the first span with a candidate
                toks, links, row = None, {}, []
                for i, (s, e, lab) in enumerate(found):
                    surface = t[s:e]
                    if surface not in links:
                        c = cands.get(surface.lower())
                        if c and toks is None:
                            toks = set((t if lower else t.lower()).split(" "))
                        links[surface] = (link_winner(c, toks) if c
                                          else (None, None, None))
                    row.append((s, e, lab, surface, flags[i],
                                *links[surface]))
                spans.append(row)
                triples.append(_doc_triples(t, row, framed))
            yield pd.DataFrame({url_col: pdf[url_col], "text": texts,
                                "spans": spans, "triples": triples})

    return pages.select(url_col, html_col).mapInPandas(
        gen,
        f"{url_col} string, text string, "
        "spans array<struct<start: long, end: long, label: string, "
        "surface: string, maximal: boolean, canonical_id: string, "
        "link_label: string, link_overlap: int>>, "
        "triples array<struct<subj: string, pred: string, obj: string, "
        "subj_start: long, obj_start: long>>")


def _doc_triples(t: str, spans, framed) -> list[tuple]:
    """One document's (subj, pred, obj, subj_start, obj_start) triples
    over its maximal ``spans`` (start, end, label, surface, maximal, ...);
    ``framed`` holds (pred, " pred ") per predicate."""
    objs: dict[int, list[str]] = {}
    for sp in spans:
        if sp[4]:
            objs.setdefault(sp[0], []).append(sp[3])
    out = []
    for s, e, _, subj, maximal, *_ in spans:
        if not maximal:
            continue
        for p, fp in framed:
            if t.startswith(fp, e):
                o = e + len(fp)
                out.extend((subj, p, obj, s, o) for obj in objs.get(o, ()))
    return out


def mentions_from_spans(extract: DataFrame,
                        url_col: str = "url") -> DataFrame:
    """The mentions table of a fused extract: one row per span with
    (url, start, end, label, surface, maximal) — a JVM-only explode. The
    in-row link fields stay behind (the linked table reads them,
    :func:`kg.link.linked_from_spans`)."""
    return (extract.select(url_col, F.explode("spans").alias("__m"))
            .select(url_col, "__m.start", "__m.end", "__m.label",
                    "__m.surface", "__m.maximal"))


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
