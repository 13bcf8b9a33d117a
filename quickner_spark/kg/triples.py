"""Triple extraction: (subj, pred, obj) from co-occurring mentions.

North-rule stage (BASELINE.json north_star): pattern-based SVO extraction
over annotated sentences. The engine primitive is a *mention-pair pattern
join*: two mentions of the same document linked by a predicate expression
that must match the text between them.

Two physical forms, identical output (differential-tested):

* :func:`window_triples` — the KG build's path (batch, snapshot and
  streaming). The fused extract pass ships each mention with ``nxt``,
  the few characters of text after the span, so the predicate test is a
  plain ``startswith`` on a 16-char column and NO document text is ever
  joined or seeked: one slim sort-merge join total.
* :func:`pattern_triples` — the generic form over bare (mentions,
  documents) tables: subj mentions join their document text on the doc
  key, one windowed slice per mention feeds the in-row predicate test,
  then the surviving candidates equi-join mentions on (doc, expected
  object offset). No mention×predicate fan-out ever reaches a join input
  (the round-2 formulation sorted |preds|×|mentions| rows — 459M at 1.6M
  pages — for the mention-mention join), and no per-document mention²
  cross product exists.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = ["adjacent_pattern_triples", "pattern_triples", "predicate_window",
           "window_triples"]


def predicate_window(predicates: Sequence[str]) -> int:
    """The post-span ``nxt`` width :func:`window_triples` needs for
    ``predicates`` (``extract_annotate_stage(window=...)``): the longest
    predicate plus its two framing spaces; 0 (no window) without
    predicates."""
    return max(len(p) for p in predicates) + 2 if predicates else 0


def adjacent_pattern_triples(*args, **kwargs) -> DataFrame:
    """Triples from the exact pattern ``<subj mention> <pred> <obj mention>``
    with single-space separation. Alias of :func:`pattern_triples` —
    returns (doc_id, subj, pred, obj, subj_start, obj_start); provenance
    columns keep triple-level P/R auditable per doc/url."""
    return pattern_triples(*args, **kwargs)


def _pred_probe(predicates: Sequence[str], window_col: str):
    """array<struct<pred, plen, ok>> testing every predicate literal
    against the post-span text window. `` pred `` prefix == the reference
    condition (space at span end, predicate token, space after). All plain
    codegen-able expressions — higher-order functions (transform/filter)
    drop the whole projection to interpreted evaluation, measured 2x+ the
    stage wall on the corpus-sized candidate scan."""
    return F.array(*[
        F.struct(F.lit(p).alias("pred"), F.lit(len(p)).alias("plen"),
                 F.col(window_col).startswith(f" {p} ").alias("ok"))
        for p in predicates])


def _empty_triples(mentions: DataFrame, id_col: str) -> DataFrame:
    """Typed empty result for ``predicates=()`` — no connective can ever
    match, and ``_pred_probe`` cannot build a zero-element struct array."""
    id_type = mentions.schema[id_col].dataType.simpleString()
    empty = mentions.sparkSession.createDataFrame(
        [], f"{id_col} {id_type}, subj string, pred string, obj string, "
            "subj_start long, obj_start long")
    # a 0-partition LocalRelation writes a parquet dir with no part files
    # (schema-less, unreadable); force one task so the footer lands
    return empty.repartition(1)


def _candidate_join(cand: DataFrame, m2: DataFrame, id_col: str) -> DataFrame:
    """(subj, pred, expected obj offset) candidates ⋈ mentions.

    Pinned to sort-merge: both sides are corpus-sized, compressed-parquet
    stats under-estimate them, and Spark would otherwise broadcast the
    mention table (serial driver collect+hash — cannot scale with cores,
    OOMs at corpus scale)."""
    return (cand.join(m2.hint("merge"), ["__id", "obj_start"])
            .select(F.col("__id").alias(id_col),
                    "subj", "pred", "obj",
                    F.col("subj_start").cast("long").alias("subj_start"),
                    F.col("obj_start").cast("long").alias("obj_start")))


def window_triples(
    mentions: DataFrame,
    predicates: Sequence[str],
    id_col: str = "doc_id",
    window_col: str = "nxt",
) -> DataFrame:
    """Triples from mentions that carry their own post-span text window
    (``extract_annotate_stage(window=...)``): the connective test never
    touches the document table. The window must be at least
    :func:`predicate_window` characters of the same predicates.

    Scale shape: zero document join, zero text seek. The only corpus-
    sized work is one slim explode+filter scan over mentions and the
    (doc, offset) sort-merge join of :func:`_candidate_join`."""
    if not predicates:
        return _empty_triples(mentions, id_col)
    m2 = mentions.select(F.col(id_col).alias("__id"),
                         F.col("start").alias("obj_start"),
                         F.col("surface").alias("obj"))
    cand = (mentions
            .select(F.col(id_col).alias("__id"),
                    F.col("start").alias("subj_start"),
                    F.col("end").alias("subj_end"),
                    F.col("surface").alias("subj"),
                    F.explode(_pred_probe(predicates, window_col))
                    .alias("__p"))
            .where(F.col("__p.ok"))
            .select("__id", "subj_start", "subj",
                    F.col("__p.pred").alias("pred"),
                    (F.col("subj_end") + 2
                     + F.col("__p.plen")).alias("obj_start")))
    return _candidate_join(cand, m2, id_col)


def pattern_triples(
    mentions: DataFrame,
    documents: DataFrame,
    predicates: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    lower_text: bool = True,
) -> DataFrame:
    """General mention-pair + connecting-token triple extraction.

    A triple fires when ``text[subj.end] == ' '``, the predicate token
    occupies ``text[subj.end+1 : subj.end+1+len(pred)]``, followed by one
    space, and the object mention starts exactly after it.

    Plan shape (in join-cost order):

    1. subj mentions join their document's text on the doc key alone — a
       single-key sort-merge join.
    2. ONE ``substring`` per mention slices the post-span window (a JVM
       substring seeks the UTF-8 bytes up to the offset, so it must run
       once per mention, not once per mention×predicate — measured as
       the stage's dominant cost), the text is dropped in the same
       projection, and every predicate literal tests against the tiny
       window with a codegen-able ``startswith``.
    3. The surviving slim candidates equi-join mentions on (doc, exact
       expected object offset) — see :func:`_candidate_join`.
    """
    if not predicates:
        return _empty_triples(mentions, id_col)
    m1 = mentions.select(F.col(id_col).alias("__id"),
                         F.col("start").alias("subj_start"),
                         F.col("end").alias("subj_end"),
                         F.col("surface").alias("subj"))
    m2 = mentions.select(F.col(id_col).alias("__id"),
                         F.col("start").alias("obj_start"),
                         F.col("surface").alias("obj"))
    text = F.lower(F.col(text_col)) if lower_text else F.col(text_col)
    docs = documents.select(F.col(id_col).alias("__id"), text.alias("__text"))
    width = max(len(p) for p in predicates) + 2 if predicates else 2
    cand = (m1.join(docs.hint("merge"), "__id")
            .select("__id", "subj_start", "subj_end", "subj",
                    F.col("__text").substr(F.col("subj_end") + 1,
                                           F.lit(width)).alias("__w"))
            .select("__id", "subj_start", "subj_end", "subj",
                    F.explode(_pred_probe(predicates, "__w")).alias("__p"))
            .where(F.col("__p.ok"))
            .select("__id", "subj_start", "subj",
                    F.col("__p.pred").alias("pred"),
                    (F.col("subj_end") + 2
                     + F.col("__p.plen")).alias("obj_start")))
    return _candidate_join(cand, m2, id_col)
