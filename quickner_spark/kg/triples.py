"""Triple extraction: (subj, pred, obj) from co-occurring mentions.

North-rule stage (BASELINE.json north_star): pattern-based SVO extraction
over annotated sentences. The engine primitive is a *mention-pair
pattern*: two mentions of the same document linked by a predicate
expression that must match the text between them.

Two physical forms, identical output (differential-tested):

* In-row, for the KG build (batch, snapshot and streaming). A triple is
  doc-local, so the fused extract pass
  (``kg.extract.extract_annotate_stage(predicates=...)``) finds each
  document's triples from its maximal spans and the matcher-cased text it
  already holds, and :func:`triples_from_spans` explodes them JVM-side:
  no document join, no mention join, no exchange.
* Relational, over bare tables (q12, q28, q35 and the test oracles).
  :func:`window_triples` takes mentions that carry their post-span text
  window ``nxt``; :func:`pattern_triples` slices that window from the
  doc-joined text. Both hand over to one rule: a ``startswith`` per
  predicate on the window, then the surviving candidates equi-join
  mentions on (doc, expected object offset). No mention×predicate
  fan-out ever reaches a join input (the round-2 formulation sorted
  |preds|×|mentions| rows — 459M at 1.6M pages — for the
  mention-mention join), and no per-document mention² cross product
  exists.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = ["pattern_triples", "triples_from_spans", "window_triples"]


def triples_from_spans(extract: DataFrame) -> DataFrame:
    """The triples table of a fused extract
    (``kg.extract.extract_annotate_stage(predicates=...)``): one row per
    element of its in-row ``triples`` array, as (url, subj, pred, obj,
    subj_start, obj_start) — the columns and types of
    :func:`window_triples`. A JVM-only explode: no join, no exchange."""
    return extract.select("url", F.inline("triples"))


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


def _window_rule(subjects: DataFrame, objects: DataFrame,
                 predicates: Sequence[str], id_col: str,
                 window_col: str) -> DataFrame:
    """The relational triple rule: every predicate is tested with a
    ``startswith`` on each subject's post-span ``window_col``, and the
    surviving (subj, pred, expected object offset) candidates equi-join
    ``objects`` on (doc, offset).

    The join is pinned to sort-merge: both sides are corpus-sized,
    compressed-parquet stats under-estimate them, and Spark would
    otherwise broadcast the mention table (serial driver collect+hash —
    cannot scale with cores, OOMs at corpus scale)."""
    if not predicates:
        return _empty_triples(subjects, id_col)
    cand = (subjects
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
    objs = objects.select(F.col(id_col).alias("__id"),
                          F.col("start").alias("obj_start"),
                          F.col("surface").alias("obj"))
    return (cand.join(objs.hint("merge"), ["__id", "obj_start"])
            .select(F.col("__id").alias(id_col),
                    "subj", "pred", "obj",
                    F.col("subj_start").cast("long").alias("subj_start"),
                    F.col("obj_start").cast("long").alias("obj_start")))


def window_triples(
    mentions: DataFrame,
    predicates: Sequence[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Triples from mentions that carry their own post-span text window
    ``nxt``: at least the longest predicate plus its two framing spaces
    of the (matcher-cased) text after the span. The connective test never
    touches the document table; the only corpus-sized work is one slim
    explode+filter scan over mentions and the (doc, offset) sort-merge
    join."""
    return _window_rule(mentions, mentions, predicates, id_col, "nxt")


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

    Subject mentions join their document's text on the doc key alone (a
    single-key sort-merge join), and ONE ``substring`` per mention slices
    the post-span window — a JVM substring seeks the UTF-8 bytes up to
    the offset, so it must run once per mention, not once per
    mention×predicate (measured as the stage's dominant cost). The text
    is dropped in the same projection, and the window rule of
    :func:`window_triples` takes over."""
    text = F.lower(F.col(text_col)) if lower_text else F.col(text_col)
    docs = documents.select(id_col, text.alias("__text"))
    width = max(map(len, predicates), default=0) + 2
    subjects = (mentions.select(id_col, "start", "end", "surface")
                .join(docs.hint("merge"), id_col)
                .select(id_col, "start", "end", "surface",
                        F.col("__text").substr(F.col("end") + 1,
                                               F.lit(width)).alias("__w")))
    return _window_rule(subjects, mentions, predicates, id_col, "__w")
