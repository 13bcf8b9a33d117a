"""The relational KG composition: the test oracle for the fused KG build.

Production builds the doc-local KG tables from one Arrow-batched pass
(``kg.extract.extract_annotate_stage``: extract, annotate, maximal flags
and the in-row link) plus JVM-only explodes and the windowed triple test.
This is the composition of public operators it replaced — a separate
extract pass, ``annotate_mentions``, ``link_mentions`` over
``alias_table_from_gazetteer``, the ``maximal_mentions`` anti-join and the
text-joining ``pattern_triples`` — kept so the differential tests can
compare the two on the same pages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from quickner_spark.kg.extract import extract_stage
from quickner_spark.kg.link import alias_table_from_gazetteer, link_mentions
from quickner_spark.kg.pipeline import Pipeline, build_kg_pipeline
from quickner_spark.kg.triples import pattern_triples
from quickner_spark.operators.annotate import (annotate_mentions,
                                               maximal_mentions,
                                               normalize_gazetteer)


def oracle_increment(pages: DataFrame, entities, predicates,
                     case_sensitive: bool = False, extractor=None
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """pages -> (extract(url, text), mentions(url, start, end, label,
    surface), triples) through the relational chain. ``entities`` are raw
    ``(name, label)`` pairs, normalized here."""
    gaz = normalize_gazetteer(entities, case_sensitive=case_sensitive)
    ext = extract_stage(pages, extractor=extractor)
    mentions = annotate_mentions(ext, gaz, id_col="url",
                                 case_sensitive=case_sensitive)
    triples = pattern_triples(maximal_mentions(mentions, id_col="url"), ext,
                              tuple(predicates), id_col="url",
                              lower_text=not case_sensitive)
    return ext, mentions, triples


def build_oracle_pipeline(spark, base_dir: str, pages_path: str, gazetteer,
                          predicates, extractor=None) -> Pipeline:
    """``build_kg_pipeline`` with its four doc-local stages (extract,
    mentions, linked, triples) swapped for the relational chain. Stage
    names and layouts are production's, and so are the ``aliases``,
    ``nodes`` and ``edges`` stages, so a difference anywhere comes from
    the doc-local stages. The extract table lacks the fused ``spans``
    column, the mentions table the fused ``maximal``/``nxt`` columns."""
    gaz = normalize_gazetteer(gazetteer, case_sensitive=False)
    predicates = tuple(predicates)

    def s_extract(spark, ctx):
        return extract_stage(spark.read.parquet(pages_path),
                             extractor=extractor)

    def s_mentions(spark, ctx):
        return annotate_mentions(ctx["pipeline"].table("extract"), gaz,
                                 id_col="url")

    def s_linked(spark, ctx):
        p = ctx["pipeline"]
        return link_mentions(p.table("mentions"), p.table("extract"),
                             alias_table_from_gazetteer(spark, gaz),
                             id_col="url")

    def s_triples(spark, ctx):
        p = ctx["pipeline"]
        return pattern_triples(
            maximal_mentions(p.table("mentions"), id_col="url"),
            p.table("extract"), predicates, id_col="url")

    oracle = {"extract": s_extract, "mentions": s_mentions,
              "linked": s_linked, "triples": s_triples}
    pipe = build_kg_pipeline(spark, base_dir, pages_path, gazetteer,
                             predicates, extractor=extractor)
    for stage in pipe.stages:
        stage.fn = oracle.get(stage.name, stage.fn)
    return pipe
