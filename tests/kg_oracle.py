"""The relational KG composition: the test oracle for the fused KG build.

Production builds the doc-local KG tables from one Arrow-batched pass
(``kg.extract.extract_annotate_stage``: extract, annotate, maximal flags,
the in-row link and the in-row triples) plus JVM-only explodes.
This is the composition of public operators it replaced — a separate
extract pass, ``annotate_mentions``, ``link_mentions`` over
``alias_table_from_gazetteer``, the ``maximal_mentions`` anti-join and the
text-joining ``pattern_triples`` — kept so the differential tests can
compare the two on the same pages.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from quickner_spark.kg.extract import extract_text
from quickner_spark.kg.link import alias_table_from_gazetteer, link_mentions
from quickner_spark.kg.pipeline import Pipeline, Stage, build_kg_pipeline
from quickner_spark.kg.triples import pattern_triples
from quickner_spark.operators.annotate import (annotate_mentions,
                                               maximal_mentions,
                                               normalize_gazetteer)


def extract_stage(pages: DataFrame, extractor=None) -> DataFrame:
    """pages(url, html, ...) -> (url, text): the extract pass on its own,
    a narrow Arrow-batched map over the (url, html) columns. ``extractor``
    is any deterministic ``bytes -> str | None`` (default
    ``kg.extract.extract_text``; ``kg.webextract.extract_text_web`` for
    real-web pages), the same one the fused pass takes."""
    extractor = extractor or extract_text

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "text": [extractor(h) for h in pdf["html"].values]})

    return pages.select("url", "html").mapInPandas(
        gen, "url string, text string")


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


def attach_nxt(mentions: DataFrame, documents: DataFrame, predicates,
               lower_text: bool = True) -> DataFrame:
    """url-keyed ``mentions`` plus ``nxt``, the post-span text window
    ``kg.triples.window_triples`` reads, sliced from the documents' joined
    ``text`` as q35 does: the longest predicate plus its two framing
    spaces."""
    text = F.lower("text") if lower_text else F.col("text")
    width = max(map(len, predicates), default=0) + 2
    return (mentions
            .join(documents.select("url", text.alias("__t")), "url")
            .withColumn("nxt", F.col("__t").substr(F.col("end") + 1,
                                                   F.lit(width)))
            .drop("__t"))


def build_oracle_pipeline(spark, base_dir: str, pages_path: str, gazetteer,
                          predicates, extractor=None) -> Pipeline:
    """``build_kg_pipeline`` with its two doc-local stages (extract,
    triples) swapped for the relational chain, plus committed relational
    ``mentions`` and ``linked`` stages after ``extract``. Stage names and
    layouts are production's, and so are the ``aliases``, ``nodes`` and
    ``edges`` stages. The extract table lacks the fused ``spans`` and
    ``triples`` columns, and the mentions table the fused ``maximal``
    column; so the ``mentions`` and ``linked`` stages stand in for
    production's explodes of the extract, ``linked_stats`` is a plain
    ``(surface, label)`` count over the ``linked`` stage here, and a
    difference anywhere comes from the doc-local stages."""
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

    def s_linked_stats(spark, ctx):
        return (ctx["pipeline"].table("linked").groupBy("surface", "label")
                .agg(F.count("*").alias("n")))

    oracle = {"extract": s_extract, "triples": s_triples,
              "linked_stats": s_linked_stats}
    pipe = build_kg_pipeline(spark, base_dir, pages_path, gazetteer,
                             predicates, extractor=extractor)
    for stage in pipe.stages:
        stage.fn = oracle.get(stage.name, stage.fn)
    at = [s.name for s in pipe.stages].index("extract") + 1
    pipe.stages[at:at] = [Stage("mentions", s_mentions),
                          Stage("linked", s_linked)]
    return pipe
