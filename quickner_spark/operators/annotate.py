"""Distributed gazetteer annotation — the J1/M1-M3 stage as a Spark operator.

Reference shape (quickner-core/src/quickner.rs:253-289): build one
Aho-Corasick automaton over the gazetteer, share it via ``Arc`` across a
rayon pool, map over documents. The Spark-native shape is the same dataflow
at cluster scale:

  gazetteer (small)  --collect-->  driver  --broadcast-->  every executor
  documents (huge)   --mapInPandas(annotate batch)-->  mentions

* The gazetteer is broadcast ONCE (one deserialization per executor, not per
  task); the compiled automaton is memoized per Python worker via
  ``matcher.get_matcher``'s lru_cache, so the build cost is amortized across
  all Arrow batches of all tasks — the ``Arc`` equivalent.
* No shuffle: annotation is a narrow map over document partitions. Filters
  applied *before* this operator are plain Column predicates and get pushed
  into the scan by Catalyst (only ``id, text`` columns are read).
* Per-batch work happens inside one Python call over an Arrow batch
  (mapInPandas); there is no per-row Python dispatch at the Spark level.

Scale notes (100 TB): the only driver-side data is the gazetteer (must fit
in executor memory — 1M aliases ≈ tens of MB, fine). Document partitions
stream through; output is exploded mentions, typically ~10x smaller than the
text itself. Partition sizing is inherited from the scan
(``spark.sql.files.maxPartitionBytes``).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType)

from quickner_spark.matcher import get_matcher

__all__ = [
    "normalize_gazetteer",
    "annotate_mentions",
    "annotate_documents",
    "maximal_mentions",
    "SPAN_TYPE",
]

# Doc-level span element (kept only at serialization boundaries; mentions
# are the normalized exploded form — SURVEY.md §1.4).
SPAN_TYPE = ArrayType(
    StructType([
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("label", StringType(), False),
    ])
)


def normalize_gazetteer(
    entities: Iterable[tuple[str, str]] | DataFrame,
    case_sensitive: bool = False,
    excludes: Iterable[str] | DataFrame | None = None,
) -> list[tuple[str, str]]:
    """Driver-side gazetteer prep — port of process() steps c/F5
    (quickner.rs:429-456): excludes anti-join (exact, case-sensitive,
    applied BEFORE lowering), then lowercase names when case-insensitive,
    then set-dedup. Returns a deterministic sorted list (the reference's
    HashSet iteration order is nondeterministic; sorting is strictly more
    deterministic, span sets identical)."""
    if isinstance(entities, DataFrame):
        rows = [(r[0], r[1]) for r in entities.select("name", "label").collect()]
    else:
        rows = [(n, l) for n, l in entities]
    if excludes is not None:
        if isinstance(excludes, DataFrame):
            excl = {r[0] for r in excludes.collect()}
        else:
            excl = set(excludes)
        rows = [(n, l) for n, l in rows if n not in excl]
    if not case_sensitive:
        rows = [(n.lower(), l) for n, l in rows]
    return sorted(set(rows))


def _mentions_schema(df: DataFrame, id_col: str,
                     passthrough_cols: tuple[str, ...] = ()) -> StructType:
    id_field = df.schema[id_col]
    fields = [
        StructField(id_col, id_field.dataType, True),
        StructField("start", LongType(), False),
        StructField("end", LongType(), False),
        StructField("label", StringType(), False),
        StructField("surface", StringType(), False),
    ]
    for c in passthrough_cols:
        fields.append(StructField(c, df.schema[c].dataType, True))
    return StructType(fields)


def annotate_mentions(
    df: DataFrame,
    entities: Sequence[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    case_sensitive: bool = False,
    mode: str = "reference",
    passthrough_cols: tuple[str, ...] = (),
) -> DataFrame:
    """documents -> mentions(doc_id, start, end, label, surface, *passthrough).

    ``case_sensitive=False`` lowercases the text before matching (the
    reference mutates stored text, quickner.rs:267-270; surfaces here are
    sliced from the lowered text, matching the reference's entity index
    built on stored text, quickner.rs:730-742).

    ``entities`` must already be normalized (``normalize_gazetteer``).
    ``passthrough_cols`` are copied onto every mention row (e.g. an event
    timestamp for streaming windowed aggregation — avoids a stream-stream
    join downstream).
    """
    ents = tuple(entities)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(ents)
    schema = _mentions_schema(df, id_col, tuple(passthrough_cols))
    lower = not case_sensitive
    clean = mode == "clean"
    pcols = tuple(passthrough_cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = get_matcher(bc.value)
        find = matcher.find_spans_clean if clean else matcher.find_spans
        for pdf in batches:
            ids, starts, ends, labels, surfaces = [], [], [], [], []
            extras: dict[str, list] = {c: [] for c in pcols}
            pvals = {c: pdf[c].values for c in pcols}
            for i, (doc_id, text) in enumerate(
                    zip(pdf[id_col].values, pdf[text_col].values)):
                if text is None:
                    continue
                if lower:
                    text = text.lower()
                for s, e, lab in find(text):
                    ids.append(doc_id)
                    starts.append(s)
                    ends.append(e)
                    labels.append(lab)
                    surfaces.append(text[s:e])
                    for c in pcols:
                        extras[c].append(pvals[c][i])
            data = {
                id_col: pd.Series(ids, dtype=pdf[id_col].dtype if ids else object),
                "start": pd.Series(starts, dtype="int64"),
                "end": pd.Series(ends, dtype="int64"),
                "label": pd.Series(labels, dtype=object),
                "surface": pd.Series(surfaces, dtype=object),
            }
            for c in pcols:
                data[c] = pd.Series(extras[c], dtype=pdf[c].dtype if ids else object)
            yield pd.DataFrame(data)

    return df.select(id_col, text_col, *pcols).mapInPandas(gen, schema)


def maximal_mentions(mentions: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop mentions strictly contained in a longer mention of the same
    document (standard longest-match NER resolution; used before triple
    extraction so overlapping gazetteer names — 'acme systems' inside
    'acme systems works' — don't yield truncated subjects/objects).

    Anti-join keyed on the doc id (equi key) with a containment range
    condition; mentions-per-doc is small so the per-key fanout is bounded.

    Pinned to a sort-merge join: both sides are the corpus-sized mention
    table, but compressed-parquet stats under-estimate it (25 MB on disk
    -> 5.7M-row hashed relation at 80k docs) and Spark would otherwise
    broadcast one side — a serial driver collect+hash that cannot scale
    with cores and OOMs at corpus scale. SMJ on the doc key is the 100 TB
    plan; forcing it locally keeps the stage's scaling honest.
    """
    a = mentions.alias("a")
    b = mentions.hint("merge").alias("b")
    cond = (
        (F.col(f"a.{id_col}") == F.col(f"b.{id_col}"))
        & (F.col("b.start") <= F.col("a.start"))
        & (F.col("a.end") <= F.col("b.end"))
        & ((F.col("b.start") != F.col("a.start"))
           | (F.col("b.end") != F.col("a.end")))
    )
    return a.join(b, cond, "left_anti")


def annotate_documents(
    df: DataFrame,
    entities: Sequence[tuple[str, str]],
    text_col: str = "text",
    case_sensitive: bool = False,
    mode: str = "reference",
) -> DataFrame:
    """documents -> documents + ``label`` span-array column (doc-level shape
    for the serialization sinks, K1-K7). Also REPLACES ``text_col`` with the
    lowercased text when case-insensitive — reference parity
    (quickner.rs:267-270: stored text is mutated)."""
    ents = tuple(entities)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(ents)
    out_fields = [f for f in df.schema.fields]
    schema = StructType(out_fields + [StructField("label", SPAN_TYPE, False)])
    lower = not case_sensitive
    clean = mode == "clean"
    cols = [f.name for f in df.schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        matcher = get_matcher(bc.value)
        find = matcher.find_spans_clean if clean else matcher.find_spans
        for pdf in batches:
            texts = []
            spans = []
            for text in pdf[text_col].values:
                if text is None:
                    texts.append(text)
                    spans.append([])
                    continue
                if lower:
                    text = text.lower()
                texts.append(text)
                spans.append([{"start": s, "end": e, "label": lab}
                              for s, e, lab in find(text)])
            out = pdf[cols].copy()
            out[text_col] = texts
            out["label"] = spans
            yield out

    return df.mapInPandas(gen, schema)
