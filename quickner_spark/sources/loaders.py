"""Source loaders S1-S5 + constructor ingest S7.

Citations are into /root/reference/ for semantic parity:
* S1 texts CSV (col ``text``): quickner-core/src/quickner.rs:531-564
* S2 entities CSV (cols ``name,label``): quickner.rs:493-529
* S3 excludes CSV (first column): quickner.rs:566-583
* S4 JSONL documents + gazetteer inference: quickner.rs:585-635
* S5 spaCy JSON + gazetteer inference: quickner.rs:637-692

Document ids: the reference hashes text with Rust's DefaultHasher
(utils.rs:95-102), which is not contractually stable; we use
``xxhash64(text)`` rendered as lowercase hex (same 16-hex-char shape).
Reference tests never assert id values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from quickner_spark.filters import Filters

__all__ = [
    "load_texts_csv", "load_entities_csv", "load_excludes_csv",
    "from_jsonl", "from_spacy", "documents_from_rows", "doc_id_col",
    "infer_gazetteer",
]

def doc_id_col(text_col="text"):
    """Deterministic document id from text: lowercase hex of xxhash64.
    (Divergence from reference DefaultHasher — documented, never asserted.)"""
    return F.lower(F.hex(F.xxhash64(text_col)))


def load_texts_csv(spark: SparkSession, path: str,
                   filters: Filters | None = None,
                   apply_filter: bool = False) -> DataFrame:
    """S1 — corpus CSV with column ``text``; optional validity filter;
    dedup by exact text (HashSet<Text> semantics, quickner.rs:537-563)."""
    df = (spark.read.option("header", True)
          .schema("text string").csv(path))
    if apply_filter and filters is not None:
        df = df.where(filters.spark_predicate(F.col("text")))
    return (df.dropDuplicates(["text"])
            .withColumn("id", doc_id_col("text"))
            .select("id", "text"))


def load_entities_csv(spark: SparkSession, path: str,
                      filters: Filters | None = None,
                      apply_filter: bool = False) -> DataFrame:
    """S2 — gazetteer CSV ``name,label``; filter -> lowercase (if
    case-insensitive) -> dedup (quickner.rs:493-529: lowering happens
    inside the filter branch, i.e. only when apply_filter is true —
    replicate that quirk)."""
    df = (spark.read.option("header", True)
          .schema("name string, label string").csv(path))
    if apply_filter and filters is not None:
        df = df.where(filters.spark_predicate(F.col("name")))
        if not filters.case_sensitive:
            df = df.withColumn("name", F.lower("name"))
    return df.dropDuplicates(["name", "label"])


def load_excludes_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3 — stoplist: first column of a headered CSV (quickner.rs:566-583
    reads ``records()``, i.e. skips the header row)."""
    df = spark.read.option("header", True).csv(path)
    first = df.columns[0]
    return df.select(F.col(first).alias("name")).dropDuplicates()


def infer_gazetteer(documents: DataFrame) -> DataFrame:
    """Gazetteer inference shared by S4/S5 (quickner.rs:609-621): surface
    form of every span, lowercased, set-deduped. Spans are char offsets, so
    ``substring`` (char-based on strings) needs no byte conversion —
    the reference's char_to_byte dance (utils.rs:113-125) is a no-op here."""
    spans = documents.select(
        "text", F.explode("label").alias("span"))
    return (spans.select(
        F.lower(F.expr("substring(text, cast(span.start as int) + 1, "
                       "cast(span.end as int) - cast(span.start as int))"))
        .alias("name"),
        F.col("span.label").alias("label"))
        .dropDuplicates())


def from_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """S4 — reload annotated JSONL ``{"id","text","label":[[s,e,l],...]}``
    and infer the gazetteer from spans. Returns (documents, entities)."""
    raw_schema = StructType([
        StructField("id", StringType(), True),
        StructField("text", StringType(), True),
        StructField("label", ArrayType(ArrayType(StringType())), True),
    ])
    raw = spark.read.schema(raw_schema).json(path)
    docs = raw.select(
        "id", "text",
        F.transform("label", lambda t: F.struct(
            t[0].cast("int").alias("start"),
            t[1].cast("int").alias("end"),
            t[2].alias("label"))).alias("label"))
    return docs, infer_gazetteer(docs)


def from_spacy(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """S5 — reload spaCy-format JSON ``[[text, {"entity": [[s,e,l],...]}]]``.

    The format is one JSON array of heterogeneous [string, object] pairs —
    not line-delimited, so Spark's JSON source can't type it; the (small)
    file is parsed at the driver and parallelized (the reference also
    slurps the whole file, quickner.rs:646-658)."""
    import json

    rows = spark.read.option("multiLine", True).text(path)
    payload = "".join(r["value"] for r in rows.collect())
    parsed = json.loads(payload)
    data = [(t, [(int(s), int(e), l) for s, e, l in ent["entity"]])
            for t, ent in parsed]
    docs = spark.createDataFrame(
        data, "text string, label array<struct<start:int,end:int,label:string>>"
    ).withColumn("id", doc_id_col("text")).select("id", "text", "label")
    return docs, infer_gazetteer(docs)


def documents_from_rows(spark: SparkSession, texts) -> DataFrame:
    """S7 — constructor ingest from Python lists (pytest harness). Rows
    may be raw strings or :class:`quickner_spark.api.Text` envelopes
    (models.rs:13-16) — anything with a ``.text`` attribute unwraps."""
    vals = [getattr(t, "text", t) for t in texts]
    return (spark.createDataFrame([(t,) for t in vals], "text string")
            .withColumn("id", doc_id_col("text"))
            .select("id", "text"))
