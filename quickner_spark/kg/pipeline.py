"""Resumable KG-construction pipeline driver (north rule).

Each stage writes its output table + per-partition lineage/metrics rows;
a rerun skips stages whose committed output already exists, so the job is
resumable mid-pipeline after a failure.

Storage: parquet directories with Spark's atomic ``_SUCCESS`` commit marker
(swap for Iceberg ``writeTo(...).createOrReplace()`` + snapshot-existence
checks on a cluster with an Iceberg catalog — the driver logic is
identical; this container ships no Iceberg runtime).

Metrics rows: (stage, partition_id, rows_out, wall_ms, run_id) appended
under ``<base>/_metrics`` — per-partition lineage for skew forensics and
the audit trail the north rule requires.

The full pipeline::

    pages --extract+annotate+link--> extract --explode--> mentions / linked
          --triples--> triples --canonicalize--> alias_map
          --materialize--> nodes / edges
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

__all__ = ["Stage", "Pipeline", "build_kg_pipeline", "nodes_from_counts",
           "edges_from_counts"]


@dataclass
class Stage:
    """One pipeline stage: ``fn(spark, ctx)`` builds the stage's output,
    committed under ``name``; ``partition_by`` columns become the
    output's partition layout."""

    name: str
    fn: Callable[[SparkSession, dict], DataFrame]
    partition_by: tuple[str, ...] = ()


def _exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    return p.getFileSystem(conf).exists(p)


def _hadoop_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _write_text(spark: SparkSession, path: str, content: str) -> None:
    """Small text file through the Hadoop FS API — works for any scheme
    (file://, hdfs://, s3a://), same as the data writes themselves."""
    fs, p = _hadoop_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, path: str) -> str | None:
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


class Pipeline:
    """Two storage modes, same driver logic:

    * ``catalog=None`` (default): stage outputs are parquet directories
      under ``base_dir`` with ``_SUCCESS`` commit markers.
    * ``catalog="iceberg.kg"``: outputs become Iceberg catalog tables
      written with ``writeTo(...).partitionedBy(...).createOrReplace()``
      and resumability checks ``tableExists`` (this container ships no
      Iceberg runtime; the path is unit-tested via writer-selection
      tests, runtime-gated)."""

    def __init__(self, spark: SparkSession, base_dir: str, stages: list[Stage],
                 catalog: str | None = None):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.stages = stages
        self.catalog = catalog
        self.run_id = uuid.uuid4().hex[:12]
        # schemas of the stages this object wrote; a stage skipped on
        # resume is absent and its reads infer
        self._schemas: dict[str, StructType] = {}

    def path(self, stage_name: str) -> str:
        if self.catalog:
            return f"{self.catalog}.{stage_name}"
        return f"{self.base}/{stage_name}"

    def table(self, stage_name: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(self.path(stage_name))
        # under the written schema, the read launches no schema-inference
        # job and matches an inferred read, partition columns last
        schema = self._schemas.get(stage_name)
        reader = (self.spark.read if schema is None
                  else self.spark.read.schema(schema))
        return reader.parquet(self.path(stage_name))

    def _stage_exists(self, stage: Stage) -> bool:
        out = self.path(stage.name)
        if self.catalog:
            return self.spark.catalog.tableExists(out)
        return _exists(self.spark, out)

    def _has_data_files(self, path: str) -> bool:
        fs, p = _hadoop_path(self.spark, path)
        it = fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def _ensure_readable(self, df: DataFrame, data_path: str) -> None:
        """A dynamic-partitioned write of an EMPTY stage output creates no
        data files at all — the directory commits (_SUCCESS) but cannot be
        read back (no footer to infer a schema from). Land one footer-only
        unpartitioned file recording the schema; a root-level file in a
        partitioned layout is harmless when real partitions appear later
        (they never do on a committed stage — outputs are immutable)."""
        if not self._has_data_files(data_path):
            (self.spark.createDataFrame([], df.schema).repartition(1)
             .write.mode("append").parquet(data_path))

    def _write_stage(self, df: DataFrame, stage: Stage, out: str) -> None:
        """Writer selection: Iceberg v2 ``writeTo`` when a catalog is
        configured, parquet directory otherwise. An Iceberg
        ``createOrReplace`` is a single atomic snapshot commit — the
        catalog-mode counterpart of the parquet ``_SUCCESS`` marker."""
        if self.catalog:
            w = df.writeTo(out)
            if stage.partition_by:
                w = w.partitionedBy(*[F.col(c) for c in stage.partition_by])
            w.createOrReplace()
            return
        writer = df.write.mode("overwrite")
        if stage.partition_by:
            writer = writer.partitionBy(*stage.partition_by)
        writer.parquet(out)
        self._schemas[stage.name] = df.schema
        if stage.partition_by:
            self._ensure_readable(df, out)

    def _write_metrics(self, stage: str, out_path: str, wall_ms: int):
        """Per-partition lineage rows from the written files' parquet
        FOOTERS — metadata-only, no Spark job, and crucially no second
        pass over the table (re-scanning every stage output to count rows
        is a full extra read of the corpus at 100 TB). Non-local
        filesystems (hdfs://, s3a://) fall back to a metadata-count read
        through Spark."""
        import glob
        import os
        from urllib.parse import urlparse

        if self.catalog:
            per_part = (self.spark.read.table(out_path)
                        .groupBy(F.spark_partition_id().alias("partition_id"))
                        .agg(F.count("*").alias("rows_out"))
                        .withColumn("stage", F.lit(stage))
                        .withColumn("wall_ms", F.lit(wall_ms))
                        .withColumn("run_id", F.lit(self.run_id)))
            tbl = f"{self.catalog}.metrics"
            w = per_part.coalesce(1).writeTo(tbl)
            if self.spark.catalog.tableExists(tbl):
                w.append()
            else:
                w.create()
            return
        if "://" in self.base and not self.base.startswith("file:"):
            per_part = (self.spark.read.parquet(out_path)
                        .groupBy(F.spark_partition_id().alias("partition_id"))
                        .agg(F.count("*").alias("rows_out"))
                        .withColumn("stage", F.lit(stage))
                        .withColumn("wall_ms", F.lit(wall_ms))
                        .withColumn("run_id", F.lit(self.run_id)))
            (per_part.coalesce(1).write.mode("append")
             .parquet(f"{self.base}/_metrics"))
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        # a file:// base reaches this local branch — strip the scheme, or
        # glob matches nothing and a zero-row metrics file is written
        def _local(p: str) -> str:
            return urlparse(p).path if p.startswith("file:") else p

        out_path = _local(out_path)
        files = sorted(glob.glob(os.path.join(out_path, "**", "*.parquet"),
                                 recursive=True))
        # footer reads are tiny metadata fetches; at corpus scale a stage
        # has thousands of files and a serial loop becomes driver floor —
        # read them on a thread pool (I/O-bound, GIL-released in arrow)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=16) as pool:
            rows = list(pool.map(lambda f: pq.read_metadata(f).num_rows,
                                 files))
        table = pa.table({
            "partition_id": pa.array(range(len(files)), pa.int32()),
            "rows_out": pa.array(rows, pa.int64()),
            "stage": pa.array([stage] * len(files), pa.string()),
            "wall_ms": pa.array([wall_ms] * len(files), pa.int32()),
            "run_id": pa.array([self.run_id] * len(files), pa.string()),
        })
        mdir = os.path.join(_local(self.base), "_metrics")
        os.makedirs(mdir, exist_ok=True)
        pq.write_table(table, os.path.join(
            mdir, f"metrics-{stage}-{self.run_id}.parquet"))

    def run(self, force: bool = False, ctx: dict | None = None) -> dict[str, str]:
        """Execute all stages; returns {stage: 'ran'|'skipped'}. ``ctx`` is
        threaded through stage functions (gazetteer, params, ...) plus
        ``pipeline`` for reading upstream tables."""
        ctx = dict(ctx or {})
        ctx["pipeline"] = self
        status: dict[str, str] = {}
        for stage in self.stages:
            out = self.path(stage.name)
            if not force and self._stage_exists(stage):
                status[stage.name] = "skipped"
                continue
            t0 = time.time()
            df = stage.fn(self.spark, ctx)
            self._write_stage(df, stage, out)
            wall_ms = int((time.time() - t0) * 1000)
            self._write_metrics(stage.name, out, wall_ms)
            status[stage.name] = "ran"
        return status

    def metrics(self) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.metrics")
        return self.spark.read.parquet(f"{self.base}/_metrics")


def nodes_from_counts(surface_counts: DataFrame,
                      amap: DataFrame) -> DataFrame:
    """KG nodes from ``(surface, label, n)`` mention counts and the alias
    map ``(alias, canonical_id)``: one node per alias-cluster canonical
    (NOT the link-stage candidate id) with its min label, sorted alias
    list and total mention count. The counts are gazetteer-bounded, so
    the join and the canonical regroup run on hundreds of rows — the
    batch pipeline passes a map-side pre-aggregate of ``linked`` (7x over
    join-then-aggregate at 114.7M linked rows), ``SnapshotKg`` its merged
    cumulative stats."""
    return (surface_counts
            .join(amap, surface_counts["surface"] == amap["alias"])
            .groupBy("canonical_id")
            .agg(F.min("label").alias("label"),
                 F.sort_array(F.collect_set("surface")).alias("aliases"),
                 F.sum("n").alias("n_mentions")))


def edges_from_counts(triple_counts: DataFrame,
                      amap: DataFrame) -> DataFrame:
    """KG edges from ``(subj, pred, obj, n)`` triple counts: subject and
    object resolve to canonicals through broadcasts of the tiny alias map,
    then re-aggregate to ``(src, dst, pred, weight)``."""
    subj_map = amap.selectExpr("alias as subj", "canonical_id as src")
    obj_map = amap.selectExpr("alias as obj", "canonical_id as dst")
    return (triple_counts.join(F.broadcast(subj_map), "subj")
            .join(F.broadcast(obj_map), "obj")
            .groupBy("src", "dst", "pred")
            .agg(F.sum("n").alias("weight")))


def build_kg_pipeline(spark: SparkSession, base_dir: str,
                      pages_path: str, gazetteer: list[tuple[str, str]],
                      predicates: tuple[str, ...],
                      catalog: str | None = None,
                      extractor=None,
                      pages_format: str = "parquet",
                      link_graph: bool = False,
                      host_rank: bool = False,
                      host_rank_iters: int = 5) -> Pipeline:
    """The standard 7-stage KG build over a pages table. ``catalog``: an
    Iceberg namespace to write catalog tables into instead of parquet
    directories (see ``Pipeline``).

    Extract, annotate AND gazetteer linking run as ONE Arrow-batched
    Python pass (``extract_annotate_stage``): the extract table carries a
    ``spans`` array column whose spans already hold their ``maximal``
    flag, link winner and post-span ``nxt`` window. The mentions and
    linked stages reduce to JVM-only explodes (``mentions_from_spans``,
    ``linked_from_spans``) and the triples stage tests its predicates on
    the mention rows themselves (``window_triples``), so the text corpus
    crosses the JVM<->Python boundary once and no stage joins documents.
    The relational composition of the same tables (separate annotate,
    ``link_mentions``, ``maximal_mentions``, ``pattern_triples``) is the
    test oracle in ``tests/kg_oracle.py``.

    The ``aliases`` stage clusters the distinct linked surfaces — a
    gazetteer-bounded set — on the driver (``canonicalize_aliases``) and
    commits a local relation.

    ``extractor``: deterministic ``bytes -> str | None`` for the extract
    stage (default ``kg.extract.extract_text``, the synthetic-corpus
    inverse; pass ``kg.webextract.extract_text_web`` for real-web
    boilerplate-aware extraction — same contract).

    ``pages_format``: ``"parquet"`` (default) or ``"warc"`` — the latter
    reads Common-Crawl-style archives via :func:`sources.warc.read_warc`
    (``pages_path`` then points at a directory of ``*.warc`` /
    ``*.warc.gz`` files); downstream stages are format-agnostic because
    both readers emit the same pages schema.

    ``link_graph=True`` appends a ``host_edges`` stage — the host-level
    hyperlink graph (:mod:`quickner_spark.kg.weblinks`) built from the raw
    pages' anchors, the Common-Crawl webgraph shape. Independent of the
    entity stages; ``operators.graph`` queries (PageRank, k-hop, degrees)
    run on it unchanged.

    ``host_rank=True`` (requires ``link_graph``) appends a ``host_rank``
    stage: anchor-count-weighted PageRank over the materialized
    ``host_edges`` table, ``host_rank_iters`` fixed iterations →
    ``(host, rank)`` — the crawl-prioritization / quality-weighting
    signal a harvest pipeline reads next round. Host-graph-sized input
    (already output-bounded), so the stage costs iterations over a
    SMALL table, never the corpus."""
    from quickner_spark.kg.canonicalize import canonicalize_aliases
    from quickner_spark.kg.extract import (extract_annotate_stage,
                                           mentions_from_spans)
    from quickner_spark.kg.link import linked_from_spans
    from quickner_spark.kg.triples import predicate_window, window_triples
    from quickner_spark.operators.annotate import normalize_gazetteer

    gaz = normalize_gazetteer(gazetteer, case_sensitive=False)

    if pages_format not in ("parquet", "warc"):
        raise ValueError(f"unknown pages_format: {pages_format!r}")
    if host_rank and not link_graph:
        raise ValueError("host_rank=True requires link_graph=True "
                         "(it ranks the host_edges stage's output)")

    def _read_pages(spark):
        if pages_format == "warc":
            from quickner_spark.sources.warc import read_warc
            return read_warc(spark, pages_path, path_glob="*.warc*")
        return spark.read.parquet(pages_path)

    def s_extract(spark, ctx):
        return extract_annotate_stage(_read_pages(spark), gaz,
                                      window=predicate_window(predicates),
                                      extractor=extractor)

    def s_mentions(spark, ctx):
        return mentions_from_spans(ctx["pipeline"].table("extract"))

    def s_linked(spark, ctx):
        # the fused pass linked every span in-row: a narrow explode
        return linked_from_spans(ctx["pipeline"].table("extract"))

    def s_triples(spark, ctx):
        # longest-match resolution first: truncated overlapping mentions
        # ('acme systems' inside 'acme systems works') must not become
        # truncated triple arguments. The fused pass flagged them in-row,
        # so resolution is a scan-level FILTER, and the predicate test
        # runs on each mention's own `nxt` window — the triples stage
        # never joins or seeks the document text.
        m = ctx["pipeline"].table("mentions")
        return window_triples(m.where(F.col("maximal")).drop("maximal"),
                              predicates, id_col="url")

    def s_aliases(spark, ctx):
        # the distinct surfaces are gazetteer-bounded: one aggregate job,
        # then driver-side clustering into a local relation
        p = ctx["pipeline"]
        aliases = (p.table("linked").select(F.col("surface").alias("alias"))
                   .distinct())
        return canonicalize_aliases(aliases)

    def s_nodes(spark, ctx):
        p = ctx["pipeline"]
        counts = (p.table("linked").groupBy("surface", "label")
                  .agg(F.count("*").alias("n")))
        return nodes_from_counts(counts, p.table("aliases"))

    def s_edges(spark, ctx):
        p = ctx["pipeline"]
        counts = (p.table("triples").groupBy("subj", "pred", "obj")
                  .agg(F.count("*").alias("n")))
        return edges_from_counts(counts, p.table("aliases"))

    def s_host_edges(spark, ctx):
        # reads the raw pages (html) — the extract table dropped the
        # markup the anchors live in. Scan + explode + output-bounded
        # aggregate; independent of every other stage.
        from quickner_spark.kg.weblinks import extract_links, host_graph
        return host_graph(extract_links(_read_pages(spark)))

    def s_host_rank(spark, ctx):
        # consumes the materialized host_edges table (never the corpus)
        from quickner_spark.operators.graph import pagerank
        he = ctx["pipeline"].table("host_edges")
        return (pagerank(he, src="src_host", dst="dst_host",
                         weight="n_links", iters=host_rank_iters)
                .select(F.col("node").alias("host"), "rank"))

    # partition layout: mention/triple tables by label/pred (low-cardinality,
    # prunable); with an Iceberg catalog these become
    # writeTo(...).partitionedBy(bucket(N, "url"), "pred").
    stages = [
        Stage("extract", s_extract),
        Stage("mentions", s_mentions, partition_by=("label",)),
        Stage("linked", s_linked),
        Stage("triples", s_triples, partition_by=("pred",)),
        Stage("aliases", s_aliases),
        Stage("nodes", s_nodes),
        Stage("edges", s_edges, partition_by=("pred",)),
    ]
    if link_graph:
        stages.append(Stage("host_edges", s_host_edges))
        if host_rank:
            stages.append(Stage("host_rank", s_host_rank))
    return Pipeline(spark, base_dir, stages, catalog=catalog)
