"""Resumable KG-construction pipeline driver (north rule).

Each stage writes its output table + per-partition lineage/metrics rows;
a rerun skips stages whose committed output already exists, so the job is
resumable mid-pipeline after a failure.

Storage: unpartitioned parquet directories with Spark's atomic
``_SUCCESS`` commit marker (swap for Iceberg ``writeTo(...).createOrReplace()``
+ snapshot-existence checks on a cluster with an Iceberg catalog — the
driver logic is identical; no Iceberg runtime is bundled). The
standard build commits ``extract``, ``triples``, ``linked_stats``,
``aliases``, ``nodes`` and ``edges``; each has the column order of its
``SnapshotKg`` counterpart (``triples`` as ``triples/snap=K``,
``linked_stats`` as ``linked_stats/vK``, ``edges`` as ``edges/vK``), so
the batch build and the incremental store commit one table shape. Flat
mentions are not committed: a reader explodes them from ``extract`` with
``kg.extract.mentions_from_spans``.

Metrics rows: (stage, partition_id, rows_out, wall_ms, run_id) appended
under ``<base>/_metrics``, one file per stage run written under a hidden
name and renamed into place — per-partition lineage for skew forensics
and the audit trail the north rule requires.

The full pipeline::

    pages --extract+annotate+link+triples--> extract
          --explode--> triples
    extract --explode linked spans, count--> linked_stats
    linked_stats --canonicalize surfaces--> aliases
    linked_stats + aliases --> nodes;  triples + aliases --> edges
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

__all__ = ["Stage", "Pipeline", "build_kg_pipeline", "merge_counts",
           "nodes_from_counts", "edges_from_counts"]


@dataclass
class Stage:
    """One pipeline stage: ``fn(spark, ctx)`` builds the stage's output,
    committed under ``name``."""

    name: str
    fn: Callable[[SparkSession, dict], DataFrame]


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


def _read_hidden_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read a ``_``-prefixed parquet directory through its listed part
    files: Spark skips such a directory as hidden when it is read by its
    own path (and logs a warning for it). Hidden files in it are left
    out, like the temp file of a write that did not finish."""
    fs, p = _hadoop_path(spark, path)
    names = [s.getPath().getName() for s in fs.listStatus(p) if s.isFile()]
    return spark.read.parquet(*[f"{path}/{n}" for n in names
                                if n.endswith(".parquet")
                                and n[0] not in "._"])


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
      written with ``writeTo(...).createOrReplace()`` and resumability
      checks ``tableExists`` (no Iceberg runtime is bundled; the path is
      unit-tested via writer-selection tests, runtime-gated)."""

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
        # job and matches an inferred read
        schema = self._schemas.get(stage_name)
        reader = (self.spark.read if schema is None
                  else self.spark.read.schema(schema))
        return reader.parquet(self.path(stage_name))

    def _stage_exists(self, stage: Stage) -> bool:
        out = self.path(stage.name)
        if self.catalog:
            return self.spark.catalog.tableExists(out)
        return _exists(self.spark, out)

    def _write_stage(self, df: DataFrame, stage: Stage, out: str) -> None:
        """Writer selection: Iceberg v2 ``writeTo`` when a catalog is
        configured, parquet directory otherwise. An Iceberg
        ``createOrReplace`` is a single atomic snapshot commit — the
        catalog-mode counterpart of the parquet ``_SUCCESS`` marker. An
        empty output stays readable: an unpartitioned write's first task
        lands a footer even with no rows."""
        if self.catalog:
            df.writeTo(out).createOrReplace()
            return
        df.write.mode("overwrite").parquet(out)
        self._schemas[stage.name] = df.schema

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
        # a crash mid-write leaves only a hidden temp file, which every
        # reader of _metrics skips; the rename publishes a whole file
        name = f"metrics-{stage}-{self.run_id}.parquet"
        tmp = os.path.join(mdir, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(mdir, name))

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
        return _read_hidden_dir(self.spark, f"{self.base}/_metrics")


def merge_counts(plus: DataFrame, keys, old: DataFrame | None = None,
                 minus: DataFrame | None = None) -> DataFrame:
    """old + counts(plus) - counts(minus) on the aggregate grain ``keys``,
    as ONE aggregation (one exchange): every ``plus`` row counts +1,
    every ``minus`` row -1, and a single groupBy sums them with the
    ``old`` counts ``(*keys, n)``. Rows that reach n == 0 disappear (a
    surface whose last mention was replaced must not survive into the
    alias set). n < 0 is impossible when the subtraction reads the same
    rows the addition once counted. With ``plus`` alone it is the plain
    count the batch build commits."""
    rows = plus.select(*keys, F.lit(1).cast("long").alias("n"))
    if old is not None:
        rows = rows.unionByName(old)
    if minus is not None:
        rows = rows.unionByName(
            minus.select(*keys, F.lit(-1).cast("long").alias("n")))
    return (rows.groupBy(*keys).agg(F.sum("n").alias("n"))
            .where(F.col("n") > 0))


def nodes_from_counts(surface_counts: DataFrame,
                      amap: DataFrame) -> DataFrame:
    """KG nodes from ``(surface, label, n)`` mention counts and the alias
    map ``(alias, canonical_id)``: one node per alias-cluster canonical
    (NOT the link-stage candidate id) with its min label, sorted alias
    list and total mention count. The counts are gazetteer-bounded, so
    the join and the canonical regroup run on hundreds of rows. Both the
    batch build and ``SnapshotKg`` pass their committed ``linked_stats``
    (``merge_counts`` over the linked spans)."""
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
    """The standard 6-stage KG build over a pages table. ``catalog``: an
    Iceberg namespace to write catalog tables into instead of parquet
    directories (see ``Pipeline``).

    Extract, annotate, gazetteer linking AND triple extraction run as ONE
    Arrow-batched Python pass (``extract_annotate_stage``): the extract
    table carries a ``spans`` array column whose spans already hold their
    ``maximal`` flag and link winner, and a ``triples`` array column of
    the document's triples over its maximal spans. The triples stage
    reduces to a JVM-only explode (``triples_from_spans``). Neither the
    flat mentions nor the linked spans are committed: a reader explodes
    them from the extract table (``mentions_from_spans``,
    ``linked_from_spans``). The ``linked_stats`` stage is the one stage
    that reads the linked spans: it counts them per ``(surface, label)``
    with ``merge_counts``, a scan that reads only ``extract``'s ``url``
    and ``spans`` columns, into a gazetteer-bounded table. So the text
    corpus crosses the JVM<->Python boundary once and no stage joins
    documents or mentions.
    The relational composition of the same tables (separate annotate,
    ``link_mentions``, ``maximal_mentions``, ``pattern_triples``) is the
    test oracle in ``tests/kg_oracle.py``.

    The ``aliases`` stage clusters the ``linked_stats`` surfaces on the
    driver (``canonicalize_aliases``) and commits a local relation;
    ``nodes`` is ``nodes_from_counts(linked_stats, aliases)``. Snapshot 0
    of ``SnapshotKg`` commits the same ``linked_stats`` with the same
    function and derives its aliases and nodes the same way.

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
    from quickner_spark.kg.extract import extract_annotate_stage
    from quickner_spark.kg.link import linked_from_spans
    from quickner_spark.kg.triples import triples_from_spans
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
                                      extractor=extractor,
                                      predicates=predicates)

    def s_triples(spark, ctx):
        # the fused pass found each document's triples over its maximal
        # spans: a narrow explode
        return triples_from_spans(ctx["pipeline"].table("extract"))

    def s_linked_stats(spark, ctx):
        # the one read of the linked spans; gazetteer-bounded output
        linked = linked_from_spans(ctx["pipeline"].table("extract"))
        return merge_counts(linked, ["surface", "label"])

    def s_aliases(spark, ctx):
        return canonicalize_aliases(ctx["pipeline"].table("linked_stats")
                                    .select(F.col("surface").alias("alias")))

    def s_nodes(spark, ctx):
        p = ctx["pipeline"]
        return nodes_from_counts(p.table("linked_stats"), p.table("aliases"))

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

    # unpartitioned tables in the column order of SnapshotKg's
    stages = [
        Stage("extract", s_extract),
        Stage("triples", s_triples),
        Stage("linked_stats", s_linked_stats),
        Stage("aliases", s_aliases),
        Stage("nodes", s_nodes),
        Stage("edges", s_edges),
    ]
    if link_graph:
        stages.append(Stage("host_edges", s_host_edges))
        if host_rank:
            stages.append(Stage("host_rank", s_host_rank))
    return Pipeline(spark, base_dir, stages, catalog=catalog)
