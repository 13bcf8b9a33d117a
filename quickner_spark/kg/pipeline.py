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

    pages --extract--> texts --annotate--> mentions --link--> linked
          --triples--> triples --canonicalize--> alias_map
          --materialize--> nodes / edges
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["Stage", "Pipeline", "build_kg_pipeline"]

# Marker file persisted next to each bucketed stage's committed data,
# recording the EXACT layout the writer produced (bucket key, N, sort
# columns). Re-registration after a metastore loss reads this record, not
# the in-code Stage definition — data written under an older release's
# sort spec must never be re-declared with today's spec, or the planner
# (with bucketedTableScan.outputOrdering=true) would trust an ordering the
# files do not have and elide required sorts in sort-merge joins.
# Leading underscore: Spark's FileIndex treats the file as hidden, so it
# never interferes with reading the parquet data in the same directory.
_SPEC_FILE = "_bucket_spec.json"


@dataclass
class Stage:
    """``bucket_output``: in bucket mode, whether this stage's output table
    is worth bucketing+bucket-sorting on the pipeline key. Only stages whose
    CONSUMERS join on the key should pay the write-time sort — in the KG
    build that is extract and mentions (read by the url-keyed SMJs in
    linked/triples). The linked/triples outputs are never joined on url
    downstream, and bucket-sorting them is a pure-cost sort of the two
    largest tables in the pipeline (measured: the linked write sorts 229M
    rows at 3.2M pages for zero downstream benefit).

    ``bucket_sort``: extra SORTED BY columns after the bucket key. The
    mentions table sorts by (url, start) so the triples stage's
    (url, obj_start) sort-merge join reads the object side ALREADY
    ordered — the scan's declared sort order satisfies the join's
    required ordering via the obj_start = start alias, eliding a
    corpus-sized sort (declared order must exactly match the written
    order, so ``_register_bucketed`` re-declares the same columns)."""

    name: str
    fn: Callable[[SparkSession, dict], DataFrame]
    partition_by: tuple[str, ...] = ()
    bucket_output: bool = True
    bucket_sort: tuple[str, ...] = ()


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
    """Three storage modes, same driver logic:

    * ``catalog=None, bucket=None`` (default): stage outputs are parquet
      directories under ``base_dir`` with ``_SUCCESS`` commit markers.
    * ``catalog="iceberg.kg"``: outputs become Iceberg catalog tables
      written with ``writeTo(...).partitionedBy(...).createOrReplace()``
      and resumability checks ``tableExists`` (this container ships no
      Iceberg runtime; the path is unit-tested via writer-selection
      tests, runtime-gated).
    * ``bucket=("url", N)``: outputs become session-catalog EXTERNAL
      tables (data still under ``base_dir``) bucketed + bucket-sorted on
      the key wherever the stage output carries it. Downstream doc-keyed
      joins (maximal mentions, triples, link) then run with NO exchange —
      hash-partitioning on ``url`` satisfies the (url, offset) clustered
      distribution too, so the write-time shuffle replaces every join
      shuffle. Resumable across sessions even with the default in-memory
      metastore: when the catalog entry is gone but the committed data
      (``_SUCCESS``) survives under ``base_dir``, the stage check
      re-registers the external table over it with the same bucket spec
      — the caller must pass the same ``bucket`` N the data was written
      with (same contract as any persistent metastore)."""

    def __init__(self, spark: SparkSession, base_dir: str, stages: list[Stage],
                 catalog: str | None = None,
                 bucket: tuple[str, int] | None = None,
                 table_prefix: str = "kg"):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.stages = stages
        self.catalog = catalog
        self.bucket = bucket
        self.table_prefix = table_prefix
        self.run_id = uuid.uuid4().hex[:12]
        # Bucket mode tunes two SESSION-WIDE confs (outputOrdering here,
        # autoBucketedScan in run()) and leaves them set, because reads of
        # the stage tables after run() — pipe.table(...) compositions —
        # need them for the sort-free/exchange-free plans. This is a
        # deliberate, documented session leak: both settings stay CORRECT
        # for unrelated workloads (outputOrdering only claims orderings
        # Spark re-verifies per scan via the one-file-per-bucket check and
        # the registered spec, which _register_bucketed ties to the
        # written data; autoBucketedScan=false is purely a performance
        # choice). A session that interleaves other bucketed-table work
        # can undo them with restore_session_confs().
        self._prior_confs: dict[str, str | None] = {}
        if bucket:
            # Expose the bucketed tables' SORTED BY order to the planner
            # (off by default since Spark 3). Combined with the
            # one-file-per-bucket write this makes every single-key SMJ
            # over the stage tables sort-free as well as exchange-free.
            # Safe session-wide: Spark still verifies one-file-per-bucket
            # per scan before claiming ordering, and falls back to
            # inserting the sort otherwise (verified by test).
            self._set_conf(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

    def _set_conf(self, key: str, value: str) -> None:
        """Set a session conf, remembering the pre-pipeline value once so
        restore_session_confs() can undo every pipeline-made change."""
        if key not in self._prior_confs:
            self._prior_confs[key] = self.spark.conf.get(key, None)
        self.spark.conf.set(key, value)

    def restore_session_confs(self) -> None:
        """Undo the session-conf changes this pipeline made (see __init__).
        Reads of the stage tables after this will be planned with extra
        sorts/exchanges — correct, just slower."""
        for key, prior in self._prior_confs.items():
            if prior is None:
                self.spark.conf.unset(key)
            else:
                self.spark.conf.set(key, prior)
        self._prior_confs = {}

    def path(self, stage_name: str) -> str:
        if self.catalog:
            return f"{self.catalog}.{stage_name}"
        if self.bucket:
            return f"{self.table_prefix}_{stage_name}"
        return f"{self.base}/{stage_name}"

    def _data_path(self, stage_name: str) -> str:
        return f"{self.base}/{stage_name}"

    def table(self, stage_name: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(self.path(stage_name))
        if self.bucket:
            # a fresh session's in-memory catalog has forgotten the table;
            # re-attach it over the surviving committed data first
            if not self.spark.catalog.tableExists(self.path(stage_name)):
                stage = next((s for s in self.stages if s.name == stage_name),
                             None)
                if stage is None:
                    known = ", ".join(s.name for s in self.stages)
                    raise ValueError(
                        f"unknown stage {stage_name!r}; pipeline stages "
                        f"are: {known}")
                if _exists(self.spark, self._data_path(stage_name)):
                    self._register_bucketed(stage)
            return self.spark.read.table(self.path(stage_name))
        return self.spark.read.parquet(self.path(stage_name))

    def _stage_exists(self, stage: Stage) -> bool:
        out = self.path(stage.name)
        if self.catalog:
            return self.spark.catalog.tableExists(out)
        if self.bucket:
            if self.spark.catalog.tableExists(out):
                return True
            if _exists(self.spark, self._data_path(stage.name)):
                self._register_bucketed(stage)
                return True
            return False
        return _exists(self.spark, out)

    def _register_bucketed(self, stage: Stage) -> None:
        """Re-attach a committed bucketed stage output as an external
        catalog table (new session, default in-memory metastore: the
        metadata is gone, the data is not). The layout is read from the
        ``_bucket_spec.json`` record the WRITER persisted next to the
        data, never from the in-code Stage definition: with
        ``bucketedTableScan.outputOrdering=true`` set session-wide, a
        declared SORTED BY that the files don't actually satisfy would
        let sort-merge joins elide required sorts and return silently
        wrong rows (e.g. resuming over data an older release sorted
        differently). No record (pre-record data) → register CLUSTERED
        BY with NO SORTED BY: the planner then inserts sorts — slower,
        never wrong. A record whose bucket key/N contradicts this
        pipeline's ``bucket`` raises: Spark derives bucket ids from the
        writer's file-name suffixes, so a mismatched registration would
        silently break the exchange-free join guarantee."""
        key, n = self.bucket
        data = self._data_path(stage.name)
        tbl = self.path(stage.name)
        rec = _read_text(self.spark, f"{data}/{_SPEC_FILE}")
        spec_rec = json.loads(rec) if rec else None
        schema = self.spark.read.parquet(data).schema
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                        for f in schema.fields)
        if spec_rec is not None and spec_rec.get("bucketed"):
            if spec_rec["key"] != key or spec_rec["n"] != n:
                raise ValueError(
                    f"stage {stage.name!r}: committed data at {data} was "
                    f"bucketed as ({spec_rec['key']!r}, {spec_rec['n']}) "
                    f"but this pipeline was built with ({key!r}, {n}); "
                    "pass the bucket spec the data was written with")
            sort_cols = ", ".join(f"`{c}`" for c in spec_rec["sort"])
            spec = (f"CLUSTERED BY (`{spec_rec['key']}`) "
                    f"SORTED BY ({sort_cols}) INTO {spec_rec['n']} BUCKETS")
            self.spark.sql(f"CREATE TABLE {tbl} ({ddl}) USING PARQUET {spec} "
                           f"LOCATION '{data}'")
        elif spec_rec is None and stage.bucket_output \
                and key in schema.fieldNames():
            # legacy data with no layout record: bucketing is safe to
            # assume (file names carry the bucket ids and Spark validates
            # them), the sort order is NOT — declare none
            self.spark.sql(f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                           f"CLUSTERED BY (`{key}`) INTO {n} BUCKETS "
                           f"LOCATION '{data}'")
        elif stage.partition_by:
            cols = ", ".join(f"`{c}`" for c in stage.partition_by)
            self.spark.sql(f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                           f"PARTITIONED BY ({cols}) LOCATION '{data}'")
            self.spark.sql(f"MSCK REPAIR TABLE {tbl}")
        else:
            self.spark.sql(f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                           f"LOCATION '{data}'")

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
        if self.bucket:
            key, n = self.bucket
            if stage.bucket_output and key in df.columns:
                # bucket on the join key; skip the label/pred partitioning
                # — combining both multiplies files AND adds a per-task
                # sort over (partition, bucket), which doubled the mention
                # write. Low-cardinality column pruning still comes from
                # parquet row-group predicate pushdown.
                #
                # ONE FILE PER BUCKET: repartition on the bucket key so
                # each writer task holds exactly one bucket (repartition
                # hash == bucket hash). Spark only exposes a bucketed
                # table's SORTED BY order to the planner when every bucket
                # is a single file — multi-file buckets (16 tasks × 32
                # buckets = 512 files) forced every downstream sort-merge
                # join to RE-SORT the corpus-sized mention table it had
                # just sorted at write time. When the stage input is
                # itself this bucketed layout the planner elides the
                # exchange, which is only correct if it keeps the scan
                # bucket-aligned — hence autoBucketedScan=false in run().
                (df.repartition(n, F.col(key)).write.mode("overwrite")
                 .option("path", self._data_path(stage.name))
                 .bucketBy(n, key).sortBy(key, *stage.bucket_sort)
                 .saveAsTable(out))
                # persist the EXACT layout written, so a later session's
                # re-registration declares what the files really are (see
                # _register_bucketed) — never today's Stage definition
                _write_text(
                    self.spark,
                    f"{self._data_path(stage.name)}/{_SPEC_FILE}",
                    json.dumps({"bucketed": True, "key": key, "n": n,
                                "sort": [key, *stage.bucket_sort]}))
                return
            w = (df.write.mode("overwrite")
                 .option("path", self._data_path(stage.name)))
            if stage.partition_by:
                w = w.partitionBy(*stage.partition_by)
            w.saveAsTable(out)
            if stage.partition_by:
                self._ensure_readable(df, self._data_path(stage.name))
            _write_text(self.spark,
                        f"{self._data_path(stage.name)}/{_SPEC_FILE}",
                        json.dumps({"bucketed": False}))
            return
        writer = df.write.mode("overwrite")
        if stage.partition_by:
            writer = writer.partitionBy(*stage.partition_by)
        writer.parquet(out)
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
        if self.bucket:
            # the one-file-per-bucket write relies on the writer's input
            # tasks being bucket-aligned. When a stage's input is itself a
            # bucketed table the planner elides the repartition exchange —
            # correct only if the scan it keeps is the BUCKETED scan, not
            # the size-split file scan autoBucketedScan would relax it to.
            self._set_conf(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false")
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
            self._write_metrics(
                stage.name,
                self._data_path(stage.name) if self.bucket else out,
                wall_ms)
            status[stage.name] = "ran"
        return status

    def metrics(self) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(f"{self.catalog}.metrics")
        return self.spark.read.parquet(f"{self.base}/_metrics")


def build_kg_pipeline(spark: SparkSession, base_dir: str,
                      pages_path: str, gazetteer: list[tuple[str, str]],
                      predicates: tuple[str, ...],
                      catalog: str | None = None,
                      bucket: tuple[str, int] | None = None,
                      table_prefix: str = "kg",
                      fuse: bool = True,
                      extractor=None,
                      pages_format: str = "parquet",
                      link_graph: bool = False,
                      host_rank: bool = False,
                      host_rank_iters: int = 5) -> Pipeline:
    """The standard 7-stage KG build over a pages table. ``catalog``: an
    Iceberg namespace to write catalog tables into instead of parquet
    directories; ``bucket=("url", N)``: bucketed session-catalog tables
    for exchange-free downstream doc-keyed joins (see ``Pipeline``).

    ``fuse=True`` (default): extract, annotate AND gazetteer linking run as
    ONE Arrow-batched Python pass (``extract_annotate_stage``) — the
    extract table carries a ``spans`` array column whose spans already
    hold their link winner, and the mentions and linked stages reduce to
    JVM-only explodes (``mentions_from_spans``, ``linked_from_spans``), so
    the text corpus crosses the JVM<->Python boundary once instead of
    three times, the inter-stage parquet hop of the text disappears, and
    linking needs no document join or planning job. ``fuse=False``
    restores the separate stages and the relational ``link_mentions``
    (row-identical output; pinned by tests).

    The ``aliases`` stage clusters the distinct linked surfaces — a
    gazetteer-bounded set — on the driver (``canonicalize_aliases``) and
    commits a local relation.

    ``extractor``: deterministic ``bytes -> str | None`` for the extract
    stage (default ``kg.extract.extract_text``, the synthetic-corpus
    inverse; pass ``kg.webextract.extract_text_web`` for real-web
    boilerplate-aware extraction — same contract, fused or not).

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
                                           extract_stage, mentions_from_spans)
    from quickner_spark.kg.link import (alias_table_from_gazetteer,
                                        link_mentions, linked_from_spans)
    from quickner_spark.kg.triples import pattern_triples, window_triples
    from quickner_spark.operators.annotate import (annotate_mentions,
                                                   maximal_mentions,
                                                   normalize_gazetteer)

    gaz = normalize_gazetteer(gazetteer, case_sensitive=False)
    # post-span text window: predicate token + the two framing spaces
    pred_window = (max(len(p) for p in predicates) + 2) if predicates else 0

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
        pages = _read_pages(spark)
        if fuse:
            return extract_annotate_stage(pages, gaz, window=pred_window,
                                          extractor=extractor)
        return extract_stage(pages, extractor=extractor)

    def s_mentions(spark, ctx):
        ext = ctx["pipeline"].table("extract")
        if fuse:
            return mentions_from_spans(ext)
        return annotate_mentions(ext, gaz, id_col="url", text_col="text")

    def s_linked(spark, ctx):
        p = ctx["pipeline"]
        if fuse:
            # the fused pass linked every span in-row: a narrow explode
            return linked_from_spans(p.table("extract"))
        alias_table = alias_table_from_gazetteer(spark, gaz)
        return link_mentions(p.table("mentions"), p.table("extract"),
                             alias_table, id_col="url")

    def s_triples(spark, ctx):
        p = ctx["pipeline"]
        # longest-match resolution first: truncated overlapping mentions
        # ('acme systems' inside 'acme systems works') must not become
        # truncated triple arguments. The fused annotate stage computed
        # the flag in-row on each document's span array, so resolution is
        # a scan-level FILTER that keeps the table's (url, start) sort
        # order — the corpus-sized anti-join (and the re-sort it forced
        # on the triples object side) only runs on the unfused path.
        # With the fused `nxt` window column the predicate test runs on
        # the mention row itself (window_triples): the triples stage
        # never joins or seeks the document text at all.
        m = p.table("mentions")
        if "maximal" in m.columns:
            maximal = m.where(F.col("maximal")).drop("maximal")
        else:
            maximal = maximal_mentions(m, id_col="url")
        if "nxt" in maximal.columns:
            return window_triples(maximal, predicates, id_col="url")
        return pattern_triples(maximal, p.table("extract"),
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
        # node key = the alias-cluster canonical (amap), NOT the link-stage
        # candidate id — project linked down so the names can't collide.
        #
        # Pre-aggregate to (surface, label) counts FIRST: the partial
        # (map-side) aggregate collapses the corpus-sized linked table to
        # ~|gazetteer| rows with count-only state and no per-row join
        # probe, and everything downstream — the alias join and the
        # canonical regroup — runs on hundreds of rows. Measured 7x over
        # join-then-aggregate at 114.7M linked rows (12.3 s -> 1.7 s at
        # 16 cores); output identical (weighted sum == per-row count).
        stats = (p.table("linked").groupBy("surface", "label")
                 .agg(F.count("*").alias("__n")))
        amap = p.table("aliases")
        return (stats.join(amap, stats["surface"] == amap["alias"])
                .groupBy("canonical_id")
                .agg(F.min("label").alias("label"),
                     F.sort_array(F.collect_set("surface")).alias("aliases"),
                     F.sum("__n").alias("n_mentions")))

    def s_edges(spark, ctx):
        p = ctx["pipeline"]
        # same pre-aggregation shape as s_nodes: collapse the triples
        # table to (subj, pred, obj) counts map-side, then join the tiny
        # alias map and re-aggregate on canonical ids — the broadcast
        # joins probe thousands of rows instead of the full triple table.
        t = (p.table("triples").groupBy("subj", "pred", "obj")
             .agg(F.count("*").alias("__n")))
        amap = p.table("aliases")
        subj_map = amap.selectExpr("alias as subj", "canonical_id as src")
        obj_map = amap.selectExpr("alias as obj", "canonical_id as dst")
        return (t.join(F.broadcast(subj_map), "subj")
                .join(F.broadcast(obj_map), "obj")
                .groupBy("src", "dst", "pred")
                .agg(F.sum("__n").alias("weight")))

    # partition layout: mention/triple tables by label/pred (low-cardinality,
    # prunable); with an Iceberg catalog these become
    # writeTo(...).partitionedBy(bucket(N, "url"), "pred").
    # bucket_output: only extract and mentions are re-joined on url
    # downstream (the unfused linked SMJ, maximal_mentions' self-anti-
    # join); the
    # linked/triples outputs are consumed by surface-/alias-keyed joins
    # and aggregates, so bucket-sorting them on url would sort the two
    # largest tables in the pipeline for zero benefit.
    def s_host_edges(spark, ctx):
        # reads the raw pages (html) — the extract table dropped the
        # markup the anchors live in. Scan + explode + output-bounded
        # aggregate; independent of every other stage.
        from quickner_spark.kg.weblinks import extract_links, host_graph
        return host_graph(extract_links(_read_pages(spark)))

    stages = [
        Stage("extract", s_extract),
        # (url, start) sort order feeds the triples join's object side
        # pre-sorted (obj_start aliases start) — see Stage.bucket_sort
        Stage("mentions", s_mentions, partition_by=("label",),
              bucket_sort=("start",)),
        Stage("linked", s_linked, bucket_output=False),
        Stage("triples", s_triples, partition_by=("pred",),
              bucket_output=False),
        Stage("aliases", s_aliases),
        Stage("nodes", s_nodes),
        Stage("edges", s_edges, partition_by=("pred",)),
    ]
    def s_host_rank(spark, ctx):
        # consumes the materialized host_edges table (never the corpus)
        from quickner_spark.operators.graph import pagerank
        he = ctx["pipeline"].table("host_edges")
        return (pagerank(he, src="src_host", dst="dst_host",
                         weight="n_links", iters=host_rank_iters)
                .select(F.col("node").alias("host"), "rank"))

    if link_graph:
        stages.append(Stage("host_edges", s_host_edges, bucket_output=False))
        if host_rank:
            stages.append(Stage("host_rank", s_host_rank,
                                bucket_output=False))
    return Pipeline(spark, base_dir, stages,
                    catalog=catalog, bucket=bucket, table_prefix=table_prefix)
