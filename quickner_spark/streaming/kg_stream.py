"""Incremental KG construction over a page stream (north-rule extension).

A continuously-crawled corpus should not rebuild the KG from scratch per
crawl batch. ``incremental_kg`` wires a streaming pages source into the
batch pipeline's fused pass via ``foreachBatch``: each micro-batch runs
:func:`kg_batch_increment` — ONE Arrow-batched Python pass that extracts,
annotates and flags maximal spans (``kg.extract.extract_annotate_stage``),
then JVM-only explodes for the mentions and the windowed triple test
(``kg.triples.window_triples``) — and appends its mentions and triples to
the target tables. Because every stage is a deterministic function of the
page row alone (no cross-document state — the per-document invariant the
batch pipeline already relies on for resumability), streaming output over
N batches is row-identical to one batch run over the union;
``tests/test_streaming_kg.py`` asserts exactly that, and checks both
against the relational oracle chain in ``tests/kg_oracle.py``.

foreachBatch (not a pure streaming DAG) is the right tool here: triple
extraction self-joins mentions within a micro-batch, which a continuous
DAG disallows but per-batch batch-semantics permit — and each batch's
join stays within the batch because triples never span documents, let
alone crawl batches.

foreachBatch itself is only at-least-once (a failure mid-process() replays
the batch), so end-to-end exactly-once requires the WRITER to be
idempotent per (batch_id, path). The default writer is: it lands each
batch in its own ``batch_id=N`` partition via dynamic partition overwrite,
so a replay of batch N overwrites exactly its own rows instead of
appending duplicates. Batch composition is deterministic across restarts
(checkpointed source offsets), which makes the overwrite byte-equivalent
to the lost write. A custom ``writer`` must uphold the same contract —
e.g. Iceberg ``overwritePartitions()`` keyed on batch_id, or a
transactional snapshot-per-batch append.

Aggregate views (label histograms, windowed counts) should NOT be
incrementalized by re-aggregating the tables per batch — use the
watermarked streaming aggregations in ``annotate_stream`` for those.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, functions as F

from quickner_spark.kg.extract import (extract_annotate_stage,
                                       mentions_from_spans)
from quickner_spark.kg.triples import predicate_window, window_triples
from quickner_spark.operators.annotate import normalize_gazetteer

__all__ = ["kg_batch_increment", "incremental_kg", "default_batch_writer",
           "host_edges_view"]


def default_batch_writer(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent parquet batch writer: each batch lands in its own
    ``batch_id=N`` partition via dynamic partition overwrite, so replaying
    a batch (foreachBatch is at-least-once) overwrites exactly its own
    rows instead of appending duplicates."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(path))


def kg_batch_increment(pages: DataFrame, entities: Sequence[tuple[str, str]],
                       predicates: Sequence[str],
                       case_sensitive: bool = False
                       ) -> tuple[DataFrame, DataFrame]:
    """One increment: pages -> (mentions(url, start, end, label, surface),
    triples). Pure function of the input rows; the streaming wiring calls
    it per micro-batch, and it is its own batch twin.

    ``entities`` are raw ``(name, label)`` pairs, normalized here exactly
    as the batch pipeline does (lowered unless ``case_sensitive``). The
    fused extract is local-checkpointed lazily: the first action over
    either output runs the Python pass once, and the other output reads
    the checkpoint instead of re-running it."""
    predicates = tuple(predicates)
    gaz = normalize_gazetteer(entities, case_sensitive=case_sensitive)
    ext = extract_annotate_stage(
        pages, gaz, case_sensitive=case_sensitive,
        window=predicate_window(predicates)).localCheckpoint(eager=False)
    spans = mentions_from_spans(ext)
    mentions = spans.select("url", "start", "end", "label", "surface")
    triples = window_triples(spans.where(F.col("maximal")), predicates,
                             id_col="url")
    return mentions, triples


def host_edges_view(spark, path: str) -> DataFrame:
    """Current host graph from the per-batch partials ``incremental_kg``
    lands at ``host_edges_path``: anchor counts are mergeable, so summing
    the batch partitions equals one :func:`kg.weblinks.host_graph` run
    over the union of all crawl batches (test-pinned). The fold's input
    is |hosts²|-bounded per batch, never page-sized."""
    return (spark.read.parquet(path)
            .groupBy("src_host", "dst_host")
            .agg(F.sum("n_links").alias("n_links")))


def incremental_kg(pages_stream: DataFrame,
                   entities: Sequence[tuple[str, str]],
                   predicates: Sequence[str],
                   mentions_path: str, triples_path: str,
                   checkpoint_dir: str,
                   case_sensitive: bool = False,
                   trigger_available_now: bool = True,
                   writer: Callable[[DataFrame, str, int], None] | None = None,
                   host_edges_path: str | None = None):
    """Start the incremental build; returns the StreamingQuery.

    ``host_edges_path``: also land each micro-batch's host-level
    hyperlink-graph partial (:mod:`kg.weblinks`) — per-batch counts under
    the same idempotent batch_id-partition contract; read the folded
    current graph with :func:`host_edges_view`.

    ``writer(df, path, batch_id)`` must be idempotent per (batch_id, path)
    — see the module docstring. The default writes each batch into its own
    ``batch_id=N`` parquet partition with dynamic partition overwrite
    (replay-safe); output tables therefore carry a ``batch_id`` column
    (drop it for batch-equivalence comparisons). Swap in an Iceberg
    ``overwritePartitions()`` writer for a snapshot-per-batch table. The
    checkpoint dir gives restart-safe batch ids (a re-run resumes at the
    first uncommitted crawl batch — the streaming counterpart of the batch
    pipeline's stage-skip resumability)."""
    if writer is None:
        writer = default_batch_writer
    else:
        # fail FAST here — at stream start, with a clear message — rather
        # than inside foreachBatch on the first micro-batch, where the
        # TypeError would surface as an opaque stream failure
        import inspect

        try:
            params = list(inspect.signature(writer).parameters.values())
        except (TypeError, ValueError):  # builtins/partials without sig
            n_params = 3
        else:
            if any(p.kind in (p.VAR_POSITIONAL, p.VAR_KEYWORD)
                   for p in params):
                # def w(*args) / (**kwargs) / (df, *rest) accepts the full
                # (df, path, batch_id) contract — counting declared
                # positionals would wrongly reject it
                n_params = 3
            else:
                n_params = len(params)
        if n_params != 3:
            raise TypeError(
                "incremental_kg writer must accept (df, path, batch_id); "
                f"got {n_params} parameters")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        mentions, triples = kg_batch_increment(batch_df, entities, predicates,
                                               case_sensitive=case_sensitive)
        writer(mentions, mentions_path, batch_id)
        writer(triples, triples_path, batch_id)
        if host_edges_path is not None:
            from quickner_spark.kg.weblinks import extract_links, host_graph

            # per-batch partial of a mergeable count — the raw batch rows
            # (html): extraction drops the markup anchors live in
            writer(host_graph(extract_links(batch_df)),
                   host_edges_path, batch_id)

    w = (pages_stream.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
