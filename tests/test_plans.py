"""Physical-plan audits: the properties that matter at 100 TB, asserted.

These tests pin the plan SHAPE (no shuffle in narrow stages, column
pruning into the scan, broadcast for small sides, partial aggregation)
so a regression that silently inserts an Exchange or drags unused columns
through Python fails CI.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    # Plan-shape assertions inspect the FileScan; a .cache()'d DataFrame
    # left behind by another module's fixture would make the CacheManager
    # substitute its full-schema InMemoryRelation into these plans and
    # hide the pruning under test. The __spark_entry__ memo holds such
    # cached intermediates, so drop it too (its next build re-caches).
    E.clear_memo()
    spark.catalog.clearCache()
    yield


def _executed(df) -> str:
    df.collect()  # ensure AQE final plan exists
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_mentions_plan_narrow_and_pruned(spark):
    df = E.q01_mentions(spark, SF)
    plan = _executed(df)
    # annotate itself is narrow: no KEYED shuffle anywhere in the plan (the
    # only allowed Exchange is the small-file round-robin spread, which is
    # a no-op at scale — see __spark_entry__._spread).
    assert "hashpartitioning" not in plan, "annotate must not key-shuffle"
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "roundrobin" in line.lower(), line
    assert "MapInPandas" in plan
    # column pruning: the parquet scan reads only (doc_id, text)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "lang" not in scan[0] and "source" not in scan[0]


def test_filter_pushdown_into_scan(spark):
    df = E.q06_filter_valid(spark, SF)
    plan = _executed(df)
    # isnotnull reaches the parquet scan as a pushed filter
    assert "PushedFilters: [IsNotNull(text)" in plan or \
           "PushedFilters: [ IsNotNull(text)" in plan or \
           "IsNotNull(text)" in plan


def test_knn_broadcasts_probes(spark):
    df = E.q11_knn_quantized_ip(spark, SF)
    plan = _executed(df)
    assert "Broadcast" in plan, "probe side must broadcast, never shuffle the big side"


def test_histogram_partial_aggregation(spark):
    df = E.q02_label_histogram(spark, SF)
    plan = _executed(df)
    # partial + final hash aggregate (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_triples_joins_on_doc_key(spark):
    df = E.q12_triples(spark, SF)
    plan = _optimized(df)
    assert "Join" in plan
    ex = _executed(df)
    # the predicate test is IN-ROW (codegen-able literal array + explode
    # + filter — NOT higher-order functions, which drop the projection to
    # interpreted evaluation), BEFORE any mention-mention join — no
    # mention x predicate fan-out relation ever reaches a join input, and
    # both corpus-sized joins are sort-merge (broadcasting either side is
    # a serial driver collect+hash that cannot scale and OOMs at corpus
    # scale)
    assert ex.count("SortMergeJoin") >= 2, ex
    assert "BroadcastHashJoin" not in ex, ex
    assert "CartesianProduct" not in ex
    assert "StartsWith" in plan or "startswith" in plan, plan
    assert "transform(" not in plan, \
        "higher-order functions are interpreted — keep the probe codegen-able"


def test_jaccard_no_cartesian(spark):
    df = E.q10_ngram_jaccard_pairs(spark, SF)
    plan = _optimized(df)
    assert "CartesianProduct" not in plan and "cartesian" not in plan.lower(), \
        "near-dup join must block on the shingle key, never cross-join"


def test_salted_index_spreads_key(spark):
    df = E.q19_salted_entity_index(spark, SF)
    plan = _optimized(df)
    assert "pmod" in plan and "xxhash64" in plan
    assert plan.count("Aggregate") >= 2


def test_annotate_documents_passthrough_prunes(spark):
    # multimodal rule: stages that don't need a column must not read it
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from quickner_spark.operators.annotate import annotate_mentions, normalize_gazetteer
    m = annotate_mentions(docs, normalize_gazetteer([("spark", "T")]))
    plan = _executed(m)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "n_chars" not in scan[0]


def test_annotate_over_pages_never_reads_html(spark, tmp_path):
    # The 100 TB claim: `html` is ~50x `text`; every post-extraction stage
    # over the pages table must prune it from the scan or the annotate
    # pass reads the whole corpus instead of ~2% of it (DESIGN_SCALE.md).
    from quickner_spark.kg import corpus
    from quickner_spark.operators.annotate import (annotate_mentions,
                                                   normalize_gazetteer)
    path = str(tmp_path / "pages")
    corpus.synth_pages(spark, 50, partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    assert "html" in pages.columns  # the trap is actually present
    m = annotate_mentions(pages, normalize_gazetteer([("acme", "ORG")]),
                          id_col="url")
    plan = _executed(m)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "html" not in scan[0] and "warc_ts" not in scan[0], scan


def test_link_scores_plan_broadcasts_and_no_cartesian(spark):
    df = E.q27_link_scores(spark, SF)
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan          # per-alias candidate bundle
    assert "CartesianProduct" not in plan
    assert "hashpartitioning" in plan           # the doc-keyed merge join


def test_bucketed_mention_join_has_no_exchange(spark):
    """Co-located join via bucketing: mentions and texts written bucketed
    on the doc key with equal bucket counts must join with NO Exchange
    (the write-time shuffle replaces every downstream join shuffle)."""
    from quickner_spark.kg import corpus
    from quickner_spark.operators.annotate import (annotate_mentions,
                                                   normalize_gazetteer)
    from quickner_spark.operators.bucketing import read_table, write_bucketed

    pages = corpus.synth_pages(spark, 40, partitions=2).select("url", "text")
    gaz = normalize_gazetteer(corpus.synth_gazetteer(30, 2),
                              case_sensitive=False)
    write_bucketed(pages, "bk_texts", "url", 4)
    write_bucketed(annotate_mentions(pages, gaz, id_col="url"),
                   "bk_mentions", "url", 4)
    # the fixture tables are tiny, so AQE would broadcast and hide the
    # property under test (at scale neither side is broadcastable)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = read_table(spark, "bk_mentions").join(
            read_table(spark, "bk_texts"), "url")
        plan = _executed(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # negative control: the same join from plain parquet dirs shuffles
        # or broadcasts — bucketing is what removed the Exchange
        j2 = read_table(spark, "bk_mentions").hint("merge").join(
            spark.createDataFrame(pages.collect(), pages.schema), "url")
        assert "Exchange" in _executed(j2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bk_texts")
        spark.sql("DROP TABLE IF EXISTS bk_mentions")


def test_corpus_sized_joins_never_broadcast_from_parquet(spark, tmp_path):
    """Regression guard for the compressed-parquet under-estimate trap:
    a committed mention table looks like ~tens of MB on disk, lands under
    the broadcast threshold, and Spark would broadcast the corpus-sized
    side of the maximal-mention anti-join, the triple joins, and the link
    doc-join — a serial driver collect+hash that cannot scale and OOMs at
    corpus scale. These operators pin sort-merge; assert the pin holds
    when inputs come from parquet (the pipeline's stats regime)."""
    from quickner_spark.kg import corpus
    from quickner_spark.kg.link import alias_table_from_gazetteer, link_mentions
    from quickner_spark.kg.triples import pattern_triples
    from quickner_spark.operators.annotate import (annotate_mentions,
                                                   maximal_mentions,
                                                   normalize_gazetteer)

    pages = corpus.synth_pages(spark, 60, partitions=2)
    gaz = normalize_gazetteer(corpus.synth_gazetteer(50, 1),
                              case_sensitive=False)
    ext_p, m_p = str(tmp_path / "ext"), str(tmp_path / "men")
    pages.select("url", "text").write.parquet(ext_p)
    annotate_mentions(pages.select("url", "text"), gaz,
                      id_col="url").write.parquet(m_p)
    ext = spark.read.parquet(ext_p)
    mentions = spark.read.parquet(m_p)

    mm = maximal_mentions(mentions, id_col="url")
    plan = _executed(mm)
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan

    tr = pattern_triples(mm, ext, corpus.PREDICATES, id_col="url")
    plan = _executed(tr)
    # the two corpus-sized joins (mention-mention, docs) are merge joins;
    # only the tiny predicate fan-out may broadcast
    assert plan.count("SortMergeJoin") >= 2, plan

    al = alias_table_from_gazetteer(spark, gaz)
    lk = link_mentions(mentions, ext, al, id_col="url")
    plan = _executed(lk)
    assert "SortMergeJoin" in plan, plan
    # mentions/documents must never be a broadcast build side here: the
    # only BroadcastHashJoin allowed is the per-alias candidate bundle
    for i, line in enumerate(plan.splitlines()):
        if "BroadcastExchange" in line:
            ctx = "\n".join(plan.splitlines()[i:i + 8])
            assert "FileScan" not in ctx, ctx


def test_gazetteer_link_plans_are_local_and_narrow(spark, tmp_path):
    """alias_table_from_gazetteer is a local relation (LocalTableScan, not
    a Python-RDD scan that re-runs Python tasks per scan), and the linked
    spans are a narrow explode of the committed extract: no join, no
    exchange, no aggregate, and a scan that prunes the extract's ``text``
    (the aggregates that read the linked spans rely on it)."""
    from quickner_spark.kg import corpus
    from quickner_spark.kg.extract import extract_annotate_stage
    from quickner_spark.kg.link import (alias_table_from_gazetteer,
                                        linked_from_spans)
    from quickner_spark.operators.annotate import normalize_gazetteer

    gaz = normalize_gazetteer(corpus.synth_gazetteer(50, 1),
                              case_sensitive=False)
    al = alias_table_from_gazetteer(spark, gaz, {gaz[0][0]: ["alt name"]})
    plan = _executed(al)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert al.count() == len(gaz) + 1

    ext_p = str(tmp_path / "ext")
    extract_annotate_stage(corpus.synth_pages(spark, 30, partitions=2),
                           gaz).write.parquet(ext_p)
    lk = linked_from_spans(spark.read.parquet(ext_p))
    plan = _executed(lk)
    for op in ("Join", "Exchange", "Aggregate"):
        assert op not in plan, plan
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(scan) == 1 and "spans:" in scan[0], plan
    assert "text:" not in scan[0] and "triples:" not in scan[0], scan
    assert lk.count() > 0


def test_fused_triples_plan_is_local_and_narrow(spark, tmp_path):
    """The fused build's triples stage is a narrow explode of the
    committed extract: no exchange and no sort-merge join."""
    from quickner_spark.kg import corpus
    from quickner_spark.kg.extract import extract_annotate_stage
    from quickner_spark.kg.triples import triples_from_spans
    from quickner_spark.operators.annotate import normalize_gazetteer

    gaz = normalize_gazetteer(corpus.synth_gazetteer(50, 1),
                              case_sensitive=False)
    ext_p = str(tmp_path / "ext")
    pages = corpus.synth_pages(spark, 30, seed=1, gaz_size=50, partitions=2)
    extract_annotate_stage(pages, gaz, predicates=corpus.PREDICATES
                           ).write.parquet(ext_p)
    tr = triples_from_spans(spark.read.parquet(ext_p))
    plan = _executed(tr)
    for op in ("Exchange", "SortMergeJoin"):
        assert op not in plan, plan
    assert tr.count() > 0


def test_kg_edges_plan_broadcasts_maps(spark):
    df = E.q28_kg_edges(spark, SF)
    plan = _executed(df)
    assert plan.count("BroadcastHashJoin") >= 2  # subj and obj alias maps
    assert "CartesianProduct" not in plan


def test_latest_by_key_partial_argmax_before_exchange(spark):
    """The arg-max snapshot dedup must shuffle ~|keys| condensed rows:
    partial_max_by runs BEFORE the Exchange, and the Exchange input is
    the 3-column (key, value-struct, ordering-struct) partial state, not
    the full input rows."""
    from quickner_spark.operators.events import latest_by_key

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _executed(latest_by_key(ev, "user_id", "ts"))
    lines = plan.splitlines()
    partial_at = next(i for i, l in enumerate(lines)
                      if "partial_max_by" in l)
    exchange_at = next(i for i, l in enumerate(lines) if "Exchange" in l)
    # executedPlan prints top-down: the Exchange node appears ABOVE the
    # map-side partial aggregate that feeds it
    assert exchange_at < partial_at, plan
    assert "Window" not in plan, plan  # not the row_number formulation


def test_khop_frontier_joins_and_degree_partial_agg(spark):
    from quickner_spark.operators.graph import degree_stats, k_hop

    edges = E.q28_kg_edges(spark, SF)
    plan = _executed(k_hop(edges, ["spark", "data"], 2))
    assert "CartesianProduct" not in plan, plan
    dplan = _executed(degree_stats(edges, weight="weight"))
    assert "partial_count" in dplan or "partial" in dplan, dplan
    assert "CartesianProduct" not in dplan, dplan


def test_psl_domains_hash_joins_not_nested_loop(spark):
    """The PSL rule match must plan as broadcast HASH equi-joins — an
    OR-of-conditions formulation would fall back to
    BroadcastNestedLoopJoin and scan |candidates| x |rules|."""
    from pyspark.sql import Row

    from quickner_spark.kg.weblinks import psl_domains

    psl = spark.createDataFrame([Row(rule=r) for r in
                                 ("com", "co.uk", "*.ck", "!www.ck")])
    hosts = spark.createDataFrame(
        [Row(host=h) for h in ("a.example.com", "b.co.uk", "c.ck")])
    plan = _executed(psl_domains(hosts, psl))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cooccurrence_doc_keyed_join_partial_counts(spark):
    """Pair expansion equi-joins on the doc key (no cartesian) and every
    count aggregate has a map-side partial."""
    from quickner_spark.kg.cooccur import cooccurrence

    m = E.q01_mentions(spark, SF).select(
        "doc_id", F.lower("surface").alias("surface"))
    plan = _executed(cooccurrence(m, min_docs=2))
    assert "CartesianProduct" not in plan, plan
    # exactly ONE keyless broadcast join is by design: attaching the
    # 1-row n_corpus aggregate; the pair expansion itself must hash-join
    # (AQE prints the plan twice — final + initial — so count one section)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "partial_count" in plan, plan
    joins = [ln for ln in final.splitlines()
             if "HashJoin" in ln or "SortMergeJoin" in ln]
    assert any("doc" in ln for ln in joins), plan


def test_robots_windows_partition_by_host(spark):
    """Every parsing window keys on host — no global (empty-key) window,
    which would serialize the whole rules corpus through one task."""
    from pyspark.sql import Row

    from quickner_spark.kg.robots import robots_rules

    robots = spark.createDataFrame([Row(
        host="h.org", body="User-agent: *\nDisallow: /x/")])
    plan = _executed(robots_rules(robots))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "host" in line, line


def test_hits_joins_are_hash_equi(spark):
    from quickner_spark.operators.graph import hits

    edges = E.q28_kg_edges(spark, SF).select(
        F.col("src"), F.col("dst"))
    plan = _executed(hits(edges, iters=1))
    assert "CartesianProduct" not in plan, plan


def test_plan_frontier_windows_keyed_and_delays_join(spark):
    """plan_frontier: the politeness ranking window partitions by host
    (no empty-key window serializing the frontier) and there is no
    cartesian product anywhere in the composition."""
    from pyspark.sql import Row

    from quickner_spark.kg.robots import (crawl_delays, plan_frontier,
                                          robots_rules)

    robots = spark.createDataFrame([Row(
        host="h.org", body="User-agent: *\nCrawl-delay: 2\nDisallow: /x/")])
    urls = spark.createDataFrame([Row(url="https://h.org/a", prio=1)])
    plan = _executed(plan_frontier(urls, robots_rules(robots),
                                   crawl_delays(robots),
                                   priority_col="prio"))
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "host" in line, line


def test_triangle_count_no_cartesian_and_adaptive_degrees(spark):
    """triangle_count: wedge build and closing are equi-joins (a
    cartesian/nested-loop anywhere means the orientation join broke).
    The node-sized degree lookups carry NO forced broadcast hint — at
    toy scale AQE still picks a broadcast join because the table fits
    its threshold, which this asserts; the too-big-to-broadcast side is
    covered by test_triangle_count_degrades_past_broadcast_threshold."""
    from quickner_spark.operators.graph import triangle_count

    edges = E.q28_kg_edges(spark, SF).select("src", "dst")
    plan = _executed(triangle_count(edges))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _no_broadcast(spark):
    """Context: both broadcast thresholds off — simulates a degree/
    in-degree table too large to broadcast (10^8-host webgraph)."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        keys = ("spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold")
        old = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, "-1")
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    return cm()


def test_triangle_count_degrades_past_broadcast_threshold(spark):
    """round-4 verdict item 3: with broadcast disabled (the node table
    exceeds every threshold) the degree joins must degrade to shuffle
    joins — not OOM on a forced hint — and the counts must not move."""
    from quickner_spark.operators.graph import triangle_count

    # materialize the KG edges into a fresh local DataFrame so the plan
    # under inspection contains ONLY triangle_count's own joins (q28's
    # upstream carries intentional gazetteer broadcasts)
    rows = [(r["src"], r["dst"]) for r in
            E.q28_kg_edges(spark, SF).select("src", "dst").collect()]
    edges = spark.createDataFrame(rows, "src string, dst string")
    base = {(r["node"], r["triangles"])
            for r in triangle_count(edges).collect()}
    # drop the base run's cached intermediates: their InMemoryRelations
    # were planned with broadcast ON and would be substituted verbatim
    spark.catalog.clearCache()
    with _no_broadcast(spark):
        df = triangle_count(edges)
        got = {(r["node"], r["triangles"]) for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert got == base


def test_cocitation_source_keyed_join_partial_counts(spark):
    """cocitation: the pair expansion equi-joins on the source key and
    the pair count runs a map-side partial aggregate before its
    exchange; the in-degree joins carry no forced broadcast hint."""
    from quickner_spark.operators.graph import cocitation

    edges = E.q28_kg_edges(spark, SF).select("src", "dst")
    plan = _executed(cocitation(edges, min_shared=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan


def test_cocitation_degrades_past_broadcast_threshold(spark):
    """round-4 verdict item 3, cocitation side: broadcast disabled ->
    shuffle joins, identical pairs."""
    from quickner_spark.operators.graph import cocitation

    rows = [(r["src"], r["dst"]) for r in
            E.q28_kg_edges(spark, SF).select("src", "dst").collect()]
    edges = spark.createDataFrame(rows, "src string, dst string")
    base = {tuple(r) for r in cocitation(edges, min_shared=1).collect()}
    spark.catalog.clearCache()
    with _no_broadcast(spark):
        df = cocitation(edges, min_shared=1)
        got = {tuple(r) for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert got == base


def test_label_propagation_combinable_argmax_no_window(spark):
    """label_propagation: the per-node argmax is a combinable
    min-of-struct aggregate (partial_min before its exchange), NOT a
    window over the vote table — and no cartesian/nested-loop joins."""
    from quickner_spark.operators.graph import label_propagation

    edges = E.q28_kg_edges(spark, SF).select("src", "dst")
    plan = _executed(label_propagation(edges, iters=1, checkpoint=False))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_weighted_pagerank_no_cartesian_partial_sums(spark):
    """pagerank(weight=...): every join is an equi-join and both the
    weight pre-aggregation and per-iteration contribution sum run
    map-side partials before their exchanges."""
    from quickner_spark.operators.graph import pagerank

    edges = E.q28_kg_edges(spark, SF).select(
        "src", "dst", F.col("weight").alias("w"))
    plan = _executed(pagerank(edges, iters=1, weight="w", checkpoint=False))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_sum" in plan, plan
