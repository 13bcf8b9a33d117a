"""End-to-end north-rule pipeline test: synthetic pages -> extract ->
mentions -> link -> triples -> canonicalize -> nodes/edges, with
byte-identical extraction, triple-level P/R >= 0.95 vs the generator's
ground truth, resumability, and per-partition metrics."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from quickner_spark.kg import corpus
from quickner_spark.kg.extract import extract_stage
from quickner_spark.kg.pipeline import build_kg_pipeline

N_DOCS = 300
SEED = 42
GAZ_SIZE = 200


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("kg") / "pages")
    corpus.synth_pages(spark, N_DOCS, seed=SEED, gaz_size=GAZ_SIZE,
                       partitions=4).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def pipe(spark, pages_path, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("kg") / "out")
    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p = build_kg_pipeline(spark, base, pages_path, gaz, corpus.PREDICATES)
    p.run()
    return p


def test_extraction_byte_identical(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    extracted = extract_stage(pages)
    joined = (pages.select("url", F.col("text").alias("expected"))
              .join(extracted, "url"))
    n_bad = joined.where(F.col("text") != F.col("expected")).count()
    assert n_bad == 0
    assert extracted.count() == N_DOCS


def test_pipeline_all_stages_ran(pipe):
    for stage in ("extract", "mentions", "linked", "triples", "aliases",
                  "nodes", "edges"):
        assert pipe.table(stage).count() > 0


def test_triple_precision_recall(spark, pipe):
    golden = corpus.golden_triples(N_DOCS, SEED, GAZ_SIZE)
    gold = {(s.lower(), p, o.lower(), u) for s, p, o, u in golden}
    got = {(r["subj"], r["pred"].replace(" ", "_"), r["obj"], r["url"])
           for r in pipe.table("triples")
           .select("url", "subj", F.col("pred"), "obj").collect()}
    # predicates in the table keep spaces; normalize to generator form
    tp = len(gold & got)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(gold), 1)
    assert precision >= 0.95, (precision, len(got), len(gold))
    assert recall >= 0.95, (recall, len(got), len(gold))


def test_linking_resolves_canonicals(pipe):
    linked = pipe.table("linked")
    assert linked.where(F.col("canonical_id").isNull()).count() == 0
    # canonical ids are underscore-joined gazetteer names
    row = linked.first()
    assert row["canonical_id"] == row["surface"].replace(" ", "_")


def test_resumability_skips_completed_stages(spark, pipe):
    status = pipe.run()  # second run: everything committed
    assert all(v == "skipped" for v in status.values()), status
    # knock out one mid-pipeline stage; only it reruns
    shutil.rmtree(pipe.path("triples"))
    status = pipe.run()
    assert status["triples"] == "ran"
    assert status["extract"] == "skipped"
    assert status["edges"] == "skipped"
    assert pipe.table("triples").count() > 0


def test_metrics_lineage_rows(pipe):
    m = pipe.metrics()
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"extract", "mentions", "triples"} <= stages
    cols = set(m.columns)
    assert {"stage", "partition_id", "rows_out", "wall_ms", "run_id"} <= cols
    # per-partition totals reconcile with table counts
    total = (m.where(F.col("stage") == "mentions")
             .groupBy("stage").agg(F.sum("rows_out").alias("n"))
             .first()["n"])
    assert total == pipe.table("mentions").count()


def test_metrics_with_file_scheme_base(spark, pages_path, tmp_path):
    """A file:// base must produce the same footer-derived metrics rows as
    a bare path (the local glob branch previously saw the URI verbatim,
    matched nothing, and silently wrote a zero-row metrics file)."""
    base = f"file://{tmp_path}/kg_uri"
    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p = build_kg_pipeline(spark, base, pages_path, gaz, corpus.PREDICATES)
    p.run()
    m = p.metrics()
    assert m.count() > 0
    total = (m.where(F.col("stage") == "mentions")
             .agg(F.sum("rows_out")).first()[0])
    assert total == p.table("mentions").count()


def test_catalog_mode_writer_selection(spark, monkeypatch):
    """Catalog (Iceberg) mode routes through writeTo + tableExists instead
    of parquet dirs + _SUCCESS. No Iceberg runtime ships in this container,
    so the v2 writer is intercepted at the DataFrameWriterV2 boundary and
    the selection logic itself is asserted; the parquet path is covered by
    the end-to-end fixtures above."""
    from quickner_spark.kg.pipeline import Pipeline, Stage

    calls = []

    class FakeWriterV2:
        def __init__(self, ident):
            self.ident = ident
            self.parts = None

        def partitionedBy(self, *cols):
            self.parts = cols
            return self

        def createOrReplace(self):
            calls.append(("createOrReplace", self.ident, self.parts))

        def create(self):
            calls.append(("create", self.ident, self.parts))

        def append(self):
            calls.append(("append", self.ident, self.parts))

    df = spark.createDataFrame([(1, "a")], "k long, pred string")
    # patch the CONCRETE classes: pyspark 4's classic DataFrame overrides
    # the pyspark.sql.DataFrame base, and spark.read returns a fresh
    # DataFrameReader per access
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, ident: FakeWriterV2(ident))
    monkeypatch.setattr(type(spark.catalog), "tableExists",
                        lambda self, ident: False)
    # reads of upstream "tables" and metrics must go through read.table —
    # return the stage df itself so run() can proceed
    monkeypatch.setattr(type(spark.read), "table", lambda self, ident: df)

    p = Pipeline(spark, "/ignored", [
        Stage("stg", lambda s, ctx: df, partition_by=("pred",)),
    ], catalog="ice.kg")
    assert p.path("stg") == "ice.kg.stg"
    status = p.run()
    assert status == {"stg": "ran"}
    kinds = [c[0] for c in calls]
    assert kinds == ["createOrReplace", "create"]  # stage write + metrics
    assert calls[0][1] == "ice.kg.stg"
    assert [str(c) for c in calls[0][2]] == ["Column<'pred'>"]
    assert calls[1][1] == "ice.kg.metrics"
    # resumability: tableExists -> skip
    monkeypatch.setattr(type(spark.catalog), "tableExists",
                        lambda self, ident: True)
    assert Pipeline(spark, "/ignored",
                    [Stage("stg", lambda s, ctx: df)],
                    catalog="ice.kg").run() == {"stg": "skipped"}


def test_bucketed_pipeline_equivalent_and_exchange_free(spark, pages_path,
                                                        pipe, tmp_path):
    """bucket=("url", N) mode: stage outputs become url-bucketed catalog
    tables; results are identical to the parquet pipeline, and the
    maximal-mentions + triples plan built from the bucketed tables runs
    with ZERO hash-partitioning exchanges (the write-time shuffle replaces
    every downstream doc-keyed join shuffle)."""
    from quickner_spark.kg.triples import pattern_triples
    from quickner_spark.operators.annotate import maximal_mentions

    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p2 = build_kg_pipeline(spark, str(tmp_path / "bkt"), pages_path, gaz,
                           corpus.PREDICATES, bucket=("url", 4),
                           table_prefix="tbkt")
    # engine sessions (quickner_spark.session.get_spark) set this; the
    # bare test session does not — it lets a url-bucketed side satisfy a
    # (url, offset) join without re-shuffling
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        p2.run()
        for st in ("mentions", "triples", "edges"):
            # partitioned parquet read-back moves partition columns to the
            # end; bucketed tables keep write order — compare canonically
            cols = sorted(pipe.table(st).columns)
            a = {tuple(r) for r in pipe.table(st).select(*cols).collect()}
            b = {tuple(r) for r in p2.table(st).select(*cols).collect()}
            assert a == b, st
        # operator-composition plan (anti-join form) stays exchange-free
        mm = maximal_mentions(p2.table("mentions").drop("maximal"),
                              id_col="url")
        tr = pattern_triples(mm, p2.table("extract"), corpus.PREDICATES,
                             id_col="url")
        tr.collect()
        plan = tr._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
        assert "Bucketed: true" in plan

        # ONE FILE PER BUCKET: the write repartitions on the bucket key so
        # the table's SORTED BY order is visible to the planner (Spark
        # ignores bucket sort order when a bucket spans several files).
        import glob as _glob
        import re as _re
        for st in ("extract", "mentions"):
            files = _glob.glob(str(tmp_path / "bkt" / st / "*.parquet"))
            assert len(files) == 4, (st, files)

        # the PIPELINE-shaped triples plan (in-row maximal flag -> filter,
        # no anti-join) reads every url-keyed SMJ side pre-sorted: the
        # only Sort in the whole plan is the candidate side of the
        # (url, obj_start) join — the object side's (url, start) bucket
        # sort satisfies that ordering through the obj_start alias.
        tr2 = pattern_triples(
            p2.table("mentions").where("maximal").drop("maximal"),
            p2.table("extract"), corpus.PREDICATES, id_col="url")
        tr2.collect()
        plan2 = tr2._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("Exchange hashpartitioning") == 0, plan2
        final = plan2.split("== Initial Plan ==")[0]
        n_sorts = len(_re.findall(r"\bSort \[", final))
        assert n_sorts == 1, final
        # metrics still flow through the parquet-footer path
        assert p2.metrics().count() > 0

        # selective bucketing: only stages whose consumers join on url
        # (extract, mentions) pay the write-time bucket sort; the two
        # largest outputs (linked, triples) must stay un-bucketed
        def _is_bucketed(tbl: str) -> bool:
            rows = spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
            return any(r[0] == "Num Buckets" for r in rows)

        assert _is_bucketed("tbkt_extract")
        assert _is_bucketed("tbkt_mentions")
        assert not _is_bucketed("tbkt_linked")
        assert not _is_bucketed("tbkt_triples")

        # fresh-session resume: the in-memory metastore forgets the
        # tables (simulated by dropping them); a rebuilt pipeline must
        # re-register the surviving committed data and skip every stage,
        # with the bucket spec (and the partitioned edges table) intact
        n_mentions = p2.table("mentions").count()
        n_edges = p2.table("edges").count()
        for st in ("extract", "mentions", "linked", "triples", "aliases",
                   "nodes", "edges"):
            spark.sql(f"DROP TABLE IF EXISTS tbkt_{st}")
        p3 = build_kg_pipeline(spark, str(tmp_path / "bkt"), pages_path, gaz,
                               corpus.PREDICATES, bucket=("url", 4),
                               table_prefix="tbkt")
        assert set(p3.run().values()) == {"skipped"}
        assert p3.table("mentions").count() == n_mentions
        assert p3.table("edges").count() == n_edges
        mm3 = maximal_mentions(p3.table("mentions"), id_col="url")
        tr3 = pattern_triples(mm3, p3.table("extract"), corpus.PREDICATES,
                              id_col="url")
        plan3 = tr3._jdf.queryExecution().executedPlan().toString()
        assert plan3.count("Exchange hashpartitioning") == 0, plan3
        assert "Bucketed: true" in plan3
    finally:
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition",
                       "true")
        for st in ("extract", "mentions", "linked", "triples", "aliases",
                   "nodes", "edges"):
            spark.sql(f"DROP TABLE IF EXISTS tbkt_{st}")


def test_edges_weighted(pipe):
    edges = pipe.table("edges")
    assert set(edges.columns) == {"src", "dst", "pred", "weight"}
    assert edges.agg(F.sum("weight")).first()[0] >= edges.count()


def test_link_argmax_prefers_context_and_prior(spark):
    """Competing candidates for one surface: the argmax must weigh
    log1p(prior) + context overlap, not just prior. Surface "hash" is both
    its own entity (prior 100, profile {hash}) and an alias of hash_join
    (prior 10, profile {hash, join}):

      doc A "hash only here"   -> hash:      ln(101)+1 ≈ 5.62  vs hash_join: ln(11)+1 ≈ 3.40
      doc B "hash join target" -> hash:      ln(101)+1 ≈ 5.62  vs hash_join: ln(11)+2 ≈ 4.40

    prior dominates in both (documents the scoring shape); an alias with no
    competing high-prior candidate links to its low-prior canonical.
    """
    from quickner_spark.kg.link import alias_table_from_gazetteer, link_mentions

    docs = spark.createDataFrame(
        [("a", "hash only here"), ("b", "hash join target"),
         ("c", "acme rocks")],
        "doc_id string, text string")
    mentions = spark.createDataFrame(
        [("a", 0, 4, "hash"), ("b", 0, 4, "hash"), ("c", 0, 4, "acme")],
        "doc_id string, start long, end long, surface string")
    al = alias_table_from_gazetteer(
        spark, [("hash", "KW"), ("hash join", "OP"), ("widget", "ORG")],
        extra_aliases={"hash join": ["hash"], "widget": ["acme"]})
    # surface "acme" reaches canonical "widget" only via its prior-10 alias
    out = {r["doc_id"]: r for r in link_mentions(mentions, docs, al).collect()}
    assert out["a"]["canonical_id"] == "hash"
    assert out["b"]["canonical_id"] == "hash"
    assert out["b"]["score"] > out["a"]["score"] - 1e-9  # overlap never hurts
    assert out["c"]["canonical_id"] == "widget"          # low-prior only path
    assert abs(out["a"]["score"] - (5.61512051684126)) < 1e-9


def test_link_optimized_plan_matches_naive(spark):
    """Differential guard for the scale-shaped link plan (argmax per
    (doc, alias) + vocab-filtered overlap): compare against a literal
    per-mention implementation — token-set intersection per (mention,
    candidate), max by (score, canonical_id) — on a deterministic fixture
    with multi-candidate aliases, repeated surfaces, and mentions whose
    candidates share tokens with the doc."""
    import itertools
    import math

    from quickner_spark.kg.link import alias_table_from_gazetteer, link_mentions

    gaz = [("acme systems", "ORG"), ("acme", "ORG"), ("beta", "ORG"),
           ("gamma works", "ORG")]
    extra = {"acme systems": ["acme", "asys"], "gamma works": ["beta"]}
    words = ["acme", "systems", "beta", "works", "gamma", "zeta", "q"]
    docs = []
    for i, combo in enumerate(itertools.combinations(words, 4)):
        docs.append((f"d{i}", " ".join(combo)))
    mentions = []
    for doc_id, text in docs:
        toks = text.split(" ")
        pos = 0
        for t in toks:
            if t in ("acme", "beta", "asys"):
                mentions.append((doc_id, pos, pos + len(t), t))
            pos += len(t) + 1
    mdf = spark.createDataFrame(
        mentions, "doc_id string, start long, end long, surface string")
    ddf = spark.createDataFrame(docs, "doc_id string, text string")
    al = alias_table_from_gazetteer(spark, gaz, extra)
    got = {(r["doc_id"], r["start"], r["end"]):
           (r["canonical_id"], r["label"], round(r["score"], 9))
           for r in link_mentions(mdf, ddf, al).collect()}
    # naive oracle in plain Python
    alias_rows = [(r["alias"], r["canonical_id"], r["label"], r["prior"])
                  for r in al.collect()]
    texts = dict(docs)
    exp = {}
    for doc_id, start, end, surface in mentions:
        toks = set(texts[doc_id].lower().split(" "))
        best = None
        for alias, cid, lab, prior in alias_rows:
            if alias != surface.lower():
                continue
            ov = len(toks & set(cid.replace("_", " ").split(" ")))
            score = math.log1p(prior) + ov
            key = (score, cid)
            if best is None or key > best[0]:
                best = (key, cid, lab, score)
        if best:
            exp[(doc_id, start, end)] = (best[1], best[2], round(best[3], 9))
    assert got == exp and len(got) > 20


def test_link_empty_alias_table(spark):
    """An empty alias table must yield an empty, correctly-typed result —
    not an AnalysisException from a zero-length literal array (the old
    F.lit([]) vocab produced array<void>)."""
    from quickner_spark.kg.link import link_mentions

    docs = spark.createDataFrame([("a", "hash only here")],
                                 "doc_id string, text string")
    mentions = spark.createDataFrame([("a", 0, 4, "hash")],
                                     "doc_id string, start long, end long, surface string")
    empty_al = spark.createDataFrame(
        [], "alias string, canonical_id string, label string, prior int")
    out = link_mentions(mentions, docs, empty_al)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "start", "end", "surface", "canonical_id", "label", "score"]


def test_link_large_alias_table_plan_builds_fast(spark):
    """The profile vocabulary must travel as broadcast data, not as a plan
    literal: with 100k aliases the logical plan (and codegen) stays
    constant-size, so building + explaining the plan is quick. The old
    F.lit(vocab) form embedded ~100k strings into the plan tree."""
    import time

    from quickner_spark.kg.link import link_mentions

    big_al = spark.range(100_000).selectExpr(
        "concat('alias', id) AS alias",
        "concat('canon_', id, '_tok', id % 997) AS canonical_id",
        "'ORG' AS label", "CAST(10 AS INT) AS prior")
    docs = spark.createDataFrame([("a", "alias1 and canon text")],
                                 "doc_id string, text string")
    mentions = spark.createDataFrame([("a", 0, 6, "alias1")],
                                     "doc_id string, start long, end long, surface string")
    t0 = time.monotonic()
    out = link_mentions(mentions, docs, big_al)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    build_s = time.monotonic() - t0
    assert build_s < 20, f"plan build took {build_s:.1f}s (plan bloat?)"
    # the vocabulary must NOT appear inline in the optimized plan
    assert "canon_99999" not in plan
    assert out.count() == 1


def test_bucket_mode_table_unknown_stage_raises_value_error(spark, tmp_path):
    """In bucket mode, table() on a name that is not a pipeline stage must
    raise a ValueError naming the valid stages — not a bare StopIteration
    (which turns into RuntimeError inside generators)."""
    from quickner_spark.kg.pipeline import Pipeline, Stage

    p = Pipeline(spark, str(tmp_path / "vt"),
                 [Stage("extract", lambda s, c: None)],
                 bucket=("url", 4), table_prefix="vt")
    with pytest.raises(ValueError, match="unknown stage 'tyops'.*extract"):
        p.table("tyops")


def test_fused_extract_annotate_row_identical(spark, pages_path, pipe,
                                              tmp_path):
    """fuse=False (separate extract + annotate stages) must produce
    row-identical mentions/extract-text/triples to the fused default —
    the fused pass is a bandwidth optimization, never a semantic change."""
    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p2 = build_kg_pipeline(spark, str(tmp_path / "unfused"), pages_path,
                           gaz, corpus.PREDICATES, fuse=False)
    p2.run()
    for st, cols in (("extract", ["url", "text"]),
                     ("mentions", None), ("triples", None), ("edges", None),
                     ("aliases", None), ("nodes", None)):
        a_df, b_df = pipe.table(st), p2.table(st)
        sel = cols or sorted(set(a_df.columns) & set(b_df.columns))
        a, b = ({tuple(tuple(v) if isinstance(v, list) else v for v in r)
                 for r in df.select(*sel).collect()} for df in (a_df, b_df))
        assert a == b and a, st

    # the in-row link (fused) vs the relational link_mentions (unfused):
    # all 7 columns, score compared as the exact double, as a multiset
    from collections import Counter
    link_cols = ["url", "start", "end", "surface", "canonical_id", "label",
                 "score"]
    assert pipe.table("linked").columns == link_cols
    fused_l = Counter(tuple(r) for r in pipe.table("linked").collect())
    unfused_l = Counter(tuple(r) for r in
                        p2.table("linked").select(*link_cols).collect())
    assert fused_l == unfused_l and len(fused_l) > 100

    # driver canonicalization == the Spark similarity-join oracle on the
    # pipeline's own alias set
    from tests.canon_oracle import canonicalize_aliases_spark
    surfaces = pipe.table("linked").selectExpr("surface AS alias").distinct()
    assert {tuple(r) for r in pipe.table("aliases").collect()} == \
        {tuple(r) for r in canonicalize_aliases_spark(surfaces).collect()}

    # the fused stage's in-row maximal flag must equal the anti-join
    # operator's longest-match decision exactly
    cols5 = ["url", "start", "end", "label", "surface"]
    from quickner_spark.operators.annotate import maximal_mentions
    flagged = {tuple(r) for r in pipe.table("mentions")
               .where("maximal").select(*cols5).collect()}
    op = {tuple(r) for r in
          maximal_mentions(p2.table("mentions"), id_col="url")
          .select(*cols5).collect()}
    assert flagged == op

    # the nxt-window predicate test (no document join) must produce the
    # same triples as the generic text-joining operator
    from quickner_spark.kg.triples import pattern_triples, window_triples
    mx = pipe.table("mentions").where("maximal")
    wt = {tuple(r) for r in
          window_triples(mx, corpus.PREDICATES, id_col="url").collect()}
    pt = {tuple(r) for r in
          pattern_triples(mx.drop("maximal", "nxt"), pipe.table("extract"),
                          corpus.PREDICATES, id_col="url").collect()}
    assert wt == pt and len(wt) > 0


def _inrow_vs_relational(spark, gaz, texts, case_sensitive=False):
    """Linked rows of the fused in-row link and of link_mentions over the
    same extract, both as sorted lists of (url, start, end, surface,
    canonical_id, label, score)."""
    from quickner_spark.kg.extract import (extract_annotate_stage,
                                           mentions_from_spans)
    from quickner_spark.kg.link import (alias_table_from_gazetteer,
                                        link_mentions, linked_from_spans)
    from quickner_spark.operators.annotate import normalize_gazetteer

    gaz = normalize_gazetteer(gaz, case_sensitive=case_sensitive)
    pages = spark.createDataFrame(
        [(f"u{i}", corpus.page_html(t, f"u{i}")) for i, t in enumerate(texts)],
        "url string, html binary")
    ext = extract_annotate_stage(pages, gaz, case_sensitive=case_sensitive)
    ext = ext.localCheckpoint()
    inrow = sorted(tuple(r) for r in linked_from_spans(ext).collect())
    rel = sorted(tuple(r) for r in link_mentions(
        mentions_from_spans(ext), ext.select("url", "text"),
        alias_table_from_gazetteer(spark, gaz), id_col="url").collect())
    return inrow, rel


def test_inrow_link_cases(spark):
    """In-row link edge cases, each against link_mentions: one name under
    two labels (both spans link to the max label), ties on overlap broken
    by canonical_id then label, and overlap beating the canonical order."""
    import math

    def won(rows):
        # (url, start) -> (canonical_id, label, overlap)
        return {(r[0], r[1]): (r[4], r[5], round(r[6] - math.log1p(100), 9))
                for r in rows}

    # one name, two labels: two spans, both linked to (acme, PROD)
    inrow, rel = _inrow_vs_relational(
        spark, [("acme", "ORG"), ("acme", "PROD"), ("beta", "ORG")],
        ["acme sells beta ."])
    assert inrow == rel and len(inrow) == 3
    assert [r[4:6] for r in inrow] == [("acme", "PROD")] * 2 + [("beta", "ORG")]

    # case-sensitive gazetteer: several canonicals share one lowered
    # alias. Document tokens are lowered, canonical tokens are not.
    gaz = [("ab CD", "X"), ("AB cd", "Y"), ("AB CD", "Z"), ("AB CD", "A")]
    inrow, rel = _inrow_vs_relational(
        spark, gaz, ["AB CD here", "(AB cd here", "x ab CD."],
        case_sensitive=True)
    assert inrow == rel
    assert won(inrow) == {
        # tokens {ab, cd, here}: ab_CD 1, AB_cd 1, AB_CD 0 -> the tie on
        # 1 goes to the max canonical
        ("u0", 0): ("ab_CD", "X", 1),
        # tokens {(ab, cd, here}: AB_cd 1 beats ab_CD 0 although ab_CD
        # sorts higher
        ("u1", 1): ("AB_cd", "Y", 1),
        # tokens {x, ab, cd.}: ab_CD 1
        ("u2", 2): ("ab_CD", "X", 1)}
    # all-zero overlap: canonical AB_CD under two labels -> max label
    inrow, rel = _inrow_vs_relational(
        spark, [("AB CD", "Z"), ("AB CD", "A")], ["(AB CD)"],
        case_sensitive=True)
    assert inrow == rel and len(inrow) == 2
    assert won(inrow) == {("u0", 1): ("AB_CD", "Z", 0)}


def test_zero_hit_corpus_commits_readable_stages(spark, pipe, tmp_path):
    """Pages with no gazetteer hit: every stage still commits a readable
    table with the same columns and types as a non-empty build."""
    path = str(tmp_path / "nohit_pages")
    spark.createDataFrame(
        [(f"u{i}", corpus.page_html(t, f"u{i}"), t, "en") for i, t in
         enumerate(["nothing to see here .", "still no entities ."])],
        "url string, html binary, text string, lang string"
    ).write.parquet(path)
    p = build_kg_pipeline(spark, str(tmp_path / "nohit"), path,
                          corpus.synth_gazetteer(GAZ_SIZE, SEED),
                          corpus.PREDICATES)
    status = p.run()
    assert set(status.values()) == {"ran"}, status
    for st in ("extract", "mentions", "linked", "triples", "aliases",
               "nodes", "edges"):
        got = p.table(st)
        assert {(f.name, f.dataType.simpleString()) for f in got.schema} \
            == {(f.name, f.dataType.simpleString())
                for f in pipe.table(st).schema}, st
        assert got.count() == (2 if st == "extract" else 0), st


def test_maximal_flags_property():
    """The O(k log k) sweep must replicate the anti-join containment rule
    exactly, including the identical-interval edge (same (start, end)
    under two labels is NOT a container). Differential vs the O(k^2)
    literal restatement of maximal_mentions' join condition."""
    from hypothesis import given, settings, strategies as st

    from quickner_spark.kg.extract import _maximal_flags

    def brute(spans):
        out = []
        for i, (s, e, _) in enumerate(spans):
            contained = any(
                bs <= s and e <= be and (bs != s or be != e)
                for j, (bs, be, _) in enumerate(spans) if j != i)
            out.append(not contained)
        return out

    span = st.tuples(st.integers(0, 30), st.integers(1, 15), st.just("L")) \
        .map(lambda t: (t[0], t[0] + t[1], t[2]))

    @settings(max_examples=300, deadline=None)
    @given(st.lists(span, max_size=12))
    def check(spans):
        assert _maximal_flags(spans) == brute(spans)

    check()

    # pinned edges: identical intervals keep each other; equal-end with
    # earlier start contains; equal-start longer contains
    assert _maximal_flags([(0, 5, "A"), (0, 5, "B")]) == [True, True]
    assert _maximal_flags([(2, 5, "A"), (0, 5, "B")]) == [False, True]
    assert _maximal_flags([(0, 5, "A"), (0, 3, "B")]) == [True, False]
    assert _maximal_flags([(0, 3, "A"), (2, 5, "B")]) == [True, True]


def test_empty_predicates_fused_pipeline(spark, pages_path, tmp_path):
    """build_kg_pipeline(..., predicates=(), fuse=True) must run end to
    end: at window=0 the fused extract emits no nxt field, the mentions
    stage must not select it, and the triples stage short-circuits to a
    typed empty result (no zero-element struct array reaches analysis)."""
    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p = build_kg_pipeline(spark, str(tmp_path / "nopred"), pages_path, gaz,
                          predicates=(), fuse=True)
    status = p.run()
    assert all(v == "ran" for v in status.values()), status
    m = p.table("mentions")
    assert m.count() > 0
    assert "nxt" not in m.columns
    t = p.table("triples")
    assert t.count() == 0
    assert set(t.columns) == {"url", "subj", "pred", "obj",
                              "subj_start", "obj_start"}
    # nodes/edges still materialize (edges empty, nodes from linked)
    assert p.table("nodes").count() > 0
    assert p.table("edges").count() == 0


def test_bucket_spec_record_guards_reregistration(spark, pages_path,
                                                  tmp_path):
    """The writer persists the bucket/sort layout next to the committed
    data; re-registration after a metastore loss must declare the RECORDED
    spec (not the in-code Stage), fall back to no SORTED BY when the
    record is absent (legacy data), and refuse a bucket-key/N mismatch."""
    import json
    import os

    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    base = str(tmp_path / "bspec")
    mk = lambda bucket=("url", 4): build_kg_pipeline(
        spark, base, pages_path, gaz, corpus.PREDICATES,
        bucket=bucket, table_prefix="tspec")
    spec_path = os.path.join(base, "mentions", "_bucket_spec.json")
    crc_path = os.path.join(base, "mentions", "._bucket_spec.json.crc")

    def drop_crc() -> None:
        # tampering with plain open() invalidates the Hadoop local-FS
        # checksum sidecar the writer created — remove it
        if os.path.exists(crc_path):
            os.remove(crc_path)

    def sort_cols(tbl: str) -> str:
        rows = spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
        return next((r[1] for r in rows if r[0] == "Sort Columns"), "")

    def drop_all() -> None:
        for st in ("extract", "mentions", "linked", "triples", "aliases",
                   "nodes", "edges"):
            spark.sql(f"DROP TABLE IF EXISTS tspec_{st}")

    try:
        mk().run()
        with open(spec_path) as fh:
            rec = json.load(fh)
        assert rec == {"bucketed": True, "key": "url", "n": 4,
                       "sort": ["url", "start"]}

        # (1) data written under an OLDER sort spec (url only): the
        # re-registration must declare url-only, not today's (url, start)
        with open(spec_path, "w") as fh:
            json.dump({"bucketed": True, "key": "url", "n": 4,
                       "sort": ["url"]}, fh)
        drop_crc()
        drop_all()
        p2 = mk()
        assert p2.table("mentions").count() > 0  # triggers re-register
        cols = sort_cols("tspec_mentions")
        assert "url" in cols and "start" not in cols, cols

        # (2) no record at all (pre-record data): bucketing is declared
        # (file names carry it), the unknown sort order is NOT
        os.remove(spec_path)
        drop_crc()
        drop_all()
        p3 = mk()
        assert p3.table("mentions").count() > 0
        assert sort_cols("tspec_mentions") in ("", "[]")
        rows = spark.sql("DESCRIBE EXTENDED tspec_mentions").collect()
        assert any(r[0] == "Num Buckets" for r in rows)

        # (3) record contradicts this pipeline's bucket spec -> refuse
        with open(spec_path, "w") as fh:
            json.dump({"bucketed": True, "key": "url", "n": 8,
                       "sort": ["url", "start"]}, fh)
        drop_crc()
        drop_all()
        p4 = mk(bucket=("url", 4))
        with pytest.raises(ValueError, match="bucketed as"):
            p4.table("mentions")
    finally:
        drop_all()


def test_restore_session_confs(spark, pages_path, tmp_path):
    """Bucket mode tunes two session confs and documents the leak; the
    restore hook must put back the pre-pipeline values (including unset)."""
    k_ord = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    k_auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior_ord = spark.conf.get(k_ord, None)
    prior_auto = spark.conf.get(k_auto, None)
    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p = build_kg_pipeline(spark, str(tmp_path / "cres"), pages_path, gaz,
                          corpus.PREDICATES, bucket=("url", 4),
                          table_prefix="tcres")
    try:
        p.run()
        assert spark.conf.get(k_ord) == "true"
        assert spark.conf.get(k_auto) == "false"
        p.restore_session_confs()
        assert spark.conf.get(k_ord, None) == prior_ord
        assert spark.conf.get(k_auto, None) == prior_auto
    finally:
        for st in ("extract", "mentions", "linked", "triples", "aliases",
                   "nodes", "edges"):
            spark.sql(f"DROP TABLE IF EXISTS tcres_{st}")
        if prior_ord is None:
            spark.conf.unset(k_ord)
        if prior_auto is None:
            spark.conf.unset(k_auto)
