"""End-to-end north-rule pipeline test: synthetic pages -> extract ->
mentions -> link -> triples -> canonicalize -> nodes/edges, with
byte-identical extraction, triple-level P/R >= 0.95 vs the generator's
ground truth, resumability, and per-partition metrics."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from quickner_spark.kg import corpus
from quickner_spark.kg.extract import extract_stage
from quickner_spark.kg.link import linked_from_spans
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
    for stage in ("extract", "mentions", "triples", "aliases", "nodes",
                  "edges"):
        assert pipe.table(stage).count() > 0
    # the linked spans are read from extract, never committed
    assert linked_from_spans(pipe.table("extract")).count() > 0
    assert not os.path.exists(pipe.path("linked"))


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
    linked = linked_from_spans(pipe.table("extract"))
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


def test_table_reads_back_with_written_schema(spark, pipe, job_ids):
    """table() reads a stage this Pipeline wrote under the schema it was
    written with: no schema-inference job, and the columns, types and
    order of an inferred read — partition columns last."""
    for st, part in (("mentions", "label"), ("triples", "pred"),
                     ("edges", "pred")):
        before = job_ids()
        got = pipe.table(st)
        assert not job_ids() - before, st
        assert got.schema == spark.read.parquet(pipe.path(st)).schema, st
        assert got.columns[-1] == part, st


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


def test_fused_extract_annotate_row_identical(spark, pages_path, pipe,
                                              tmp_path):
    """The fused pipeline must produce row-identical tables to the
    relational oracle pipeline (tests/kg_oracle.py: separate extract and
    annotate passes, link_mentions, the maximal_mentions anti-join and
    pattern_triples) — the fused pass is a bandwidth optimization, never
    a semantic change. Every table compares as a multiset."""
    from collections import Counter

    from tests.kg_oracle import build_oracle_pipeline

    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p2 = build_oracle_pipeline(spark, str(tmp_path / "oracle"), pages_path,
                               gaz, corpus.PREDICATES)
    p2.run()

    def bag(df, cols):
        return Counter(tuple(tuple(v) if isinstance(v, list) else v
                             for v in r)
                       for r in df.select(*cols).collect())

    cols5 = ["url", "start", "end", "label", "surface"]
    for st, cols in (("extract", ["url", "text"]), ("mentions", cols5),
                     ("triples", None), ("aliases", None), ("nodes", None),
                     ("edges", None)):
        a_df, b_df = pipe.table(st), p2.table(st)
        if cols is None:  # the whole table: same columns on both sides
            cols = sorted(a_df.columns)
            assert sorted(b_df.columns) == cols, st
        a, b = bag(a_df, cols), bag(b_df, cols)
        assert a == b and a, st

    # the in-row link vs the relational link_mentions: all 7 columns,
    # score compared as the exact double
    link_cols = ["url", "start", "end", "surface", "canonical_id", "label",
                 "score"]
    fused_linked = linked_from_spans(pipe.table("extract"))
    assert fused_linked.columns == link_cols
    fused_l = bag(fused_linked, link_cols)
    assert fused_l == bag(p2.table("linked"), link_cols)
    assert len(fused_l) > 100

    # driver canonicalization == the Spark similarity-join oracle on the
    # pipeline's own alias set
    from tests.canon_oracle import canonicalize_aliases_spark
    surfaces = fused_linked.selectExpr("surface AS alias").distinct()
    assert {tuple(r) for r in pipe.table("aliases").collect()} == \
        {tuple(r) for r in canonicalize_aliases_spark(surfaces).collect()}

    # the fused stage's in-row maximal flag must equal the anti-join
    # operator's longest-match decision exactly
    from quickner_spark.operators.annotate import maximal_mentions
    flagged = {tuple(r) for r in pipe.table("mentions")
               .where("maximal").select(*cols5).collect()}
    op = {tuple(r) for r in
          maximal_mentions(p2.table("mentions"), id_col="url")
          .select(*cols5).collect()}
    assert flagged == op

    # both relational forms over the maximal mentions — the text-joining
    # operator and the window rule over a relationally attached nxt —
    # equal the fused in-row triples table, as multisets
    from quickner_spark.kg.triples import pattern_triples, window_triples
    from tests.kg_oracle import attach_nxt
    mx = pipe.table("mentions").where("maximal").drop("maximal")
    ext = pipe.table("extract")
    tcols = ["url", "subj", "pred", "obj", "subj_start", "obj_start"]
    pt = bag(pattern_triples(mx, ext, corpus.PREDICATES, id_col="url"),
             tcols)
    wt = bag(window_triples(attach_nxt(mx, ext, corpus.PREDICATES),
                            corpus.PREDICATES, id_col="url"), tcols)
    assert pt == wt == bag(pipe.table("triples"), tcols) and pt


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


def _inrow_vs_window(spark, gaz, texts, predicates, case_sensitive=False):
    """Triples of the fused extract (``triples_from_spans``) and of
    ``window_triples`` over the ``maximal_mentions`` of the same spans,
    ``nxt`` attached relationally as q35 does: both as Counters of full
    provenance rows, after asserting equal column names and types."""
    from collections import Counter

    from quickner_spark.kg.extract import (extract_annotate_stage,
                                           mentions_from_spans)
    from quickner_spark.kg.triples import triples_from_spans, window_triples
    from quickner_spark.operators.annotate import (maximal_mentions,
                                                   normalize_gazetteer)
    from tests.kg_oracle import attach_nxt

    gaz = normalize_gazetteer(gaz, case_sensitive=case_sensitive)
    pages = spark.createDataFrame(
        [(f"u{i}", corpus.page_html(t, f"u{i}")) for i, t in enumerate(texts)],
        "url string, html binary")
    ext = extract_annotate_stage(pages, gaz, case_sensitive=case_sensitive,
                                 predicates=predicates).localCheckpoint()
    fused = triples_from_spans(ext)
    mx = maximal_mentions(mentions_from_spans(ext).drop("maximal"),
                          id_col="url")
    rel = window_triples(attach_nxt(mx, ext, predicates,
                                    lower_text=not case_sensitive),
                         predicates, id_col="url")
    assert [(f.name, f.dataType) for f in fused.schema] == \
        [(f.name, f.dataType) for f in rel.schema]
    return (Counter(tuple(r) for r in fused.collect()),
            Counter(tuple(r) for r in rel.collect()))


def test_inrow_triples_cases(spark):
    """In-row triples edge cases, each against window_triples over the
    maximal mentions: one surface under two labels (one triple per
    subject row and object row), non-maximal subject and object, chained
    predicates, a predicate or object at the end of the text,
    case-sensitive matching and the empty predicate tuple."""
    gaz = [("acme", "ORG"), ("acme", "PROD"), ("beta", "ORG"),
           ("gamma", "ORG")]
    texts = ["acme owns beta buys gamma",  # two labels; chained; obj at end
             "beta owns acme .",           # object under two labels
             "gamma owns",                 # predicate at the end
             "gamma owns  beta"]           # object one char too far
    fused, rel = _inrow_vs_window(spark, gaz, texts, ("owns", "buys"))
    assert fused == rel
    assert fused == {("u0", "acme", "owns", "beta", 0, 10): 2,
                     ("u0", "beta", "buys", "gamma", 10, 20): 1,
                     ("u1", "beta", "owns", "acme", 0, 10): 2}

    # the empty predicate tuple: typed, empty on both sides
    fused, rel = _inrow_vs_window(spark, gaz, texts, ())
    assert fused == rel == {}

    # 'acme' and 'beta' are strictly inside the maximal 'acme owns beta':
    # neither is a subject or an object
    fused, rel = _inrow_vs_window(
        spark, [("acme owns beta", "X"), ("acme", "ORG"), ("beta", "ORG"),
                ("delta", "ORG")],
        ["acme owns beta owns delta"], ("owns",))
    assert fused == rel == {("u0", "acme owns beta", "owns", "delta", 0, 20): 1}

    # case-sensitive: names and predicates match the raw text's case
    fused, rel = _inrow_vs_window(
        spark, [("Acme", "ORG"), ("Beta", "ORG"), ("beta", "ORG")],
        ["Acme owns Beta", "Acme Owns Beta", "acme owns beta"], ("owns",),
        case_sensitive=True)
    assert fused == rel == {("u0", "Acme", "owns", "Beta", 0, 10): 1}


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

    def table(pl, st):  # the linked spans are an explode, not a stage
        return (linked_from_spans(pl.table("extract")) if st == "linked"
                else pl.table(st))

    for st in ("extract", "mentions", "linked", "triples", "aliases",
               "nodes", "edges"):
        got = table(p, st)
        assert {(f.name, f.dataType.simpleString()) for f in got.schema} \
            == {(f.name, f.dataType.simpleString())
                for f in table(pipe, st).schema}, st
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
    """build_kg_pipeline(..., predicates=()) must run end to end: the
    fused extract emits empty triples arrays, and the triples stage still
    commits a readable, typed, empty table."""
    gaz = corpus.synth_gazetteer(GAZ_SIZE, SEED)
    p = build_kg_pipeline(spark, str(tmp_path / "nopred"), pages_path, gaz,
                          predicates=())
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
