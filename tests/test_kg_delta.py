"""Incremental snapshot updates (kg/delta.py): delta == full rebuild.

The contract under test: after any sequence of snapshot updates, the
store's nodes/edges/current_triples/current_mentions are ROW-IDENTICAL to
a from-scratch ``build_kg_pipeline`` run over the merged latest corpus —
while the doc-local stages only ever processed the changed pages (the
``changed`` counter in the update stats)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from quickner_spark.kg import corpus
from quickner_spark.kg.delta import SnapshotKg, snapshot_delta
from quickner_spark.kg.extract import mentions_from_spans
from quickner_spark.kg.pipeline import build_kg_pipeline

N_DOCS = 120
N_NEW = 30
SEED = 42
GAZ_SIZE = 120


def _row_set(df, cols=None):
    cols = cols or sorted(df.columns)
    return {tuple(r[c] if not isinstance(r[c], list) else tuple(r[c])
                  for c in cols)
            for r in df.select(*cols).collect()}


@pytest.fixture(scope="module")
def gaz():
    return corpus.synth_gazetteer(GAZ_SIZE, SEED)


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory, gaz):
    """Snapshot A: docs 0..N. Snapshot B: same urls, where docs
    0,10,20,... carry CHANGED text (regenerated from a shifted doc index)
    plus N_NEW brand-new docs; the rest byte-identical. Returns parquet
    paths (a, b, merged) + the changed/new url sets."""
    root = tmp_path_factory.mktemp("snaps")
    a_path = str(root / "a")
    corpus.synth_pages(spark, N_DOCS, seed=SEED, gaz_size=GAZ_SIZE,
                       partitions=4).write.parquet(a_path)
    a_rows = spark.read.parquet(a_path).collect()
    by_url = {r["url"]: r.asDict() for r in a_rows}

    changed_urls, rows_b = set(), []
    for r in a_rows:
        d = r.asDict()
        i = int(d["url"].rsplit("/", 1)[1])
        if i % 10 == 0:
            text, _ = corpus.page_text(i + 50_000, gaz, SEED)
            d["text"] = text
            d["html"] = corpus.page_html(text, f"doc {i}")
            changed_urls.add(d["url"])
        rows_b.append(d)
    new_urls = set()
    for i in range(N_DOCS, N_DOCS + N_NEW):
        text, _ = corpus.page_text(i, gaz, SEED)
        url = f"https://new.example/doc/{i}"
        new_urls.add(url)
        rows_b.append({"url": url,
                       "warc_ts": dt.datetime(2024, 6, 1),
                       "html": corpus.page_html(text, f"doc {i}"),
                       "text": text, "lang": "en"})
    schema = spark.read.parquet(a_path).schema
    b_path = str(root / "b")
    spark.createDataFrame(rows_b, schema).write.parquet(b_path)

    # merged latest corpus = B's content for every url in B, plus any
    # url only in A (none here — B is a full recrawl superset)
    merged = {**by_url, **{d["url"]: d for d in rows_b}}
    m_path = str(root / "merged")
    spark.createDataFrame(list(merged.values()), schema).write.parquet(m_path)
    return {"a": a_path, "b": b_path, "merged": m_path,
            "changed": changed_urls, "new": new_urls}


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory, gaz, snapshots):
    kg = SnapshotKg(spark, str(tmp_path_factory.mktemp("store") / "kg"),
                    gaz, corpus.PREDICATES)
    s0 = kg.update(spark.read.parquet(snapshots["a"]))
    s1 = kg.update(spark.read.parquet(snapshots["b"]))
    return kg, s0, s1


@pytest.fixture(scope="module")
def rebuild(spark, tmp_path_factory, gaz, snapshots):
    p = build_kg_pipeline(spark,
                          str(tmp_path_factory.mktemp("rebuild") / "out"),
                          snapshots["merged"], gaz, corpus.PREDICATES)
    p.run()
    return p


def test_update_stats_count_only_changed(store, snapshots):
    _, s0, s1 = store
    assert s0 == {"snap": 0, "pages_in": N_DOCS, "changed": N_DOCS,
                  "committed": True}
    assert s1["snap"] == 1 and s1["committed"]
    assert s1["pages_in"] == N_DOCS + N_NEW
    assert s1["changed"] == len(snapshots["changed"]) + N_NEW


def test_snap0_matches_batch_pipeline(spark, store, snapshots, gaz,
                                      tmp_path_factory):
    kg, _, _ = store
    p = build_kg_pipeline(spark,
                          str(tmp_path_factory.mktemp("p0") / "out"),
                          snapshots["a"], gaz, corpus.PREDICATES)
    p.run()
    m0 = (spark.read.parquet(f"{kg.base}/mentions/snap=0"))
    batch_m = mentions_from_spans(p.table("extract"))
    assert _row_set(m0) == _row_set(batch_m)
    assert batch_m.dtypes == m0.dtypes
    # one table shape: the batch tables carry the store's columns, in
    # the store's order, with its types
    for table, stored in (("triples", "triples/snap=0"),
                          ("linked_stats", "linked_stats/v0"),
                          ("edges", "edges/v0")):
        assert (spark.read.parquet(p.path(table)).dtypes
                == spark.read.parquet(f"{kg.base}/{stored}").dtypes), table
    # ... and one count: the store's snapshot-0 linked_stats is the batch
    # build's
    assert _row_set(p.table("linked_stats")) == \
        _row_set(spark.read.parquet(f"{kg.base}/linked_stats/v0"))


def test_delta_nodes_equal_full_rebuild(store, rebuild):
    kg, _, _ = store
    assert _row_set(kg.nodes()) == _row_set(rebuild.table("nodes"))
    assert kg.nodes().count() > 0


def test_delta_edges_equal_full_rebuild(store, rebuild):
    kg, _, _ = store
    assert _row_set(kg.edges()) == _row_set(rebuild.table("edges"))
    assert kg.edges().count() > 0


def test_delta_current_triples_equal_full_rebuild(store, rebuild):
    kg, _, _ = store
    cols = ["url", "subj", "pred", "obj", "subj_start", "obj_start"]
    assert _row_set(kg.current_triples(), cols) == \
        _row_set(rebuild.table("triples"), cols)


def test_delta_current_mentions_equal_full_rebuild(store, rebuild):
    kg, _, _ = store
    cols = ["url", "start", "end", "label", "surface", "maximal"]
    assert _row_set(kg.current_mentions(), cols) == \
        _row_set(mentions_from_spans(rebuild.table("extract")), cols)


def test_asof_views_reproduce_earlier_snapshot(spark, store, snapshots,
                                                gaz, tmp_path_factory):
    """Time travel: snap=0 views equal a batch build over corpus A alone,
    while default views reflect snapshot 1 — both from ONE store."""
    kg, _, _ = store
    p = build_kg_pipeline(spark,
                          str(tmp_path_factory.mktemp("asof0") / "out"),
                          snapshots["a"], gaz, corpus.PREDICATES)
    p.run()
    mcols = ["url", "start", "end", "label", "surface", "maximal"]
    assert _row_set(kg.current_mentions(snap=0), mcols) == \
        _row_set(mentions_from_spans(p.table("extract")), mcols)
    tcols = ["url", "subj", "pred", "obj", "subj_start", "obj_start"]
    assert _row_set(kg.current_triples(snap=0), tcols) == \
        _row_set(p.table("triples"), tcols)
    assert _row_set(kg.nodes(snap=0)) == _row_set(p.table("nodes"))
    assert _row_set(kg.edges(snap=0)) == _row_set(p.table("edges"))
    # as-of the CURRENT snapshot == the default views, and they differ
    # from snapshot 0 (corpus B changed pages)
    assert _row_set(kg.nodes(snap=kg.snap())) == _row_set(kg.nodes())
    assert _row_set(kg.current_triples(snap=0), tcols) != \
        _row_set(kg.current_triples(), tcols)


def test_asof_rejects_out_of_range_snapshot(store):
    kg, _, _ = store
    with pytest.raises(ValueError, match="outside committed range"):
        kg.nodes(snap=99)
    with pytest.raises(ValueError, match="outside committed range"):
        kg.current_mentions(snap=-1)


def test_only_changed_urls_in_delta_partitions(spark, store, snapshots):
    kg, _, _ = store
    urls = {r["url"] for r in
            spark.read.parquet(f"{kg.base}/mentions/snap=1")
            .select("url").distinct().collect()}
    assert urls <= (snapshots["changed"] | snapshots["new"])


def test_noop_update_commits_nothing(spark, store, snapshots):
    kg, _, _ = store
    before = kg.snap()
    s = kg.update(spark.read.parquet(snapshots["b"]))
    assert s == {"snap": before, "pages_in": N_DOCS + N_NEW, "changed": 0,
                 "committed": False}
    assert kg.snap() == before


def test_updates_lineage_rows(store, snapshots):
    kg, _, _ = store
    rows = {(r["snap"], r["changed"], r["committed"])
            for r in kg.updates().collect()}
    assert (0, N_DOCS, True) in rows
    assert (1, len(snapshots["changed"]) + N_NEW, True) in rows


def test_compact_preserves_views(spark, store, rebuild):
    kg, _, _ = store
    cols = ["url", "subj", "pred", "obj", "subj_start", "obj_start"]
    before = _row_set(kg.current_triples(), cols)
    # a store written when the digests were still committed
    leftover = f"{kg.base}/digests/snap=0"
    kg.manifest().select("url", "digest").write.parquet(leftover)
    k = kg.compact()
    assert k == kg.snap()
    assert not os.path.exists(f"{kg.base}/digests")
    assert _row_set(kg.current_triples(), cols) == before
    snaps = {r["snap"] for r in kg.manifest().select("snap").collect()}
    assert snaps == {k}
    # history folded: a single snap partition remains
    snap_vals = {r["snap"] for r in
                 spark.read.parquet(f"{kg.base}/mentions")
                 .select("snap").distinct().collect()}
    assert snap_vals == {k}


def test_asof_raises_after_compact_folds_history(store):
    """compact() folded snaps 0..k into k: a doc-local time-travel read
    of the pre-compaction snapshot must raise, not return empty rows."""
    kg, _, _ = store
    with pytest.raises(ValueError, match="folded by compact"):
        kg.current_triples(snap=0).count()


def test_update_after_compact(spark, store, snapshots, gaz):
    kg, _, _ = store
    # change one more page after compaction: rewrite doc 3's content
    rows = spark.read.parquet(snapshots["b"]).collect()
    out = []
    for r in rows:
        d = r.asDict()
        if d["url"].endswith("/doc/3"):
            text, _ = corpus.page_text(77_777, gaz, SEED)
            d["text"], d["html"] = text, corpus.page_html(text, "doc 3")
        out.append(d)
    c = spark.createDataFrame(out, spark.read.parquet(snapshots["b"]).schema)
    s = kg.update(c)
    assert s["changed"] == 1 and s["committed"]
    assert kg.current_mentions().count() > 0


def test_surface_vanishes(spark, tmp_path):
    """A surface whose ONLY mention is replaced must leave the alias set,
    nodes and edges entirely (the n > 0 filter in merge_counts)."""
    gaz = [("acme", "ORG"), ("globex", "ORG")]
    preds = ("acquired",)

    def pages(rows):
        return spark.createDataFrame(
            [(u, corpus.page_html(t, u), t, "en") for u, t in rows],
            "url string, html binary, text string, lang string")

    kg = SnapshotKg(spark, str(tmp_path / "kg"), gaz, preds)
    s0 = kg.update(pages([("u1", "acme acquired globex ."),
                          ("u2", "acme ships today .")]))
    assert s0["changed"] == 2
    nodes0 = {r["canonical_id"]: r["n_mentions"]
              for r in kg.nodes().collect()}
    assert nodes0 == {"acme": 2, "globex": 1}
    assert {(r["src"], r["pred"], r["dst"], r["weight"])
            for r in kg.edges().collect()} == {("acme", "acquired",
                                                "globex", 1)}

    # replace u1: globex's only mention (and the only edge) disappears
    s1 = kg.update(pages([("u1", "acme is fine ."),
                          ("u2", "acme ships today .")]))
    assert s1["changed"] == 1
    nodes1 = {r["canonical_id"]: r["n_mentions"]
              for r in kg.nodes().collect()}
    assert nodes1 == {"acme": 2}
    assert kg.edges().count() == 0
    assert {r["alias"] for r in kg.aliases().collect()} == {"acme"}


def test_warc_ts_revisits_resolved_in_snapshot(spark, tmp_path):
    gaz = [("acme", "ORG")]
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("u1", t0, corpus.page_html("old acme .", "u1"), "old acme .", "en"),
         ("u1", t0 + dt.timedelta(1),
          corpus.page_html("new acme acme .", "u1"), "new acme acme .",
          "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    kg = SnapshotKg(spark, str(tmp_path / "kg"), gaz, ())
    s = kg.update(df)
    assert s["changed"] == 1  # one url after the arg-max dedup
    assert kg.nodes().collect()[0]["n_mentions"] == 2  # latest capture


def test_snapshot_delta_classification(spark):
    new = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "url string, digest long")
    old = spark.createDataFrame(
        [("a", 1, 0), ("b", 9, 0)], "url string, digest long, snap int")
    got = {(r["url"], r["status"], r["old_snap"])
           for r in snapshot_delta(new, old).collect()}
    assert got == {("b", "changed", 0), ("c", "new", None)}


def test_update_from_warc_snapshots(spark, tmp_path):
    """Two crawl snapshots arriving as WARC archives: snapshot 1 revisits
    one url (latest capture wins) and changes another; only the changed
    content is reprocessed."""
    from quickner_spark.sources.warc import (warc_record_bytes,
                                             write_warc_file)

    gaz = [("acme", "ORG"), ("globex", "ORG")]

    def arch(d, name, recs):
        d.mkdir(exist_ok=True)
        write_warc_file(str(d / name), [
            warc_record_bytes(u, ts, corpus.page_html(t, u))
            for u, ts, t in recs])

    s0_dir, s1_dir = tmp_path / "s0", tmp_path / "s1"
    arch(s0_dir, "a.warc.gz", [
        ("u1", "2024-01-01T00:00:00Z", "acme acquired globex ."),
        ("u2", "2024-01-01T00:00:00Z", "globex ships today .")])
    kg = SnapshotKg(spark, str(tmp_path / "kg"), gaz, ("acquired",))
    s0 = kg.update_from_warc(str(s0_dir))
    assert s0 == {"snap": 0, "pages_in": 2, "changed": 2,
                  "committed": True}

    # snapshot 1: u1 revisited twice (latest capture has different text),
    # u2 unchanged byte-identical recrawl
    arch(s1_dir, "b.warc.gz", [
        ("u1", "2024-06-01T00:00:00Z", "acme is quiet ."),
        ("u1", "2024-06-02T00:00:00Z", "acme acquired globex today ."),
        ("u2", "2024-06-01T00:00:00Z", "globex ships today .")])
    s1 = kg.update_from_warc(str(s1_dir))
    assert s1["changed"] == 1 and s1["committed"]  # u2 skipped
    got = {(r["subj"], r["pred"], r["obj"])
           for r in kg.current_triples().collect()}
    assert got == {("acme", "acquired", "globex")}


def test_alias_map_follows_alias_set(spark, tmp_path):
    """The canonical map is rederived on every update: an update that
    changes counts but not the alias SET keeps the same map, and one that
    shrinks the set drops the gone alias."""
    gaz = [("acme", "ORG"), ("globex", "ORG")]

    def pages(rows):
        return spark.createDataFrame(
            [(u, corpus.page_html(t, u), t, "en") for u, t in rows],
            "url string, html binary, text string, lang string")

    kg = SnapshotKg(spark, str(tmp_path / "kg"), gaz, ())
    kg.update(pages([("u1", "acme and globex ."), ("u2", "acme again .")]))
    # u2 changes but still mentions only acme: alias set unchanged
    kg.update(pages([("u1", "acme and globex ."),
                     ("u2", "acme acme twice .")]))
    assert {r["alias"] for r in kg.aliases().collect()} == {"acme", "globex"}
    assert {r["canonical_id"]: r["n_mentions"]
            for r in kg.nodes().collect()} == {"acme": 3, "globex": 1}
    # u1 drops globex: alias set shrinks -> recompute
    kg.update(pages([("u1", "acme alone ."),
                     ("u2", "acme acme twice .")]))
    assert {r["alias"] for r in kg.aliases().collect()} == {"acme"}


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, corpus.page_html(t, u), t, "en") for u, t in rows],
        "url string, html binary, text string, lang string")


def test_case_sensitive_mixed_case_gazetteer(spark, tmp_path):
    """SnapshotKg(case_sensitive=True) must match a mixed-case gazetteer
    (the fused pass keeps the text's case, like the patterns), and find
    what case_sensitive=False finds on this page. The linker quirk the
    in-row link keeps: canonical tokens are not lowered, so "Acme"
    overlaps no lowered document token and scores log1p(100) + 0."""
    import math

    from quickner_spark.kg.link import (alias_table_from_gazetteer,
                                        link_mentions)

    gaz = [("Acme", "ORG"), ("Globex", "ORG")]
    page = _pages(spark, [("u1", "Acme acquired Globex .")])
    got = {}
    for cs in (True, False):
        kg = SnapshotKg(spark, str(tmp_path / f"kg{cs}"), gaz,
                        ("acquired",), case_sensitive=cs)
        assert kg.update(page)["committed"]
        got[cs] = (kg.current_mentions().count(),
                   {(r["subj"], r["obj"])
                    for r in kg.current_triples().collect()},
                   {r["surface"]: round(r["score"] - math.log1p(100), 9)
                    for r in kg.current_linked().collect()})
        # the in-row link equals link_mentions on the committed extract
        ext = spark.read.parquet(f"{kg.base}/extract/snap=0")
        rel = link_mentions(mentions_from_spans(ext),
                            ext.select("url", "text"),
                            alias_table_from_gazetteer(spark, kg.gaz),
                            id_col="url")
        assert sorted(tuple(r) for r in kg.current_linked().collect()) == \
            sorted(tuple(r) for r in rel.collect())
    assert got[True] == (2, {("Acme", "Globex")},
                         {"Acme": 0, "Globex": 0})
    assert got[False] == (2, {("acme", "globex")},
                          {"acme": 1, "globex": 1})


def test_zero_hit_update_commits_readable_tables(spark, store, gaz, tmp_path):
    """An update whose pages hit no gazetteer name still commits every
    table readable, with the columns and types of a non-empty update."""
    kg_full, _, _ = store
    kg = SnapshotKg(spark, str(tmp_path / "kg"), gaz, corpus.PREDICATES)
    s = kg.update(_pages(spark, [("u1", "nothing to see here ."),
                                 ("u2", "still no entities .")]))
    assert s["committed"] and s["changed"] == 2
    k = kg_full.snap()  # compaction may have folded the earlier snaps

    def fields(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    for path in ("extract/snap=", "mentions/snap=", "triples/snap=",
                 "linked_stats/v", "triple_stats/v", "aliases/v", "nodes/v",
                 "edges/v", "manifest/v"):
        got = spark.read.parquet(f"{kg.base}/{path}0")
        exp = spark.read.parquet(f"{kg_full.base}/{path}{k}")
        assert fields(got) == fields(exp), path
        assert got.count() == (2 if path.startswith(("extract", "manifest"))
                               else 0), path
    # the linked spans are exploded from extract, not committed
    assert fields(kg.current_linked()) == fields(kg_full.current_linked())
    assert kg.current_linked().count() == 0
