"""What one ``SnapshotKg.update`` reports and what it costs.

``pages_in`` and ``changed`` are ``Observation`` metrics of the update's
own classification write, not separate count jobs: ``pages_in`` must
equal the input's row count after the revisit dedup and ``changed`` the
committed tables' row counts, on snapshot 0, the fixture's update, a
zero-change update and an update with a NULL-html page. The digests are
not persisted. A one-page update must stay within a Spark job budget, so
that schema-inference, count and collect jobs cannot creep back in."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quickner_spark.kg import corpus
from quickner_spark.kg.delta import SnapshotKg, snapshot_delta
from quickner_spark.operators.events import latest_by_key
# the delta tests' fixtures; module-scoped, so this module builds its own
from tests.test_kg_delta import (  # noqa: F401
    N_DOCS, N_NEW, SEED, gaz, snapshots, store)

# measured: 25 jobs at local[4] with 4 shuffle partitions; the slack
# absorbs adaptive-execution plan changes, not a new inference or count
JOB_BUDGET = 28


def _rows(spark, kg, table, k):
    return spark.read.parquet(f"{kg.base}/{table}/snap={k}").count()


def _logged(kg, k):
    """(pages_in, changed, committed) of the _updates row for snap k."""
    return [(r["pages_in"], r["changed"], r["committed"])
            for r in kg.updates().where(F.col("snap") == k).collect()]


def _latest(pages):
    """The update's input after its revisit dedup."""
    return (latest_by_key(pages, "url", "warc_ts")
            if "warc_ts" in pages.columns else pages)


def _assert_counts_match_tables(spark, kg, res, pages):
    k = res["snap"]
    assert res["pages_in"] == _latest(pages).count()
    assert res["changed"] == _rows(spark, kg, "changes", k) \
        == _rows(spark, kg, "extract", k)
    assert _logged(kg, k) == [(res["pages_in"], res["changed"], True)]
    assert not os.path.exists(f"{kg.base}/digests")


def test_observed_counts_match_tables(spark, store, snapshots):
    kg, s0, s1 = store
    assert (s0["pages_in"], s0["changed"]) == (N_DOCS, N_DOCS)
    assert s1["pages_in"] == N_DOCS + N_NEW
    for res, snap in ((s0, "a"), (s1, "b")):
        _assert_counts_match_tables(spark, kg, res,
                                    spark.read.parquet(snapshots[snap]))
    # the observed change count is the classification join's row count
    nd = (_latest(spark.read.parquet(snapshots["b"]))
          .select("url", F.xxhash64("html").alias("digest")))
    assert s1["changed"] == snapshot_delta(nd, kg.manifest(0)).count() \
        == len(snapshots["changed"]) + N_NEW


def test_zero_change_update_counts_and_runs_no_extract(spark, store,
                                                       snapshots):
    kg, _, _ = store
    before = kg.snap()
    k = before + 1
    pages = spark.read.parquet(snapshots["b"])
    s = kg.update(pages)
    assert s == {"snap": before, "pages_in": N_DOCS + N_NEW, "changed": 0,
                 "committed": False}
    assert _latest(pages).count() == s["pages_in"]
    assert _rows(spark, kg, "changes", k) == 0
    assert not os.path.exists(f"{kg.base}/digests")
    assert not os.path.exists(f"{kg.base}/extract/snap={k}")
    assert _logged(kg, k) == [(N_DOCS + N_NEW, 0, False)]


def test_null_html_page_counts(spark, tmp_path):
    """A NULL-html page counts in pages_in on every snapshot. Snapshot 0
    processes it with every other page; later snapshots classify it
    neither new nor changed (``snapshot_delta``'s NULL-digest policy)."""
    def pages(rows):
        return spark.createDataFrame(
            [(u, None if t is None else corpus.page_html(t, u), t, "en")
             for u, t in rows],
            "url string, html binary, text string, lang string")

    kg = SnapshotKg(spark, str(tmp_path / "kg"), [("acme", "ORG")], ())
    p0 = pages([("u1", "acme ."), ("u2", None)])
    s0 = kg.update(p0)
    assert (s0["pages_in"], s0["changed"]) == (2, 2)
    _assert_counts_match_tables(spark, kg, s0, p0)
    p1 = pages([("u1", "acme acme ."), ("u2", None), ("u3", "acme again .")])
    s1 = kg.update(p1)
    assert (s1["pages_in"], s1["changed"]) == (3, 2)
    _assert_counts_match_tables(spark, kg, s1, p1)
    assert {r["canonical_id"]: r["n_mentions"]
            for r in kg.nodes().collect()} == {"acme": 3}


def test_retried_update_logs_its_snapshot_once(spark, tmp_path,
                                               monkeypatch):
    """An update that fails at the ``_CURRENT`` pointer write and is
    retried leaves one committed ``_updates`` row for its snapshot."""
    from quickner_spark.kg import delta

    def pages(rows):
        return spark.createDataFrame(
            [(u, corpus.page_html(t, u), t, "en") for u, t in rows],
            "url string, html binary, text string, lang string")

    kg = SnapshotKg(spark, str(tmp_path / "kg"), [("acme", "ORG")], ())
    kg.update(pages([("u1", "acme .")]))
    write_text, failed = delta._write_text, []

    def flaky(spark_, path, text):
        if path.endswith(f"/{delta._CURRENT}") and not failed:
            failed.append(path)
            raise OSError("pointer write failed")
        return write_text(spark_, path, text)

    monkeypatch.setattr(delta, "_write_text", flaky)
    batch = pages([("u1", "acme acme ."), ("u2", "acme again .")])
    with pytest.raises(OSError, match="pointer write failed"):
        kg.update(batch)
    assert failed and kg.snap() == 0
    s = kg.update(batch)
    assert (s["snap"], s["committed"]) == (1, True)
    assert [r for r in _logged(kg, 1) if r[2]] == [(2, 2, True)]


def test_one_page_update_job_budget(spark, store, gaz, snapshots,
                                    job_ids):
    """Runs last: it moves the store to a new snapshot."""
    kg, _, _ = store
    text, _ = corpus.page_text(88_888, gaz, SEED)
    page = (spark.read.parquet(snapshots["b"])
            .where(F.col("url").endswith("/doc/5"))
            .withColumn("html", F.lit(corpus.page_html(text, "doc 5")))
            .withColumn("text", F.lit(text)))
    before = job_ids()
    s = kg.update(page)
    ran = len(job_ids() - before)
    assert s["committed"] and (s["pages_in"], s["changed"]) == (1, 1)
    assert ran <= JOB_BUDGET, ran
