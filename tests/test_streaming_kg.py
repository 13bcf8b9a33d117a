"""Incremental KG construction: streaming over N crawl batches must be
row-identical to one batch run over the union (mentions AND triples) and
to the relational oracle chain, and the checkpoint must resume at the
first uncommitted batch."""

from __future__ import annotations

from collections import Counter

import pytest

from quickner_spark.kg import corpus
from quickner_spark.streaming import (default_batch_writer, incremental_kg,
                                      kg_batch_increment)

N_PER_BATCH = 60
GAZ_SIZE = 120


@pytest.fixture(scope="module")
def crawl_batches(spark, tmp_path_factory):
    """Two parquet 'crawl batches' in one source dir + their union DF."""
    src = tmp_path_factory.mktemp("kg_stream") / "pages_in"
    src.mkdir()
    full = corpus.synth_pages(spark, 2 * N_PER_BATCH, seed=7,
                              gaz_size=GAZ_SIZE, partitions=2)
    rows = full.collect()
    spark.createDataFrame(rows[:N_PER_BATCH], full.schema) \
        .coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(rows[N_PER_BATCH:], full.schema) \
        .coalesce(1).write.parquet(str(src / "b1"))
    return str(src), full


def _bag(df, cols):
    return Counter(tuple(r) for r in df.select(*cols).collect())


M_COLS = ["url", "start", "end", "label", "surface"]
T_COLS = ["url", "subj", "pred", "obj", "subj_start", "obj_start"]


def test_streaming_kg_equals_batch(spark, crawl_batches, tmp_path):
    """The stream over two crawl batches must be row-identical to its own
    batch twin over the union, and — as multisets — to the relational
    oracle chain (tests/kg_oracle.py), which catches a semantic change
    the two fused paths would share."""
    from tests.kg_oracle import oracle_increment

    src, full = crawl_batches
    gaz = corpus.synth_gazetteer(GAZ_SIZE, 7)
    mpath = str(tmp_path / "mentions")
    tpath = str(tmp_path / "triples")
    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = incremental_kg(stream, gaz, corpus.PREDICATES, mpath, tpath,
                       checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    bm, bt = kg_batch_increment(full, gaz, corpus.PREDICATES)
    # the idempotent default writer adds a batch_id partition column
    got_m = {tuple(r) for r in
             spark.read.parquet(mpath).drop("batch_id").collect()}
    exp_m = {tuple(r) for r in bm.collect()}
    got_t = {tuple(r) for r in
             spark.read.parquet(tpath).drop("batch_id").collect()}
    exp_t = {tuple(r) for r in bt.collect()}
    assert got_m == exp_m and got_m
    assert got_t == exp_t and got_t
    # multiple micro-batches actually happened (maxFilesPerTrigger=1)
    assert len(list((tmp_path / "ckpt" / "commits").iterdir())) >= 2

    _, om, ot = oracle_increment(full, gaz, corpus.PREDICATES)
    assert _bag(spark.read.parquet(mpath), M_COLS) == _bag(om, M_COLS)
    assert _bag(spark.read.parquet(tpath), T_COLS) == _bag(ot, T_COLS)


def test_streaming_mixed_case_gazetteer(spark, tmp_path):
    """Gazetteer names in mixed case must match the lowered page text,
    as in the batch pipeline: the increment normalizes the gazetteer
    before matching, in the batch function and in the stream."""
    from tests.kg_oracle import oracle_increment

    gaz = [("Acme", "ORG"), ("Globex", "ORG")]
    preds = ("acquired",)
    src = tmp_path / "pages_in"
    pages = spark.createDataFrame(
        [("u0", corpus.page_html("Acme acquired Globex .", "u0"))],
        "url string, html binary")
    pages.coalesce(1).write.parquet(str(src / "b0"))
    want_m = [("u0", 0, 4, "ORG", "acme"), ("u0", 14, 20, "ORG", "globex")]
    want_t = [("u0", "acme", "acquired", "globex", 0, 14)]

    m, t = kg_batch_increment(pages, gaz, preds)
    assert sorted(tuple(r) for r in m.collect()) == want_m
    assert sorted(tuple(r) for r in t.collect()) == want_t
    _, om, ot = oracle_increment(pages, gaz, preds)
    assert _bag(om, M_COLS) == Counter(want_m)
    assert _bag(ot, T_COLS) == Counter(want_t)

    mpath, tpath = str(tmp_path / "m"), str(tmp_path / "t")
    stream = spark.readStream.schema(pages.schema).parquet(str(src) + "/*")
    q = incremental_kg(stream, gaz, preds, mpath, tpath,
                       checkpoint_dir=str(tmp_path / "ckpt"))
    assert q.awaitTermination(180)
    assert _bag(spark.read.parquet(mpath), M_COLS) == Counter(want_m)
    assert _bag(spark.read.parquet(tpath), T_COLS) == Counter(want_t)


def test_streaming_kg_resumes_from_checkpoint(spark, crawl_batches, tmp_path):
    src, full = crawl_batches
    gaz = corpus.synth_gazetteer(GAZ_SIZE, 7)
    mpath = str(tmp_path / "m2")
    tpath = str(tmp_path / "t2")
    ckpt = str(tmp_path / "ckpt2")
    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = incremental_kg(stream, gaz, corpus.PREDICATES, mpath, tpath,
                       checkpoint_dir=ckpt)
    q.awaitTermination(180)
    n_m = spark.read.parquet(mpath).count()
    # restart against the SAME checkpoint: no new source files -> no new
    # rows appended (exactly-once across restarts)
    stream2 = (spark.readStream.schema(full.schema)
               .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q2 = incremental_kg(stream2, gaz, corpus.PREDICATES, mpath, tpath,
                        checkpoint_dir=ckpt)
    q2.awaitTermination(180)
    assert spark.read.parquet(mpath).count() == n_m


def test_default_writer_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch through the default
    writer must overwrite its own partition, not append duplicates — and
    must leave other batches' rows untouched."""
    path = str(tmp_path / "out")
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b1 = spark.createDataFrame([(3, "c")], "k long, v string")
    default_batch_writer(b0, path, 0)
    default_batch_writer(b1, path, 1)
    assert spark.read.parquet(path).count() == 3
    default_batch_writer(b0, path, 0)  # replay of batch 0
    got = sorted((r["k"], r["v"], r["batch_id"])
                 for r in spark.read.parquet(path).collect())
    assert got == [(1, "a", 0), (2, "b", 0), (3, "c", 1)]


def test_legacy_two_arg_writer_adapted(spark, crawl_batches, tmp_path):
    """The legacy two-argument writer(df, path) is no longer adapted: like
    any writer that cannot take (df, path, batch_id), it must fail fast
    at incremental_kg() time, not inside the first micro-batch."""
    src, full = crawl_batches
    gaz = corpus.synth_gazetteer(GAZ_SIZE, 7)
    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))

    def two_arg_writer(df, path):
        df.write.mode("append").parquet(path)

    for w in (two_arg_writer, lambda df: None):
        with pytest.raises(TypeError, match="writer must accept"):
            incremental_kg(stream, gaz, corpus.PREDICATES,
                           str(tmp_path / "m"), str(tmp_path / "t"),
                           checkpoint_dir=str(tmp_path / "ckpt"), writer=w)
    assert not (tmp_path / "m").exists()


def test_var_positional_writer_accepted(spark, crawl_batches, tmp_path):
    """A writer declared as def w(*args) (or with **kwargs) satisfies the
    (df, path, batch_id) contract and must not be rejected by the
    signature sniffing; partials over 3-arg functions likewise."""
    import functools

    src, full = crawl_batches
    gaz = corpus.synth_gazetteer(GAZ_SIZE, 7)
    seen = []

    def star_writer(*args, **kwargs):
        df, path, batch_id = args
        seen.append(batch_id)
        default_batch_writer(df, path, batch_id)

    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    q = incremental_kg(stream, gaz, corpus.PREDICATES,
                       str(tmp_path / "sm"), str(tmp_path / "st"),
                       checkpoint_dir=str(tmp_path / "sckpt"),
                       writer=star_writer)
    q.awaitTermination(180)
    assert seen  # the stream actually ran through the star writer
    bm, _ = kg_batch_increment(full, gaz, corpus.PREDICATES)
    got = spark.read.parquet(str(tmp_path / "sm")).drop("batch_id")
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in bm.collect()}

    # a partial binding one leading arg of a 4-arg fn reports 3 params
    def tagged_writer(tag, df, path, batch_id):
        default_batch_writer(df, path, batch_id)

    bound = functools.partial(tagged_writer, "t")
    # must not raise at wiring time
    q2 = incremental_kg(stream, gaz, corpus.PREDICATES,
                        str(tmp_path / "pm"), str(tmp_path / "pt"),
                        checkpoint_dir=str(tmp_path / "pckpt"),
                        writer=bound)
    q2.awaitTermination(180)
    assert spark.read.parquet(str(tmp_path / "pm")).count() > 0


def test_streaming_host_edges_fold_equals_batch(spark, tmp_path):
    """Optional host-graph sink: per-batch partials folded by
    host_edges_view equal one host_graph run over the union (anchor
    counts are mergeable), and each batch landed its own partition."""
    import os

    from quickner_spark.kg.weblinks import extract_links, host_graph
    from quickner_spark.streaming import host_edges_view

    full = corpus.synth_pages(spark, 80, seed=9, gaz_size=60, partitions=2,
                              html_style="messy", outlink_hosts=5)
    rows = full.collect()
    src = tmp_path / "pages_in"
    src.mkdir()
    spark.createDataFrame(rows[:40], full.schema) \
        .coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(rows[40:], full.schema) \
        .coalesce(1).write.parquet(str(src / "b1"))
    gaz = corpus.synth_gazetteer(60, 9)
    stream = (spark.readStream.schema(full.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    he = str(tmp_path / "host_edges")
    q = incremental_kg(stream, gaz, corpus.PREDICATES,
                       str(tmp_path / "m"), str(tmp_path / "t"),
                       checkpoint_dir=str(tmp_path / "ckpt"),
                       host_edges_path=he)
    q.awaitTermination(180)
    got = {tuple(r) for r in host_edges_view(spark, he).collect()}
    exp = {tuple(r) for r in host_graph(extract_links(full)).collect()}
    assert got == exp and got
    parts = [d for d in os.listdir(he) if d.startswith("batch_id=")]
    assert len(parts) == 2
