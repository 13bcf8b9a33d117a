"""Structured Streaming tests: streaming annotate == batch annotate,
watermarked windowed counts, streaming dedup."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from quickner_spark.operators.annotate import annotate_mentions, normalize_gazetteer
from quickner_spark.streaming import (annotate_stream, streaming_dedup,
                                      windowed_label_counts)

from tests.test_matcher import ENTITIES, TEXTS


@pytest.fixture()
def stream_source(spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    rows = [(str(i), t, dt.datetime(2024, 1, 1, 0, i)) for i, t in enumerate(TEXTS)]
    batch = spark.createDataFrame(rows, "doc_id string, text string, ts timestamp")
    batch.coalesce(1).write.parquet(str(src / "part0"))
    stream = (spark.readStream.schema("doc_id string, text string, ts timestamp")
              .parquet(str(src / "*")))
    return batch, stream


def _run_stream(stream_df, tmp_path, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return q


def test_streaming_annotate_equals_batch(spark, stream_source, tmp_path):
    batch, stream = stream_source
    gaz = normalize_gazetteer(ENTITIES)
    expected = {tuple(r) for r in
                annotate_mentions(batch, gaz).collect()}
    out = annotate_stream(stream, gaz)
    assert out.isStreaming
    _run_stream(out, tmp_path, "mentions_stream")
    got = {tuple(r) for r in spark.sql("SELECT * FROM mentions_stream").collect()}
    assert got == expected
    assert len(got) == 12


def test_windowed_label_counts(spark, stream_source, tmp_path):
    batch, stream = stream_source
    gaz = normalize_gazetteer(ENTITIES)
    # ts travels through the annotate stage as a passthrough column — no
    # stream-stream join needed for event-time aggregation downstream.
    m = annotate_stream(stream, gaz, passthrough_cols=("ts",))
    counts = windowed_label_counts(m, ts_col="ts", window="10 minutes",
                                   watermark="0 seconds")
    q = (counts.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt_wc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM win_counts").collect()
    total = sum(r["n_mentions"] for r in rows)
    assert total == 12
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_stateful_session_counts_across_batches(spark, tmp_path):
    """applyInPandasWithState: state must persist across micro-batches —
    batch 2 events within the gap extend batch 1's session, not start a
    new one; a large gap starts session 2."""
    from quickner_spark.streaming import stateful_session_counts

    src = tmp_path / "sess_in"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    b1 = [(1, t0), (1, t0 + dt.timedelta(minutes=5)), (2, t0)]
    b2 = [(1, t0 + dt.timedelta(minutes=20)),          # same session (gap 15m)
          (2, t0 + dt.timedelta(minutes=90))]          # new session (gap 90m)
    # two files + maxFilesPerTrigger=1 => two micro-batches in ONE query;
    # state must carry between them (memory sink cannot recover a
    # checkpoint, so cross-query restart is not testable here).
    spark.createDataFrame(b1, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, "user_id long, ts timestamp") \
        .coalesce(1).write.parquet(str(src / "b2"))
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    out = stateful_session_counts(stream, gap_minutes=30)
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .trigger(availableNow=True).start())
    try:
        # the event-time timeout lets a bounded input finish on its own
        assert q.awaitTermination(180) is True
        assert not q.isActive
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sess").collect()
    # update mode emits one row per (user, batch); the final state is the
    # row with the highest running event count
    got = {}
    for r in rows:
        prev = got.get(r["user_id"], (0, 0))
        if r["n_events_total"] >= prev[1]:
            got[r["user_id"]] = (r["n_sessions"], r["n_events_total"])
    assert got[1] == (1, 3)   # batch-2 event joined batch-1's session
    assert got[2] == (2, 2)   # 90-minute gap -> second session


def test_streaming_dedup(spark, tmp_path):
    src = tmp_path / "dedup_in"
    src.mkdir()
    rows = [("a", "same text", dt.datetime(2024, 1, 1, 0, 0)),
            ("b", "same text", dt.datetime(2024, 1, 1, 0, 1)),
            ("c", "other text", dt.datetime(2024, 1, 1, 0, 2))]
    spark.createDataFrame(rows, "doc_id string, text string, ts timestamp") \
        .coalesce(1).write.parquet(str(src / "p"))
    stream = (spark.readStream.schema("doc_id string, text string, ts timestamp")
              .parquet(str(src / "*")))
    out = streaming_dedup(stream, watermark="1 hour")
    _run_stream(out, tmp_path, "dedup_stream")
    got = spark.sql("SELECT text FROM dedup_stream").collect()
    assert sorted(r["text"] for r in got) == ["other text", "same text"]
