"""Structured Streaming operators: continuous annotation of a document
stream, watermarked windowed label counts, and streaming exact-dedup.

The reference is batch-only (SURVEY.md §2.8: no streaming in the
reference); these are the engine extensions a continuously-crawled corpus
needs. The annotate stage reuses the exact batch kernel — mapInPandas works
identically on streaming DataFrames, and the broadcast gazetteer is
task-shared the same way — so streaming and batch results are definitionally
consistent.

Scale notes: the stateful operators (windowed counts, dropDuplicates) keep
state bounded via watermarks; dedup state is keyed on a fixed-width digest,
not raw text.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from quickner_spark.operators.annotate import annotate_mentions

__all__ = ["annotate_stream", "windowed_label_counts", "streaming_dedup",
           "stateful_session_counts"]


def annotate_stream(stream_df: DataFrame, entities: Sequence[tuple[str, str]],
                    id_col: str = "doc_id", text_col: str = "text",
                    case_sensitive: bool = False,
                    passthrough_cols: tuple[str, ...] = ()) -> DataFrame:
    """Streaming mentions: identical kernel + schema as the batch operator
    (annotate_mentions is a narrow map, so it is streaming-safe with no
    state and no trigger constraints). Pass the event-time column through
    ``passthrough_cols`` for downstream windowed aggregation — stream-stream
    joins are thereby avoided entirely."""
    return annotate_mentions(stream_df, entities, id_col=id_col,
                             text_col=text_col, case_sensitive=case_sensitive,
                             passthrough_cols=passthrough_cols)


def windowed_label_counts(mentions_with_ts: DataFrame, ts_col: str = "ts",
                          window: str = "10 minutes",
                          watermark: str = "20 minutes") -> DataFrame:
    """Per-label mention counts over event-time windows with late-data
    handling: rows later than the watermark are dropped, state for closed
    windows is evicted."""
    return (mentions_with_ts
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("win"), F.col("label"))
            .agg(F.count("*").alias("n_mentions"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "label", "n_mentions"))


def stateful_session_counts(stream_df: DataFrame, user_col: str = "user_id",
                            ts_col: str = "ts", gap_minutes: int = 30,
                            state_timeout_minutes: int = 120) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running session count with gap-based session breaks, state carried
    ACROSS micro-batches.

    State per user = (latest event ts epoch-seconds, session count, event
    count). A new batch's events extend the previous batch's session unless
    the gap exceeds ``gap_minutes`` — semantics identical to the batch
    ``operators.events.sessionize`` for in-order input (asserted in tests).

    Event time drives both late data and eviction, via a watermark on
    ``ts_col`` of max event ts seen minus ``gap_minutes`` (the state keeps
    only each user's latest session, so lateness beyond one session gap is
    not worth tolerating):

    * rows older than the watermark of the previous micro-batch are
      dropped before the operator sees them; rows out of order but within
      it count as events and never split or move back a session;
    * a user's state is evicted (no output row) by the first micro-batch
      that has no events for the user and whose watermark has passed the
      user's latest event ts + ``state_timeout_minutes``. A later event for
      that user starts from zero state.

    Nothing depends on processing time, so a bounded input (e.g. under
    ``trigger(availableNow=True)``) ends once the last watermark advance
    has been applied; a processing-time timeout would instead keep running
    empty state-cleanup batches forever.

    Output per (user, micro-batch): (user_id, n_sessions, n_events_total).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    gap = gap_minutes * 60

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"user_id": pd.Series([], dtype="int64"),
                                "n_sessions": pd.Series([], dtype="int64"),
                                "n_events_total": pd.Series([], dtype="int64")})
            return
        last_ts, sessions, events = (
            state.get if state.exists else (None, 0, 0))
        ts_values = []
        for pdf in pdfs:
            ts_values.extend(int(t) for t in
                             pdf[ts_col].astype("int64") // 1_000_000_000)
        ts_values.sort()
        for t in ts_values:
            if last_ts is None or t - last_ts > gap:
                sessions += 1
            last_ts = t if last_ts is None else max(last_ts, t)
            events += 1
        state.update((last_ts, sessions, events))
        state.setTimeoutTimestamp((last_ts + state_timeout_minutes * 60) * 1000)
        yield pd.DataFrame({"user_id": [key[0]],
                            "n_sessions": [sessions],
                            "n_events_total": [events]})

    return (stream_df
            .withWatermark(ts_col, f"{gap_minutes} minutes")
            .groupBy(user_col)
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_sessions long, "
                                 "n_events_total long",
                stateStructType="last_ts long, n_sessions long, n_events long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def streaming_dedup(stream_df: DataFrame, text_col: str = "text",
                    ts_col: str = "ts",
                    watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact-dedup: first occurrence of each text digest within
    the watermark horizon survives. State key = md5 digest (fixed width);
    the watermark bounds state size."""
    keyed = stream_df.withColumn("__digest", F.md5(F.col(text_col)))
    return (keyed.withWatermark(ts_col, watermark)
            .dropDuplicates(["__digest"])
            .drop("__digest"))
