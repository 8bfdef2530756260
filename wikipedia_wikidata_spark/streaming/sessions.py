"""Custom stateful streaming operator: per-user sessionization via
applyInPandasWithState (SURVEY.md §2.8 target extension).

Not expressible as a windowed aggregation: a session's extent depends on the
inter-event gap, so per-key state must survive across micro-batches. State is
keyed by user_id: raw event times ABOVE the watermark (late-but-admissible
events may still arrive there out of order and re-segment — a purely folded
running triple would mis-assign them) plus a folded (start, last, n) summary
of the open session's frozen below-watermark prefix (nothing can change
there, so it needs no raw times). Sessions are emitted append-style once the
watermark passes session_end + gap, either driven by new data or by
EventTimeTimeout for users who simply stop emitting; state never grows
beyond the per-user events inside the watermark lag (the 100-TB property).

The batch twin (queries_training.q_events_sessionize) doubles as the
correctness oracle on a closed input: tests/test_pipeline_and_streaming.py
replays the events table through this operator and checks every
watermark-closed session against a pandas reimplementation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from .events import EVENTS_SCHEMA

SESSION_GAP_S = 1800
WATERMARK = "10 minutes"

SESSION_OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start_us", LongType()),
    StructField("session_end_us", LongType()),
    StructField("n_events", LongType()),
])

# State = a FOLDED (start, last, n) summary of the open session's frozen
# below-watermark prefix + the RAW event times above the watermark. Raw times
# are needed above the watermark because late-but-admissible events may still
# arrive there and re-segment; below it nothing can change (Spark drops
# older-than-watermark rows before stateful operators), so that prefix folds
# to three longs. State is therefore bounded by the per-user event count
# inside the watermark lag — the 100-TB property — even for a user active
# continuously for months (whose open session would otherwise accumulate
# every raw timestamp).
SESSION_STATE_SCHEMA = StructType([
    StructField("f_start", LongType()),
    StructField("f_last", LongType()),
    StructField("f_n", LongType()),
    StructField("buf_us", ArrayType(LongType())),
])


def _sessionize_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    gap_us = SESSION_GAP_S * 1_000_000
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    f_start = f_last = None
    f_n = 0
    buf: list[int] = []
    if state.exists:
        f_start, f_last, f_n, kept_buf = state.get
        buf = list(kept_buf)
    if not state.hasTimedOut:
        buf.extend(
            int(x) for x in pd.concat(list(pdfs))["ts_us"].astype("int64")
        )
    buf.sort()
    wm_us = state.getCurrentWatermarkMs() * 1000

    # Segment into sessions; the folded prefix (if any) seeds the first one.
    # Each session: [start, last, n, raw_events_in_this_session].
    sess: list[list] = []
    if f_n:
        sess.append([f_start, f_last, f_n, []])
    for x in buf:
        if sess and x - sess[-1][1] <= gap_us:
            s = sess[-1]
            s[1] = max(s[1], x)
            s[2] += 1
            s[3].append(x)
        else:
            sess.append([x, x, 1, [x]])

    # A session is emittable iff last + gap <= watermark: every future event
    # has ts >= watermark, so it can neither extend nor precede it. Sessions
    # are time-ordered, so emittable ones form a prefix.
    out: list[tuple] = []
    n_emit = 0
    for s in sess:
        if s[1] + gap_us <= wm_us:
            out.append((key[0], s[0], s[1], s[2]))
            n_emit += 1
        else:
            break
    kept = sess[n_emit:]
    if kept:
        first = kept[0]
        # fold the first kept session's below-watermark events into the
        # summary (only the FIRST kept session can have any: later sessions
        # start after first.last + gap > watermark)
        below = [t for t in first[3] if t <= wm_us]
        had_fold = f_n and n_emit == 0
        new_f_start = first[0]
        new_f_last = max(below + ([f_last] if had_fold else [])) if (
            below or had_fold
        ) else 0
        new_f_n = (f_n if had_fold else 0) + len(below)
        new_buf = [t for s in kept for t in s[3] if t > wm_us]
        state.update(
            (int(new_f_start) if new_f_n else 0,
             int(new_f_last), int(new_f_n), sorted(new_buf))
        )
        # arm the timeout at the FIRST pending session's close boundary
        # (end + gap); re-arms as it fires, so later sessions flush in turn
        state.setTimeoutTimestamp(first[1] // 1000 + SESSION_GAP_S * 1000 + 1)
    else:
        state.remove()
    yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
        {c: pd.Series(dtype="int64") for c in cols}
    )


def stream_sessionize(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream(parquet) -> stateful sessionization -> streaming DF of
    CLOSED sessions (caller picks sink/trigger)."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(input_dir)
    )
    ev = src.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts_ltz"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withWatermark("ts_ltz", WATERMARK)
    return ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_sessionize_available_now(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Drain available input through the stateful operator into an append
    parquet sink (durable checkpoint — restartable like run_stream_file_sink)."""
    q = (
        stream_sessionize(spark, input_dir)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: a drain that closed zero sessions leaves only
    # _spark_metadata in the sink and schema inference would fail
    return spark.read.schema(SESSION_OUT_SCHEMA).parquet(out_dir)


def sessions_pandas_oracle(events: pd.DataFrame):
    """Independent pandas reimplementation: list of
    (user_id, start_us, end_us, n_events) for ALL sessions (open + closed)."""
    out = []
    for uid, g in events.groupby("user_id"):
        ts = g["ts_us"].sort_values().astype("int64").tolist()
        start = last = None
        n = 0
        for x in ts:
            if last is None:
                start, last, n = x, x, 1
            elif x - last > SESSION_GAP_S * 1_000_000:
                out.append((uid, start, last, n))
                start, last, n = x, x, 1
            else:
                last, n = x, n + 1
        if last is not None:
            out.append((uid, start, last, n))
    return out
