"""Incremental triple extraction over an append-only corpus directory.

New parquet files dropped into the input directory are picked up by a
file-source stream, run through the SAME ingest+extract expressions as
the batch pipeline (they are pure per-row transforms, so batch and
stream share code verbatim), and appended to the triples sink.
Structured Streaming's checkpoint guarantees each input file is
processed exactly once across restarts — the streaming complement to
the batch pipeline's per-stage manifests.

Run with trigger=availableNow for catch-up-then-stop semantics (the
deterministic mode used in tests and cron-style incremental loads), or
with available_now=False for continuous micro-batches in a long-lived
job (the default processing-time trigger: the next batch starts as soon
as the previous one ends and new files have arrived).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kgflow.schemas import SOURCE_FILES
from kgflow.stages.extract import extract
from kgflow.stages.ingest import ingest


def _start(df: DataFrame, output_dir: str, checkpoint_dir: str,
           available_now: bool) -> StreamingQuery:
    """Append ``df`` to a parquet sink. PySpark rejects
    ``trigger(availableNow=False)``, so the continuous mode is the
    default trigger, not an availableNow one set to False."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the incremental extraction stream; returns the query.

    Callers decide whether to awaitTermination (availableNow) or keep
    it running. Output is append-only parquet in the batch triple
    schema, so batch analytics read it unchanged.

    Micro-batches are sized in bytes, not files: a batch pays its fixed
    cost (planning, the offset and commit logs, the sink-log commit)
    whatever it holds, so a batch of a few small files spends most of
    its time on that cost, not in its tasks. The budget is one wave of
    full-size input splits, ``spark.sql.files.maxPartitionBytes`` x
    ``defaultParallelism`` (64 MB at ``local[4]`` with
    ``session.get_spark``'s split size): a smaller batch leaves cores
    idle, a larger one only delays the next commit. A file larger than
    the budget is admitted alone, so a big file never stalls the stream.
    A restart redoes at most the one uncommitted batch: one budget of
    input, or one oversized file.
    """
    budget = (spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
              * spark.sparkContext.defaultParallelism)
    stream = (
        spark.readStream.schema(SOURCE_FILES)
        .option("maxBytesPerTrigger", budget)
        .parquet(input_dir)
    )
    return _start(extract(ingest(stream)), output_dir, checkpoint_dir, available_now)


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Watermarked tumbling-window aggregation over an event stream —
    the streaming twin of the batch q_events_hourly_windows query.

    The watermark bounds state: windows older than (max event time -
    watermark) are finalized, emitted once (append mode), and their
    state dropped — late rows beyond the watermark are discarded
    instead of growing state forever. At 100 TB/day of events this is
    what keeps the job's state size O(open windows), not O(history).
    """
    from pyspark.sql import functions as F

    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        # bound each micro-batch (availableNow still drains everything,
        # in several commits) — also what makes a mid-stream kill land
        # BETWEEN batches in the restart-recovery test
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "value_sum")
    )
    return _start(agg, output_dir, checkpoint_dir, available_now)


SESSION_GAP_MINUTES = 30


def stateful_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = SESSION_GAP_MINUTES,
    available_now: bool = True,
) -> StreamingQuery:
    """Custom stateful operator (applyInPandasWithState): gap-based
    per-user sessionization over an event stream — the streaming twin
    of the batch q_events_sessionization query.

    Per user_id, consecutive events less than gap_minutes apart belong
    to one session. State = the single open session (start, end, count,
    all epoch-seconds: primitive state marshals cheapest through
    Arrow). A micro-batch's events are merged in event-time order;
    every session CLOSED by a gap inside the batch is emitted
    immediately, the trailing open session goes back into state with an
    event-time timeout of end+gap — when the watermark passes it, the
    timeout fires and the session is emitted without needing another
    event for that user. Exactly the semantics of a session window, but
    with explicit state, demonstrating the escape hatch for operators
    Spark's built-ins can't express.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = gap_minutes * 60

    def sessionize(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "session_start": [start],
                 "session_end": [end], "n_events": [n]}
            )
            return
        ts = []
        for pdf in pdfs:
            ts.extend((pdf["ts"].astype("int64") // 1_000_000_000).tolist())
        ts.sort()
        sessions = []  # closed sessions to emit
        if state.exists:
            start, end, n = state.get
        else:
            start, end, n = ts[0], ts[0], 1
            ts = ts[1:]
        for t in ts:
            if t - end <= gap:
                # a late-but-above-watermark event can precede the open
                # session's start; lower it so stream and batch twins
                # agree on session_start
                start = min(start, t)
                end = max(end, t)
                n += 1
            else:
                sessions.append((start, end, n))
                start, end, n = t, t, 1
        state.update((start, end, n))
        # fire when the watermark passes the open session's gap horizon
        state.setTimeoutTimestamp((end + gap) * 1000)
        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(sessions),
                    "session_start": [s[0] for s in sessions],
                    "session_end": [s[1] for s in sessions],
                    "n_events": [s[2] for s in sessions],
                }
            )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", f"{gap_minutes} minutes")
        .select("user_id", "ts")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id long, session_start long, session_end long, "
        "n_events long",
        stateStructType="start long, end long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _start(sessions, output_dir, checkpoint_dir, available_now)
