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

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from kgflow.schemas import SOURCE_FILES
from kgflow.stages.extract import extract
from kgflow.stages.ingest import ingest


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
    writer = (
        extract(ingest(stream)).writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    # PySpark rejects trigger(availableNow=False), so the continuous
    # mode is the default trigger, not an availableNow one set to False
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
