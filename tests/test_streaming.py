"""Incremental (Structured Streaming) extraction: exactly-once over
appended corpus batches, output identical to batch extraction."""

from __future__ import annotations

import contextlib
import os

from kgflow import fixtures
from kgflow.stages.extract import extract
from kgflow.stages.ingest import ingest
from kgflow.streaming.incremental import incremental_extract


def _write_batch(spark, n0, n1, n_total, path):
    """Corpus slice [n0, n1) as one appended file batch."""
    import pandas as pd

    rows = [fixtures._file_record(i, n_total) for i in range(n0, n1)]
    pdf = pd.DataFrame(
        [{k: r[k] for k in ("repo", "path", "commit", "lang", "content")} for r in rows]
    )
    spark.createDataFrame(pdf, schema="repo string, path string, commit string, lang string, content string").coalesce(1).write.mode("append").parquet(path)


def test_incremental_equals_batch_and_is_exactly_once(spark, tmp_path):
    n_total = 60
    inp = str(tmp_path / "corpus")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    # batch 1
    _write_batch(spark, 0, 40, n_total, inp)
    q = incremental_extract(spark, inp, out, ckpt)
    q.awaitTermination(120)
    n_after_first = spark.read.parquet(out).count()
    assert n_after_first > 0

    # re-run with no new data: checkpoint must prevent reprocessing
    q = incremental_extract(spark, inp, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_after_first

    # batch 2 appended: only the delta is processed
    _write_batch(spark, 40, 60, n_total, inp)
    q = incremental_extract(spark, inp, out, ckpt)
    q.awaitTermination(120)

    _assert_equals_batch(spark, inp, out)


def _write_files(spark, n_files, per_file, path):
    """A backlog of ``n_files`` parquet files of ``per_file`` rows each;
    returns the on-disk file sizes."""
    n_total = n_files * per_file
    for f in range(n_files):
        _write_batch(spark, f * per_file, (f + 1) * per_file, n_total, path)
    return [os.path.getsize(os.path.join(path, n)) for n in os.listdir(path)
            if n.endswith(".parquet")]


def _assert_equals_batch(spark, inp, out):
    """The stream's output equals extract(ingest(...)) as a multiset."""
    streamed = spark.read.parquet(out)
    batch = extract(ingest(spark.read.parquet(inp)))
    assert streamed.exceptAll(batch).isEmpty()
    assert batch.exceptAll(streamed).isEmpty()


def _batches(q):
    """Micro-batches that read input (availableNow drains in these)."""
    return sum(1 for p in q.recentProgress if p.numInputRows > 0)


@contextlib.contextmanager
def _max_partition_bytes(spark, n):
    """Set spark.sql.files.maxPartitionBytes for the block; the fixture
    session is shared, so restore it after."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_byte_budget_bounds_micro_batches(spark, tmp_path):
    """incremental_extract admits maxPartitionBytes x defaultParallelism
    bytes per micro-batch: a backlog over the budget drains in several
    batches, a budget below the smallest file admits one file per batch
    (never stalls), the default budget drains the backlog in one, and
    every drain equals batch extraction."""
    inp = str(tmp_path / "corpus")
    sizes = _write_files(spark, 6, 10, inp)
    assert len(sizes) == 6
    par = spark.sparkContext.defaultParallelism

    def drain(tag):
        out = str(tmp_path / f"out_{tag}")
        q = incremental_extract(spark, inp, out, str(tmp_path / f"ckpt_{tag}"))
        q.awaitTermination(120)
        _assert_equals_batch(spark, inp, out)
        return _batches(q)

    # budget fits about two files: the backlog needs at least two batches
    with _max_partition_bytes(spark, -(-(2 * max(sizes)) // par)):
        assert drain("two") >= 2
    # budget below the smallest file: each file is admitted alone
    with _max_partition_bytes(spark, (min(sizes) - 1) // par):
        assert drain("one") == len(sizes)
    # session default: one wave of full-size splits holds the whole backlog
    assert drain("default") == 1


def test_small_file_backlog_drains_in_one_wave(spark, tmp_path):
    """A backlog of many small files fits one byte budget, and the batch
    runs as one wave of tasks: split planning pads each file by
    openCostInBytes, so without the coalesce 200 one-row files plan as
    about 13 tasks and sink files at local[4]. The batch writes at most
    defaultParallelism sink files and equals batch extraction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    inp, out, ckpt = (tmp_path / d for d in ("corpus", "out", "ckpt"))
    inp.mkdir()
    cols = ("repo", "path", "commit", "lang", "content")
    # explicit types: an all-NULL content column would otherwise be
    # written as parquet's null type (INT32), not the source's string
    schema = pa.schema([(c, pa.string()) for c in cols])
    n_files = 200
    for i in range(n_files):
        r = fixtures._file_record(i, n_files)
        pq.write_table(pa.Table.from_pylist([{c: r[c] for c in cols}], schema),
                       inp / f"part-{i:04d}.parquet")
    q = incremental_extract(spark, str(inp), str(out), str(ckpt))
    q.awaitTermination(120)
    assert _batches(q) == 1
    sink_files = [n for n in os.listdir(out) if n.endswith(".parquet")]
    assert len(sink_files) <= spark.sparkContext.defaultParallelism
    _assert_equals_batch(spark, str(inp), str(out))


def test_incremental_extract_continuous_trigger(spark, tmp_path):
    """available_now=False runs the default (continuous micro-batch)
    trigger; processAllAvailable drains it to the batch result."""
    inp, out, ckpt = (str(tmp_path / d) for d in ("corpus", "out", "ckpt"))
    _write_files(spark, 2, 10, inp)
    q = incremental_extract(spark, inp, out, ckpt, available_now=False)
    try:
        q.processAllAvailable()
        assert q.isActive  # a long-lived query: still running once drained
    finally:
        q.stop()
    _assert_equals_batch(spark, inp, out)


def test_incremental_extract_restart_is_exactly_once(spark, tmp_path):
    """Stop incremental_extract once its first micro-batch has committed,
    restart it from the same checkpoint and drain: the output equals
    batch extraction exactly, with no triple duplicated or lost. One file
    per batch, so the stop lands with most of the backlog unread."""
    import time

    inp, out, ckpt = (str(tmp_path / d) for d in ("corpus", "out", "ckpt"))
    sizes = _write_files(spark, 10, 5, inp)
    total = extract(ingest(spark.read.parquet(inp))).count()
    par = spark.sparkContext.defaultParallelism
    with _max_partition_bytes(spark, (min(sizes) - 1) // par):
        q = incremental_extract(spark, inp, out, ckpt)
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and not _batches(q):
            time.sleep(0.05)
        q.stop()  # simulated crash (may land mid-batch; the sink log copes)
        partial = spark.read.parquet(out).count()
        assert 0 < partial < total  # the stop landed mid-drain

        q = incremental_extract(spark, inp, out, ckpt)
        q.awaitTermination(120)
        assert _batches(q) >= 1
    assert spark.read.parquet(out).count() == total
    _assert_equals_batch(spark, inp, out)
