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


def _write_events(spark, rows, path):
    """rows: (event_id, iso_ts, user_id, event_type, value)."""
    df = spark.createDataFrame(
        [(i, ts, u, et, v, "{}") for i, ts, u, et, v in rows],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type",
        "value", "props",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_windowed_event_counts_watermark(spark, tmp_path):
    """Watermarked tumbling windows: closed windows emit once with the
    correct counts; a row later than the watermark is dropped."""
    from kgflow.streaming.incremental import windowed_event_counts

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    _write_events(
        spark,
        [
            (1, "2024-01-01 00:10:00", 1, "click", 1.0),
            (2, "2024-01-01 00:20:00", 2, "click", 2.0),
            (3, "2024-01-01 00:40:00", 1, "view", 3.0),
        ],
        inp,
    )
    q = windowed_event_counts(spark, inp, out, ckpt, window="1 hour",
                              watermark="1 hour")
    q.awaitTermination(120)

    # advance event time far enough to close the 00:00 window
    _write_events(spark, [(4, "2024-01-01 06:00:00", 3, "click", 9.0)], inp)
    q = windowed_event_counts(spark, inp, out, ckpt, window="1 hour",
                              watermark="1 hour")
    q.awaitTermination(120)

    # now a LATE row for the already-closed window: the watermark
    # (05:00, persisted in the checkpoint) must discard it
    _write_events(spark, [(5, "2024-01-01 00:15:00", 9, "click", 99.0)], inp)
    q = windowed_event_counts(spark, inp, out, ckpt, window="1 hour",
                              watermark="1 hour")
    q.awaitTermination(120)

    got = {
        (str(r.window_start), r.event_type): (r.n, r.value_sum)
        for r in spark.read.parquet(out).collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)  # late row absent
    assert got[("2024-01-01 00:00:00", "view")] == (1, 3.0)


def test_restart_recovery_exactly_once(spark, tmp_path):
    """Crash-recovery contract (streaming/incremental.py module doc):
    kill the windowed-agg query mid-drain — between availableNow
    micro-batches — restart from the checkpoint, and the final output
    equals an uninterrupted control run exactly (no duplicated or lost
    windows). The parquet sink's _spark_metadata commit log is what
    hides any partially-written batch from readers."""
    import time

    from kgflow.streaming.incremental import windowed_event_counts

    inp = str(tmp_path / "in")
    # 8 single-file batches, 2 files per trigger -> 4 micro-batches
    for b in range(8):
        _write_events(
            spark,
            [
                (10 * b + i, f"2024-01-01 {b:02d}:{5 * i:02d}:00", i, "click", 1.0)
                for i in range(3)
            ],
            inp,
        )

    # control: uninterrupted run
    out_c, ckpt_c = str(tmp_path / "out_c"), str(tmp_path / "ckpt_c")
    q = windowed_event_counts(spark, inp, out_c, ckpt_c, watermark="1 hour",
                              max_files_per_trigger=2)
    q.awaitTermination(120)
    control = sorted(
        (str(r.window_start), r.event_type, r.n, r.value_sum)
        for r in spark.read.parquet(out_c).collect()
    )
    assert control  # closed windows exist: the comparison is non-vacuous

    # crashed run: stop as soon as at least one batch has committed
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = windowed_event_counts(spark, inp, out, ckpt, watermark="1 hour",
                              max_files_per_trigger=2)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and not q.recentProgress:
        time.sleep(0.05)
    q.stop()  # simulated crash (may land mid-batch; the sink log copes)

    # restart from the same checkpoint; drain to completion
    q = windowed_event_counts(spark, inp, out, ckpt, watermark="1 hour",
                              max_files_per_trigger=2)
    q.awaitTermination(120)
    recovered = sorted(
        (str(r.window_start), r.event_type, r.n, r.value_sum)
        for r in spark.read.parquet(out).collect()
    )
    assert recovered == control


def test_stateful_sessionize_gap_and_timeout(spark, tmp_path):
    """applyInPandasWithState sessionization: an in-batch gap closes a
    session immediately; the trailing open session closes via
    event-time timeout once the watermark passes it."""
    from kgflow.streaming.incremental import stateful_sessionize

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))

    def epoch(s):
        import datetime as dt

        return int(dt.datetime.fromisoformat(s + "+00:00").timestamp())

    _write_events(
        spark,
        [
            # user 1: two sessions split by a 2h gap inside one batch
            (1, "2024-01-01 00:00:00", 1, "e", 0.0),
            (2, "2024-01-01 00:10:00", 1, "e", 0.0),
            (3, "2024-01-01 02:30:00", 1, "e", 0.0),
            # user 2: one session
            (4, "2024-01-01 00:05:00", 2, "e", 0.0),
        ],
        inp,
    )
    q = stateful_sessionize(spark, inp, out, ckpt, gap_minutes=30)
    q.awaitTermination(120)
    first = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    # only user 1's FIRST session is closed by the in-batch gap; the
    # watermark (max ts - 30min) has not passed the open sessions
    assert (1, epoch("2024-01-01 00:00:00"), epoch("2024-01-01 00:10:00"), 2) in first

    # a far-future event advances the watermark -> timeouts fire for
    # every open session
    _write_events(spark, [(5, "2024-01-02 12:00:00", 3, "e", 0.0)], inp)
    q = stateful_sessionize(spark, inp, out, ckpt, gap_minutes=30)
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert (1, epoch("2024-01-01 02:30:00"), epoch("2024-01-01 02:30:00"), 1) in got
    assert (2, epoch("2024-01-01 00:05:00"), epoch("2024-01-01 00:05:00"), 1) in got
