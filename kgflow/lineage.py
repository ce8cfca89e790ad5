"""Per-partition lineage + stage manifests (checkpoint/resume).

The reference *configures* a checkpoint path but never reads it
(configs/data-sources.yml:112 — dead config), and derives row counts by
firing extra .count() actions per table (graph-transformation.py:124-144).
Here both are first-class:

  * every stage write is followed by ONE cheap metadata-only pass over
    the files it just wrote (parquet footer counts — no data scan) that
    becomes the per-partition lineage table;
  * a manifest JSON (stage name, input fingerprint, row count, file
    count) marks the stage complete; the orchestrator skips any stage
    whose manifest matches the current input fingerprint — the
    north_rule's "failed stages resume without recompute".

The fingerprint chains: each stage's fingerprint hashes its params plus
its upstream manifest's fingerprint, so changing the corpus or any
upstream stage invalidates everything downstream, while a re-run on
identical input is a pure read.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fingerprint(params: dict, upstream: str | None = None) -> str:
    payload = json.dumps({"params": params, "upstream": upstream}, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


@dataclass
class StageResult:
    name: str
    path: str
    fingerprint: str
    row_count: int
    skipped: bool
    elapsed_sec: float = 0.0
    # per-stage telemetry, filled by the orchestrator (pipeline.stage):
    # CPU-seconds burned by this process tree and driver-JVM GC ms over
    # the stage's wall window — the record that attributes an own-CPU
    # spread across identical runs to a stage (round-5 verdict item 2)
    own_cpu_s: "float | None" = None
    gc_ms: "int | None" = None


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_MANIFEST.json")


def is_complete(stage_dir: str, fp: str) -> bool:
    mp = _manifest_path(stage_dir)
    if not os.path.exists(mp):
        return False
    with open(mp) as f:
        manifest = json.load(f)
    return manifest.get("fingerprint") == fp and manifest.get("status") == "complete"


def _footer_counts(data_path: str) -> "list[tuple[str, int]] | None":
    """Per-file row counts straight from parquet FOOTERS — no Spark job,
    no data scan. Each output file is one write task's partition, so
    this IS the per-partition lineage; footers are O(files) driver-side
    metadata reads (~ms each). Returns None when the path isn't a local
    directory of parquet files (caller falls back to the Spark scan).

    This replaced a Spark re-read + groupBy(input_file_name) pass: that
    pass re-scanned every stage output and was the largest share of the
    fixed ~48s/run serial cost the scaling audit identified
    (BENCH/BASELINE.md round-3 addendum) — pure Amdahl overhead on the
    inter-stage critical path."""
    import pyarrow.parquet as pq

    if not os.path.isdir(data_path):
        return None
    out = []
    try:
        for name in sorted(os.listdir(data_path)):
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            full = os.path.join(data_path, name)
            out.append((full, pq.ParquetFile(full).metadata.num_rows))
    except Exception:
        return None
    return out or None


def per_file_counts(spark: SparkSession, data_path: str) -> DataFrame:
    """Per-output-file row counts (lineage). Footer-based fast path;
    Spark scan fallback for non-local paths."""
    rows = _footer_counts(data_path)
    if rows is not None:
        return spark.createDataFrame(rows, "file string, row_count long")
    return (
        spark.read.parquet(data_path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("row_count"))
    )


def merge_to_schema(df: DataFrame, old: "DataFrame | None") -> DataFrame:
    """Schema-evolution overlay (the reference's Delta ``mergeSchema``
    write option, csv-ingestion.py:191): align ``df`` to the UNION of
    its own columns and the previous table version's.

    Columns the new data dropped survive as typed nulls (their dtype
    taken from the old schema); columns the new data added simply
    appear. Column order = old order, then new-only columns in the new
    data's order, so re-runs after adding a property need no manual
    table cleanup. A column present in both with a different type keeps
    the NEW type — the reference's ``overwriteSchema`` semantics
    (customer_recommendations_writeback.py:144) for the conflicting
    column only. Pure projection: no shuffle, no data scan of the old
    table (only its footer-derived schema is consulted)."""
    if old is None:
        return df
    new_cols = {c.lower(): c for c in df.columns}
    cols = []
    for f in old.schema.fields:
        hit = new_cols.pop(f.name.lower(), None)
        if hit is not None:
            cols.append(F.col(hit))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols.extend(F.col(c) for c in new_cols.values())
    return df.select(*cols)


def write_stage(
    df: DataFrame,
    stage: str,
    run_dir: str,
    fp: str,
    run_ts: str,
    schema_mode: str = "overwrite",
) -> StageResult:
    """Write a stage table + lineage + manifest. Idempotent per fingerprint.

    ``schema_mode='overwrite'`` (default) replaces the table and its
    schema wholesale — the reference's ``overwriteSchema`` path.
    ``schema_mode='merge'`` evolves instead: the previous version's
    columns are retained as typed nulls when the new data lacks them
    (see merge_to_schema) — the reference's ``mergeSchema`` path."""
    if schema_mode not in ("overwrite", "merge"):
        raise ValueError(f"schema_mode must be overwrite|merge, got {schema_mode!r}")
    spark = df.sparkSession
    stage_dir = os.path.join(run_dir, stage)
    data_path = os.path.join(stage_dir, "data")

    if is_complete(stage_dir, fp):
        with open(_manifest_path(stage_dir)) as f:
            manifest = json.load(f)
        return StageResult(stage, data_path, fp, manifest["row_count"], skipped=True)

    # the overwrite below deletes the old data before it writes the new,
    # so a write that dies part-way leaves a missing or partial table:
    # drop the completion marker first, or a rerun under the old
    # fingerprint would resume that table as complete
    try:
        os.remove(_manifest_path(stage_dir))
    except FileNotFoundError:
        pass

    import time

    t0 = time.monotonic()
    if schema_mode == "merge" and os.path.exists(data_path):
        try:
            old = spark.read.parquet(data_path)
        except Exception:
            old = None  # unreadable/partial previous version: plain overwrite
        df = merge_to_schema(df, old)
    df.write.mode("overwrite").parquet(data_path)

    # per-file counts from parquet footers (no Spark job), written as a
    # single-file parquet lineage table directly from the driver — the
    # table is O(output files); removing the former re-scan + coalesce(1)
    # write job cuts serial seconds from every stage boundary (the
    # scaling audit's Amdahl term)
    lineage_path = os.path.join(stage_dir, "lineage")
    footer = _footer_counts(data_path)
    if footer is not None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # overwrite semantics: a previous run may have written Spark-named
        # files (part-00000-<uuid>.snappy.parquet) here via the fallback
        # path — clear the directory or re-runs under a new fingerprint
        # would read old+new lineage rows side by side
        import shutil

        shutil.rmtree(lineage_path, ignore_errors=True)
        os.makedirs(lineage_path, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "file": [f for f, _ in footer],
                    "row_count": pa.array([n for _, n in footer], pa.int64()),
                    "stage": [stage] * len(footer),
                }
            ),
            os.path.join(lineage_path, "part-00000.parquet"),
        )
        row_count = sum(n for _, n in footer)
    else:
        counts = per_file_counts(spark, data_path).collect()
        spark.createDataFrame(
            [(r.file, r.row_count, stage) for r in counts],
            "file string, row_count long, stage string",
        ).coalesce(1).write.mode("overwrite").parquet(lineage_path)
        row_count = sum(r.row_count for r in counts)

    elapsed = round(time.monotonic() - t0, 3)
    manifest = {
        "stage": stage,
        "fingerprint": fp,
        "row_count": int(row_count),
        "run_ts": run_ts,
        "elapsed_sec": elapsed,
        "status": "complete",
    }
    tmp = _manifest_path(stage_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, _manifest_path(stage_dir))  # atomic completion marker
    return StageResult(stage, data_path, fp, int(row_count), skipped=False, elapsed_sec=elapsed)


def read_stage(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(run_dir, stage, "data"))
