"""Per-partition lineage + stage manifests (checkpoint/resume).

The reference *configures* a checkpoint path but never reads it
(configs/data-sources.yml:112 — dead config), and derives row counts by
firing extra .count() actions per table (graph-transformation.py:124-144).
Here both are first-class:

  * every stage write is followed by ONE cheap metadata-only pass over
    the files it just wrote (parquet footer counts — no data scan) that
    becomes the per-partition lineage table;
  * a manifest JSON (stage name, input fingerprint, row count, run_ts,
    status) marks the stage complete; the orchestrator skips any stage
    whose manifest matches the current input fingerprint — the
    north_rule's "failed stages resume without recompute";
  * a stage may carry a check on the table it has just written (the
    graph constraints on nodes). It runs before the manifest
    is published, so a complete manifest means a table that passed its
    check, and a resumed stage needs no check again.

The fingerprint chains: each stage's fingerprint hashes its params plus
its upstream manifest's fingerprint, so changing the corpus or any
upstream stage invalidates everything downstream, while a re-run on
identical input is a pure read.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from kgflow.audit import Usage


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
    # what building and writing the stage cost, filled by the
    # orchestrator (pipeline.run_pipeline); None when the stage resumed
    usage: "Usage | None" = None


def _manifest_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_MANIFEST.json")


def completed(run_dir: str, stage: str, fp: str) -> "StageResult | None":
    """The skipped-stage result when the stage's manifest marks it
    complete under ``fp``, else None. The row count comes from the
    manifest, so resuming a stage reads no data."""
    stage_dir = os.path.join(run_dir, stage)
    mp = _manifest_path(stage_dir)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        manifest = json.load(f)
    if manifest.get("fingerprint") != fp or manifest.get("status") != "complete":
        return None
    return StageResult(
        stage, os.path.join(stage_dir, "data"), fp, manifest["row_count"], skipped=True
    )


def _footer_counts(data_path: str) -> list[tuple[str, int]]:
    """Per-file row counts straight from parquet FOOTERS — no Spark job,
    no data scan. Each output file is one write task's partition, so
    this IS the per-partition lineage; footers are O(files) driver-side
    metadata reads (~ms each). A 0-row write still leaves one 0-row
    part file, so a written stage always has at least one entry.

    This replaced a Spark re-read + groupBy(input_file_name) pass: that
    pass re-scanned every stage output and was the largest share of the
    fixed ~48s/run serial cost the scaling audit identified
    (BENCH/BASELINE.md round-3 addendum) — pure Amdahl overhead on the
    inter-stage critical path."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(data_path)):
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        full = os.path.join(data_path, name)
        out.append((full, pq.ParquetFile(full).metadata.num_rows))
    return out


def write_stage(df: DataFrame, stage: str, run_dir: str, fp: str, run_ts: str,
                check: Callable[[DataFrame], None] | None = None) -> StageResult:
    """Write a stage table + lineage, run ``check`` on the written table,
    then publish the manifest.

    The write replaces the table and its schema wholesale. A ``check``
    that raises leaves the stage without a manifest, so the next run
    recomputes it. Whether to skip a complete stage is the caller's
    decision (``completed``). The run dir must be a local path: the
    lineage table and the manifest are written from the driver."""
    stage_dir = os.path.join(run_dir, stage)
    data_path = os.path.join(stage_dir, "data")

    # the overwrite below deletes the old data before it writes the new,
    # so a write that dies part-way leaves a missing or partial table:
    # drop the completion marker first, or a rerun under the old
    # fingerprint would resume that table as complete
    try:
        os.remove(_manifest_path(stage_dir))
    except FileNotFoundError:
        pass

    df.write.mode("overwrite").parquet(data_path)

    # per-file counts from parquet footers (no Spark job), written as a
    # single-file parquet lineage table directly from the driver — the
    # table is O(output files), and a Spark re-scan + write job would add
    # serial seconds to every stage boundary (the scaling audit's Amdahl
    # term)
    import pyarrow as pa
    import pyarrow.parquet as pq

    footer = _footer_counts(data_path)
    lineage_path = os.path.join(stage_dir, "lineage")
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

    if check is not None:
        check(df.sparkSession.read.parquet(data_path))

    manifest = {
        "stage": stage,
        "fingerprint": fp,
        "row_count": int(row_count),
        "run_ts": run_ts,
        "status": "complete",
    }
    tmp = _manifest_path(stage_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, _manifest_path(stage_dir))  # atomic completion marker
    return StageResult(stage, data_path, fp, int(row_count), skipped=False)


def read_stage(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(run_dir, stage, "data"))
