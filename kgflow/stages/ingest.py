"""Stage 1 — ingest: lineage columns over the raw source table.

Mirrors the reference's ingest-metadata step
(databricks/notebooks/csv-ingestion.py:175-178: current_timestamp,
current_date, input_file_name) but deterministic: no wall-clock columns
on the datapath (run_ts is an explicit parameter recorded in lineage,
never in data), and the metadata we add is what the north_rule's
invariants need — sha2(content,256) for the per-row content invariant
and spark_partition_id for per-partition lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ingest(source: DataFrame) -> DataFrame:
    """source_files -> ingested (adds content_sha, file_id, ingest_partition).

    Pure narrow transformation — no shuffle: every added column is a
    row-local expression, so this fuses into the downstream stage's scan
    under whole-stage codegen.
    """
    from kgflow.functions import sha256_hex

    return source.select(
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        # JVM-builtin sha256 (F.sha2 — whole-stage codegen; see
        # kgflow/functions.py for the round-7 re-measurement history).
        # NULL content hashes as the empty string so the sha invariant
        # (every triple's src_sha exists in the ingest table) holds for
        # null-content rows too.
        sha256_hex(F.coalesce(F.col("content"), F.lit(""))).alias("content_sha"),
        # internal join key, not part of the sha invariant — a 128-bit
        # xxhash64 pair is collision-safe here and lock-free
        F.concat(
            F.lpad(F.hex(F.xxhash64("repo", "path", "commit")), 16, "0"),
            F.lpad(F.hex(F.xxhash64("commit", "path", "repo")), 16, "0"),
        ).alias("file_id"),
        # stable lineage partition: a pure function of the row key, NOT
        # spark_partition_id() — the physical partitioning varies with
        # cores and maxPartitionBytes, which made the persisted ingest
        # table non-reproducible across parallelism levels (round-1
        # advice). 1024 buckets bound per-partition lineage cardinality
        # independent of cluster size.
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(1024))
        .cast("int")
        .alias("ingest_partition"),
    )


def ingest_manifest(source: DataFrame) -> DataFrame:
    """The *persisted* ingest table: everything ingest() adds, WITHOUT
    the content column. Rewriting the heavy payload into a stage table
    doubles the corpus I/O for zero information — at 100 TB that is the
    difference between a metadata pass and a second copy of the lake.
    Downstream stages recompute ingest() inline over the raw source
    (narrow, deterministic, fused into their scan); the sha stored here
    is the lineage anchor the invariant tests compare against."""
    return ingest(source).drop("content")
