"""Stage 1 — ingest: lineage columns over the raw source table.

Mirrors the reference's ingest-metadata step
(databricks/notebooks/csv-ingestion.py:175-178: current_timestamp,
current_date, input_file_name) but deterministic: no wall-clock columns
on the datapath (run_ts is an explicit parameter recorded in lineage,
never in data), and the metadata we add is what the north_rule's
invariants need — sha2(content,256) for the per-row content invariant.
Per-partition lineage comes from the stage writes' parquet footers
(kgflow/lineage.py), not from a column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ingest(source: DataFrame) -> DataFrame:
    """source_files -> ingested (adds content_sha).

    Pure narrow transformation — no shuffle: the added column is a
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
