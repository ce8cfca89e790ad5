"""Stage 1 — ingest: the one pass over file content.

Mirrors the reference's ingest-metadata step
(databricks/notebooks/csv-ingestion.py:175-178: current_timestamp,
current_date, input_file_name) but deterministic: no wall-clock columns
on the datapath (run_ts is an explicit parameter recorded in lineage,
never in data), and the metadata we add is what the north_rule's
invariants need — sha2(content,256) for the per-row content invariant.
The same pass computes each file's ``mentions`` (``extract.mentions``),
so the stored ``ingested`` table holds everything downstream needs and
no stage reads the content again. Per-partition lineage comes from the
stage writes' parquet footers (kgflow/lineage.py), not from a column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgflow.stages.extract import mentions


def ingest(source: DataFrame) -> DataFrame:
    """source_files -> ingested (repo, path, commit, lang, content_sha,
    mentions), without the content column: the stored table is per-file
    metadata, not a second copy of the corpus.

    Pure narrow transformation — no shuffle: both added columns are
    row-local expressions under whole-stage codegen.
    """
    # NULL content behaves as the empty string: it hashes as "" so the
    # sha invariant (every triple's src_sha exists in the ingest table)
    # holds for null-content rows too, and it keeps its WRITTEN_IN entry
    content = F.coalesce(F.col("content"), F.lit(""))
    return source.select(
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2(content, 256).alias("content_sha"),
        mentions(F.col("lang"), content).alias("mentions"),
    )


def ingest_manifest(source: DataFrame) -> DataFrame:
    """Alias for ``ingest``, kept only because the benchmark harness
    (``perfbench/workloads.py``) imports this name."""
    return ingest(source)
