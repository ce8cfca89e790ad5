"""Static schemas: the source-file input and the graph's node labels.

The reference maps YAML type names to Spark types at runtime
(databricks/notebooks/csv-ingestion.py:95-113); our input shape is fixed
by BASELINE.json's input_hint, so the schema is a compile-time constant.
Every later stage table's schema is whatever its stage function builds.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- stage 0: input (BASELINE.json input_hint) -----------------------------
SOURCE_FILES = T.StructType(
    [
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
    ]
)

# Node label per triple role (subject label / object label per predicate).
PRED_ENDPOINT_LABELS: dict[str, tuple[str, str]] = {
    "WRITTEN_IN": ("File", "Language"),
    "DECLARES": ("Repo", "Symbol"),
    "IMPORTS": ("File", "Module"),
    "CALLS": ("File", "Symbol"),
}
