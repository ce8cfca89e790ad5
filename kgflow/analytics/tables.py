"""Parquet table loaders for the driver-provided test data."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# DataFrame handles keyed by (session, dir, table). spark.read.parquet
# costs a py4j round trip + driver-side schema/file-listing work
# (~0.15 s each) on EVERY query build, and suite queries load the same
# static tables 1-5x per build; reusing the logical-plan handle removes
# that fixed cost (guide §1.2 — plan-build overhead dominated several
# sub-second queries). This caches NO data or results: execution still
# scans the parquet files every run. A handle keeps the file listing it
# was built with, so code that rewrites tables under a directory in
# place calls invalidate(dir) before loading them again.
_HANDLES: "dict[tuple[int, str, str], DataFrame]" = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(name)
    key = (id(spark), sf_dir, name)
    df = _HANDLES.get(key)
    if df is None:
        # bound the cache so a long-lived process cycling sessions or
        # data dirs cannot pin handles (and their sessions) forever;
        # 4x the table count covers several concurrent dirs. Dicts keep
        # insertion order, so the first key is the oldest handle.
        if len(_HANDLES) >= 4 * len(TABLES):
            del _HANDLES[next(iter(_HANDLES))]
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _HANDLES[key] = df
    return df


def invalidate(sf_dir: str) -> None:
    """Forget the cached handles on ``sf_dir``'s tables and the cached
    embedding width of its ``embeddings`` table, so the next query
    build reads the tables as they are now."""
    from kgflow.analytics import registry  # registry imports this module

    for key in [k for k in _HANDLES if k[1] == sf_dir]:
        del _HANDLES[key]
    registry._DIM_CACHE.pop(sf_dir, None)
