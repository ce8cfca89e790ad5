"""Stage 5 — graph materialization: node/edge tables in loader shape.

Replaces the reference's driver funnel — collect() of every node and
relationship row into the driver followed by batched Cypher MERGE
(neo4j-loading.py:202-336) — with fully distributed parquet writes of
Neo4j-bulk-loader-shaped tables (:ID/:LABEL, :START_ID/:END_ID/:TYPE,
the column convention the loader notebook renames into,
neo4j-loading.py:122-137).

Semantics preserved from the reference:
  * MERGE idempotence (neo4j-loading.py:230-234,309-315) →
    dropDuplicates on [:ID] / [:START_ID,:END_ID,:TYPE] before write,
    so re-materialization is a no-op.
  * per-label unique-id constraints (neo4j-constraints.py:69-141) →
    assert_unique_ids() raises if any (:LABEL, :ID) repeats.
  * property bags as JSON strings (graph-transformation.py:79-84) →
    to_json(struct(...)) with key order fixed by construction.

Scale behavior: the final repartition hashes on BOTH endpoint ids —
a hot node (one repo declaring millions of symbols) still spreads
across all partitions, which is the salting the north_rule demands
without needing an artificial salt column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgflow.schemas import PRED_ENDPOINT_LABELS


def canonicalized_triples(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite symbol objects through the canonical map (broadcast join —
    the map is O(|alias vocabulary|), tiny next to the triple stream)."""
    symbol_preds = [p for p, (_, obj_label) in PRED_ENDPOINT_LABELS.items() if obj_label == "Symbol"]
    mapped = (
        triples.join(
            F.broadcast(cmap.withColumnRenamed("member", "obj")),
            on="obj",
            how="left",
        )
        .withColumn(
            "obj_c",
            F.when(
                F.col("pred").isin(symbol_preds), F.coalesce("canonical", "obj")
            ).otherwise(F.col("obj")),
        )
        .select("subj", "pred", F.col("obj_c").alias("obj"), "src_sha", "repo", "lang")
    )
    return mapped


def _endpoint_labels() -> tuple[Column, Column]:
    """(subject label, object label) of each row's predicate, looked up
    in PRED_ENDPOINT_LABELS. A function, not a constant: F.create_map
    needs a live SparkContext."""
    return tuple(
        F.create_map(
            *[F.lit(x) for p, ends in PRED_ENDPOINT_LABELS.items() for x in (p, ends[i])]
        )[F.col("pred")]
        for i in (0, 1)
    )


def build_nodes(triples_c: DataFrame) -> DataFrame:
    """Distinct endpoint nodes across all predicates, loader shape."""
    subj_label, obj_label = _endpoint_labels()

    subj_nodes = triples_c.select(
        subj_label.alias(":LABEL"), F.col("subj").alias("name")
    )
    obj_nodes = triples_c.select(obj_label.alias(":LABEL"), F.col("obj").alias("name"))
    return (
        subj_nodes.unionByName(obj_nodes)
        .dropDuplicates([":LABEL", "name"])
        .select(
            F.concat(F.col(":LABEL"), F.lit(":"), F.col("name")).alias(":ID"),
            ":LABEL",
            "name",
            F.to_json(F.struct(F.col("name"))).alias("properties"),
        )
    )


def build_edges(triples_c: DataFrame) -> DataFrame:
    """Deduplicated typed edges; evidence count kept as a property."""
    subj_label, obj_label = _endpoint_labels()
    # group on the RAW (pred, subj, obj) key and format the loader
    # columns AFTER the aggregate (round 7, guide §2.3): :TYPE IS pred
    # and the label prefixes are functions of pred, so the grouping is
    # bijective with the formatted key while the exchange skips the
    # prefix bytes on every pre-aggregation row
    return (
        triples_c.groupBy("pred", "subj", "obj")
        .agg(F.count(F.lit(1)).alias("evidence"))
        .select(
            F.concat(subj_label, F.lit(":"), F.col("subj")).alias(":START_ID"),
            F.concat(obj_label, F.lit(":"), F.col("obj")).alias(":END_ID"),
            F.col("pred").alias(":TYPE"),
            F.to_json(F.struct(F.col("evidence"))).alias("properties"),
        )
    )


def assert_unique_ids(nodes: DataFrame) -> None:
    """Reference constraint semantics (neo4j-constraints.py:69-83):
    node ids unique per label. Raises on violation."""
    dupes = nodes.groupBy(":ID").count().where(F.col("count") > 1)
    bad = dupes.limit(5).collect()
    if bad:
        raise AssertionError(f"duplicate node ids: {[r[0] for r in bad]}")


def assert_edge_endpoints(nodes: DataFrame, edges: DataFrame) -> None:
    """Every edge endpoint references an existing node (dangling-FK
    check, the left_anti idiom of data-validation.py:133-141)."""
    ids = nodes.select(":ID")
    dangling = (
        edges.select(F.col(":START_ID").alias(":ID"))
        .unionAll(edges.select(F.col(":END_ID").alias(":ID")))
        .join(ids, ":ID", "left_anti")
        .limit(5)
        .collect()
    )
    if dangling:
        raise AssertionError(f"dangling edge endpoints: {[r[0] for r in dangling]}")


def materialize(
    triples: DataFrame, cmap: DataFrame, out_partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """triples + canonical map -> (nodes, edges), skew-spread.

    The canonicalized triple stream feeds both outputs; localCheckpoint
    materializes it once instead of re-scanning + re-joining per output
    table. (On a real cluster this would be the `canonical_triples`
    stage table instead of an in-memory checkpoint.)"""
    # project to the three columns nodes/edges actually consume BEFORE
    # checkpointing: the eager localCheckpoint materializes deserialized
    # rows in memory, and src_sha (64-char hex) + repo + lang were ~40%
    # of that footprint for zero downstream use (guide §2.3 — project
    # before the materialization boundary)
    tc = (
        canonicalized_triples(triples, cmap)
        .select("subj", "pred", "obj")
        .localCheckpoint(eager=True)
    )
    nodes = build_nodes(tc)
    edges = build_edges(tc)
    if out_partitions:
        nodes = nodes.repartition(out_partitions, ":ID")
        # hash on both endpoints: hot :START_ID keys spread across partitions
        edges = edges.repartition(out_partitions, ":START_ID", ":END_ID")
    return nodes, edges
