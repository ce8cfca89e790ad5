"""Stage 5 — graph materialization: node/edge tables in loader shape.

Replaces the reference's driver funnel — collect() of every node and
relationship row into the driver followed by batched Cypher MERGE
(neo4j-loading.py:202-336) — with fully distributed parquet writes of
Neo4j-bulk-loader-shaped tables (:ID/:LABEL, :START_ID/:END_ID/:TYPE,
the column convention the loader notebook renames into,
neo4j-loading.py:122-137).

Two chained stages: edges are the deduplicated canonicalized triples,
nodes the distinct endpoints of the stored edges. No intermediate is
pinned in memory.

Semantics preserved from the reference:
  * MERGE idempotence (neo4j-loading.py:230-234,309-315) →
    groupBy on (pred, subj, obj) / distinct :ID before write, so
    re-materialization is a no-op.
  * per-label unique-id constraints (neo4j-constraints.py:69-141) →
    assert_unique_ids() raises if any :ID repeats.
  * property bags as JSON strings (graph-transformation.py:79-84) →
    to_json(struct(...)) with key order fixed by construction.

Scale behavior: the final repartition hashes on BOTH endpoint ids —
a hot node (one repo declaring millions of symbols) still spreads
across all partitions, which is the salting the north_rule demands
without needing an artificial salt column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgflow.schemas import PRED_ENDPOINT_LABELS


def canonicalized_triples(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite symbol objects through the canonical map. The map is
    O(|alias vocabulary|), which has no bound as the corpus grows, so
    the join carries no broadcast hint: the planner broadcasts it while
    its size is under spark.sql.autoBroadcastJoinThreshold and
    shuffles it above."""
    symbol_preds = [p for p, (_, obj_label) in PRED_ENDPOINT_LABELS.items() if obj_label == "Symbol"]
    mapped = (
        triples.join(
            cmap.withColumnRenamed("member", "obj"),
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


def build_edges(triples: DataFrame, cmap: DataFrame, out_partitions: int | None = None) -> DataFrame:
    """Deduplicated typed edges of the canonicalized triples, evidence
    count as a property. A node needs a name, so a triple with a NULL
    endpoint (NULL lang or repo) stays in `triples` but makes no edge."""
    # endpoint labels of each row's predicate (create_map needs a live
    # SparkContext, so this cannot be a module constant)
    subj_label, obj_label = (
        F.create_map(
            *[F.lit(x) for p, ends in PRED_ENDPOINT_LABELS.items() for x in (p, ends[i])]
        )[F.col("pred")]
        for i in (0, 1)
    )
    # group on the RAW (pred, subj, obj) key, format AFTER the aggregate:
    # labels are functions of pred, so the exchange skips their bytes
    edges = (
        canonicalized_triples(triples, cmap)
        .dropna(subset=["subj", "obj"])
        .groupBy("pred", "subj", "obj")
        .agg(F.count(F.lit(1)).alias("evidence"))
        .select(
            F.concat(subj_label, F.lit(":"), F.col("subj")).alias(":START_ID"),
            F.concat(obj_label, F.lit(":"), F.col("obj")).alias(":END_ID"),
            F.col("pred").alias(":TYPE"),
            F.to_json(F.struct(F.col("evidence"))).alias("properties"),
        )
    )
    if out_partitions:
        # hash on both endpoints: hot :START_ID keys spread across partitions
        edges = edges.repartition(out_partitions, ":START_ID", ":END_ID")
    return edges


def build_nodes(edges: DataFrame, out_partitions: int | None = None) -> DataFrame:
    """Distinct edge endpoints, loader shape. An id is ``label:name`` and
    no label contains ':', so the split at the first ':' recovers both
    (a name may contain one: repo ``org:team``, module ``node:fs``)."""
    label_name = F.split(F.col(":ID"), ":", 2)
    nodes = (
        edges.select(F.col(":START_ID").alias(":ID"))
        .union(edges.select(F.col(":END_ID").alias(":ID")))
        .distinct()
        .select(":ID", label_name[0].alias(":LABEL"), label_name[1].alias("name"))
        .withColumn("properties", F.to_json(F.struct(F.col("name"))))
    )
    if out_partitions:
        nodes = nodes.repartition(out_partitions, ":ID")
    return nodes


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


def materialize(triples: DataFrame, cmap: DataFrame,
                out_partitions: int | None = None) -> tuple[DataFrame, DataFrame]:
    """Lazy (nodes, edges). Kept only for the benchmark harness
    (``perfbench/workloads.py``), which calls it; ROADMAP direction 1
    deletes it. ``run_pipeline`` builds nodes from the stored edges."""
    edges = build_edges(triples, cmap, out_partitions)
    return build_nodes(edges, out_partitions), edges
