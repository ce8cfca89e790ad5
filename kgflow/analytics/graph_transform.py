"""Generic row→graph transform: the reference's graph-transformation
semantics (databricks/notebooks/graph-transformation.py:77-116) as
reusable operators over ANY relational table.

Node encoding   (node_id, properties json, label)      — :77-93
Edge encoding   (from_id, to_id, properties, rel_type) — :103-116
plus the loader-shape rename (:ID/:LABEL/:START_ID/:END_ID/:TYPE,
neo4j-loading.py:122-137), MERGE-idempotent dedup
(neo4j-loading.py:230-234,309-315), and the reference's dynamic
column-presence probing (graph-transformation.py:70-75
struct_if_exists) — re-done at plan-build time over df.columns.

Node property bags are to_json(struct(...)) with key order fixed by the
prop_cols argument, so outputs are byte-deterministic; edges carry an
empty bag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgflow.analytics.tables import load


def struct_if_exists(df: DataFrame, cols: list[str]) -> F.Column:
    """Reference's struct_if_exists (graph-transformation.py:70-75):
    build the property struct from whichever candidate columns the
    table actually has — plan-time reflection, not runtime."""
    present = [c for c in cols if c in df.columns]
    return F.struct(*[F.col(c) for c in present])


def to_nodes(df: DataFrame, id_col: str, label: str, prop_cols: list[str]) -> DataFrame:
    """Relational rows -> loader-shaped node table, deduplicated by id
    (MERGE idempotence)."""
    return (
        df.dropDuplicates([id_col])
        .select(
            F.concat(F.lit(label + ":"), F.col(id_col).cast("string")).alias(":ID"),
            F.lit(label).alias(":LABEL"),
            F.to_json(struct_if_exists(df, prop_cols)).alias("properties"),
        )
    )


def to_edges(
    df: DataFrame,
    from_col: str,
    from_label: str,
    to_col: str,
    to_label: str,
    rel_type: str,
) -> DataFrame:
    """Relational rows -> loader-shaped edge table, deduplicated by
    (start, end, type)."""
    # dedup the RAW key pair and format afterwards (round 7, guide
    # §2.3): the "Label:" prefixes and the rel_type literal are constant
    # per call and the cast-to-string concat is injective given them, so
    # distinct(raw) == distinct(formatted) while the exchange carries half
    # the bytes (the same narrow-row trick to_edges_multi already plays)
    return (
        df.select(
            F.col(from_col).cast("string").alias("_a"),
            F.col(to_col).cast("string").alias("_b"),
        )
        .dropDuplicates(["_a", "_b"])
        .select(
            F.concat(F.lit(from_label + ":"), F.col("_a")).alias(":START_ID"),
            F.concat(F.lit(to_label + ":"), F.col("_b")).alias(":END_ID"),
            F.lit(rel_type).alias(":TYPE"),
            F.lit("{}").alias("properties"),
        )
    )


def to_edges_multi(
    df: DataFrame,
    specs: list[tuple[str, str, str, str, str]],
) -> DataFrame:
    """SEVERAL edge families from ONE scan of the same table: each row
    explodes into one struct per (from_col, from_label, to_col,
    to_label, rel_type) spec, then a single dropDuplicates covers all
    families at once (rel_type is part of the key, so families can't
    collapse into each other).

    Equivalent to unionByName(to_edges(df, ...) per spec) but with one
    table scan and ONE distinct-shuffle at len(specs)x rows instead of
    len(specs) scans + shuffles (round-3 verdict item 8).

    Measured trade (sf0.1, local[32], 8-iteration medians): the fused
    shape is 2.5s vs 1.3s for the two-scan union — LOCALLY SLOWER,
    because the parquet is page-cached so the duplicate scan is free
    while the array-of-structs explode pays real per-row allocation.
    It is still the committed shape because at cluster scale the scan
    is cold object-store I/O and dominates: two-scan reads 4 column
    chunks + decodes l_partkey twice where fused reads 3 chunks once
    (~30% less I/O). The bench carries the local explode cost; the
    100TB plan is the one you'd want.

    The distinct-shuffle rides NARROW rows: (spec_idx:int, raw keys as
    strings) — the "Label:" prefixes and the rel_type string are
    reattached AFTER dropDuplicates, so the exchange moves ~half the
    bytes of pre-formatted :START_ID/:END_ID/:TYPE strings. The dedup
    key (spec_idx, from, to) is exactly equivalent: spec_idx determines
    (from_label, to_label, rel_type), and the prefixed concat is
    injective given them. That equivalence REQUIRES the (from_label,
    to_label, rel_type) triples to be pairwise distinct across specs —
    two specs sharing a triple but using different column pairs would
    emit rows the formatted-key dedup used to collapse — so the
    precondition is enforced below rather than documented only
    (round-5 advice)."""
    triples = [(fl, tl, rt) for _, fl, _, tl, rt in specs]
    if len(set(triples)) != len(specs):
        raise ValueError(
            "to_edges_multi specs must have distinct (from_label, to_label, "
            f"rel_type) triples — got duplicates in {triples}; call to_edges "
            "per spec and unionByName+dropDuplicates instead"
        )
    # Round-7 (guide §2.3): keep the key pair in its NATIVE type through
    # the explode + distinct when every spec's from-cols (resp. to-cols)
    # share one groupable type whose string cast is injective — the
    # dedup exchange then moves 8-byte longs instead of their decimal
    # strings (measured 1.40 -> 0.98 s for the lineitem families at
    # sf0.1), and the row set is unchanged because distinct(raw) ==
    # distinct(cast) under an injective cast. Mixed-type specs keep the
    # uniform string encoding (the struct array needs one field type).
    _NATIVE_OK = {"tinyint", "smallint", "int", "bigint", "date", "string"}
    dtypes = dict(df.dtypes)
    from_types = {dtypes[fc] for fc, _, _, _, _ in specs}
    to_types = {dtypes[tc] for _, _, tc, _, _ in specs}
    native = (
        len(from_types) == 1
        and len(to_types) == 1
        and from_types <= _NATIVE_OK
        and to_types <= _NATIVE_OK
    )

    def key_col(name: str) -> F.Column:
        return F.col(name) if native else F.col(name).cast("string")

    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("i"),
                key_col(fc).alias("a"),
                key_col(tc).alias("b"),
            )
            for i, (fc, fl, tc, tl, rt) in enumerate(specs)
        ]
    )
    keys = (
        df.select(F.explode(pairs).alias("e"))
        .select("e.*")
        .dropDuplicates(["i", "a", "b"])
    )

    def pick(vals: list[str]) -> F.Column:
        col = F.when(F.col("i") == 0, F.lit(vals[0]))
        for j in range(1, len(vals)):
            col = col.when(F.col("i") == j, F.lit(vals[j]))
        return col

    return keys.select(
        F.concat(
            pick([fl + ":" for _, fl, _, _, _ in specs]), F.col("a").cast("string")
        ).alias(":START_ID"),
        F.concat(
            pick([tl + ":" for _, _, _, tl, _ in specs]), F.col("b").cast("string")
        ).alias(":END_ID"),
        pick([rt for _, _, _, _, rt in specs]).alias(":TYPE"),
        F.lit("{}").alias("properties"),
    )


def ecommerce_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The reference's whole graph-transformation stage applied to the
    TPC-H-ish tables: Customer/Order/Part/Supplier/Nation nodes,
    PLACED/CONTAINS/SUPPLIED_BY/LOCATED_IN edges."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")

    nodes = (
        to_nodes(c, "c_custkey", "Customer", ["c_name", "c_mktsegment"])
        .unionByName(to_nodes(o, "o_orderkey", "Order", ["o_orderstatus", "o_orderpriority"]))
        .unionByName(to_nodes(p, "p_partkey", "Part", ["p_name", "p_brand", "p_type"]))
        .unionByName(to_nodes(s, "s_suppkey", "Supplier", ["s_name"]))
        .unionByName(to_nodes(n, "n_nationkey", "Nation", ["n_name"]))
    )
    edges = (
        to_edges(o, "o_custkey", "Customer", "o_orderkey", "Order", "PLACED")
        .unionByName(
            # both lineitem families from a single fact-table scan
            to_edges_multi(
                li,
                [
                    ("l_orderkey", "Order", "l_partkey", "Part", "CONTAINS"),
                    ("l_partkey", "Part", "l_suppkey", "Supplier", "SUPPLIED_BY"),
                ],
            )
        )
        .unionByName(to_edges(c, "c_custkey", "Customer", "c_nationkey", "Nation", "LOCATED_IN"))
        .unionByName(to_edges(s, "s_suppkey", "Supplier", "s_nationkey", "Nation", "LOCATED_IN"))
    )
    return nodes, edges


def nodes_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 verification counts (neo4j-loading.py:341-365): nodes per label."""
    nodes, _ = ecommerce_graph(spark, sf_dir)
    return nodes.groupBy(F.col(":LABEL").alias("label")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def edges_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 verification counts: relationships per type."""
    _, edges = ecommerce_graph(spark, sf_dir)
    return edges.groupBy(F.col(":TYPE").alias("rel_type")).agg(
        F.count(F.lit(1)).alias("n_edges")
    )


NODES_PER_LABEL_SQL = """
SELECT label, count(*) AS n_nodes FROM (
  SELECT 'Customer' AS label, c_custkey AS id FROM (SELECT DISTINCT c_custkey FROM customer)
  UNION ALL SELECT 'Order', o_orderkey FROM (SELECT DISTINCT o_orderkey FROM orders)
  UNION ALL SELECT 'Part', p_partkey FROM (SELECT DISTINCT p_partkey FROM part)
  UNION ALL SELECT 'Supplier', s_suppkey FROM (SELECT DISTINCT s_suppkey FROM supplier)
  UNION ALL SELECT 'Nation', n_nationkey FROM (SELECT DISTINCT n_nationkey FROM nation)
) GROUP BY label
"""

EDGES_PER_TYPE_SQL = """
SELECT rel_type, count(*) AS n_edges FROM (
  SELECT 'PLACED' AS rel_type FROM (SELECT DISTINCT o_custkey, o_orderkey FROM orders)
  UNION ALL SELECT 'CONTAINS' FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
  UNION ALL SELECT 'SUPPLIED_BY' FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
  UNION ALL SELECT 'LOCATED_IN' FROM (
    SELECT DISTINCT 'C' side, c_custkey AS a, c_nationkey AS b FROM customer
    UNION ALL SELECT DISTINCT 'S', s_suppkey, s_nationkey FROM supplier
  )
) GROUP BY rel_type
"""
