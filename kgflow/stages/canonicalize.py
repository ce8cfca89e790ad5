"""Stage 4 — canonicalization: connected components over alias edges.

Iterative large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — see PAPERS.md) expressed
as pure DataFrame rounds: each round is groupBy(min) + join, lineage is
cut with localCheckpoint every round, and the loop stops as soon as the
edges form a star forest (every src has one dst, no dst is a src).
That stop is exact: small-star emits only src > dst edges, so each
star's centre is its component minimum, and both star operations map
such a forest to itself. O(log n) rounds on pathological graphs; alias
graphs are star forests after 1-2.

The node ordering required by the algorithm is the symbol string's
natural (lexicographic) order — total, deterministic, and stable across
partitionings, so canonical ids are reproducible run-to-run (a
requirement the reference violates with wall-clock columns,
csv-ingestion.py:176).

Nothing like this exists in the reference — its "canonical ids" are
the source systems' primary keys. This is the genuinely new algorithmic
piece the north_star adds, and it is deliberately *not* GraphFrames:
a hand-rolled loop keeps the dependency surface to pyspark alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ITERATIONS = 25


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to min(N(u) ∪ {u})."""
    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges (u >= v); connect each of u's small neighbors, and u
    itself, to the minimum small neighbor."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = oriented.join(m, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    selfs = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        nbrs.unionAll(selfs)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True when no src has a second edge, as src or as dst: every src
    then has exactly one dst and no dst is a src (edges are distinct)."""
    ends = edges.select(F.col("src").alias("node"), F.lit(1).alias("is_src")).unionAll(
        edges.select(F.col("dst").alias("node"), F.lit(0).alias("is_src"))
    )
    return (
        ends.groupBy("node")
        .agg(F.max("is_src").alias("is_src"), F.count(F.lit(1)).alias("n"))
        .where((F.col("is_src") == 1) & (F.col("n") > 1))
        .isEmpty()
    )


def connected_components(alias_edges: DataFrame) -> DataFrame:
    """(src, dst) undirected edges -> (member, canonical) assignment.

    canonical = lexicographic min of each component; singletons (symbols
    with no alias edge) are implicitly canonical and simply absent from
    the returned map — callers coalesce to identity.
    """
    edges = alias_edges.select("src", "dst")
    for _ in range(MAX_ITERATIONS):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        if _is_star_forest(edges):
            # every edge points member -> component min
            return edges.select(F.col("src").alias("member"), F.col("dst").alias("canonical"))
    raise RuntimeError(
        f"connected components did not converge in {MAX_ITERATIONS} iterations"
    )


def canonical_map(alias_edges: DataFrame) -> DataFrame:
    """Alias edges -> (member, canonical), including center self-rows so
    downstream joins can use an inner/left join uniformly."""
    cc = connected_components(alias_edges)
    centers = cc.select(F.col("canonical").alias("member"), F.col("canonical")).distinct()
    # srcs of a star forest are unique and never centres: already keyed on member
    return cc.unionByName(centers)
