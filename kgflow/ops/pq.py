"""Product quantization (PQ) and IVF-PQ over the embeddings table.

The third ANN index family beside LSH and IVF-flat (similarity.py),
and the one that matters most at 10^9+ vectors: a dim-64 float64
vector is 512 B, its PQ code (m=8 subspaces x 1 byte) is 8 B — ~64x
compression — so the index fits in memory/fast storage where the raw
vectors cannot, and probes never touch the vector column at all
(Jegou, Douze, Schmid: "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the FAISS IVFPQ layout is the industrial
reference).

Design, Spark-first:

  * Vectors are L2-NORMALIZED up front (similarity's vector prep, zero
    norms dropped), so squared-L2 ADC ranking is exactly cosine ranking
    (for unit vectors ||a-b||^2 = 2 - 2cos) — rank-compatible with
    similarity.py's cosine top-k while using the standard L2 PQ
    formulation.
  * Sub-codebooks are hash-seeded constants (``_seed_codebooks``, the
    same no-RNG-state trick as the IVF centroids), so encoding is a
    deterministic expression of the vector. Each subvector takes its
    nearest code via a broadcast join + map-side-combined min(struct)
    — O(1) plan nodes at any m x k.
  * ADC scoring is pure JVM expressions: the query side carries its
    m x k lookup table as a nested array column; each candidate costs
    m element_at lookups + a sum — F.transform with the index lambda
    + F.aggregate, no Python, no UDF.

The stored IVF-PQ index layers the codes under similarity's IVF
cluster partitioning and probes through the same pruned scan. No SQL
oracle (nested-array ADC is not reasonably DuckDB-expressible) —
correctness is pytest-pinned: encode determinism, ADC scores against a
NumPy recomputation, stored-index equality and PartitionFilters
pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from kgflow.ops.similarity import (
    N_PROBE,
    _ivf_probes,
    _prune,
    _vectors,
    _write_index,
    ivf_assignments,
)

PQ_SUBSPACES = 4   # m — sandbox default; 8-16 at production dims
PQ_CODES = 16      # k per subspace — 256 (1 byte) in production


def _unit_vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, vec) with vec L2-normalized; zero-norm rows excluded."""
    return _vectors(embeddings).select(
        "vec_id", F.transform("vec", lambda x: x / F.col("norm")).alias("vec")
    )


def _subvectors(unit: DataFrame, dim: int) -> DataFrame:
    """(vec_id, sub, svec): each unit vector exploded into its
    PQ_SUBSPACES contiguous slices (dim must divide evenly)."""
    m = PQ_SUBSPACES
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    width = dim // m
    parts = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"),
                F.slice(F.col("vec"), s * width + 1, width).alias("svec"),
            )
            for s in range(m)
        ]
    )
    return unit.select("vec_id", F.explode(parts).alias("p")).select(
        "vec_id", "p.sub", "p.svec"
    )


def _seed_codebooks(dim: int, m: int, k: int) -> "list[tuple[int, int, list[float]]]":
    """Deterministic hash-seeded sub-codebooks — the same no-RNG-state
    trick as similarity._centroid, salted per (sub, code, coord)."""
    import hashlib

    width = dim // m
    rows = []
    for s in range(m):
        for c in range(k):
            vals = []
            for x in range(width):
                h = int.from_bytes(
                    hashlib.sha256(f"kgflow:pq:{s}:{c}:{x}".encode()).digest()[:8],
                    "big",
                )
                vals.append((h / 2**63) - 1.0)
            rows.append((s, c, vals))
    return rows


def _codebooks(spark, dim: int) -> DataFrame:
    return spark.createDataFrame(
        _seed_codebooks(dim, PQ_SUBSPACES, PQ_CODES),
        "sub int, code int, cvec array<double>",
    )


def _l2sq(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sub_dists(subvecs: DataFrame, dim: int) -> DataFrame:
    """(vec_id, sub, code, dist): squared-L2 from every subvector to
    every code of its subspace, rounded to 9 decimals, via a broadcast
    join of the (small) codebook table."""
    d = F.round(_l2sq(F.col("svec"), F.col("cvec")), 9)
    return subvecs.join(
        F.broadcast(_codebooks(subvecs.sparkSession, dim)), "sub"
    ).select("vec_id", "sub", "code", d.alias("dist"))


def pq_encode(embeddings: DataFrame, dim: int) -> DataFrame:
    """The PQ code table: (vec_id, codes array<int>, one code per
    subspace in subspace order) — 8-16 B per vector instead of the
    512 B raw vector. Each subvector takes its nearest code with a
    (dist asc, code asc) tie-break via a map-side-combined
    min(struct)."""
    dists = _sub_dists(_subvectors(_unit_vectors(embeddings), dim), dim)
    best = dists.groupBy("vec_id", "sub").agg(
        F.min(F.struct("dist", "code"))["code"].alias("code")
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))),
            lambda st: st["code"],
        ).alias("codes")
    )


def _adc_luts(queries: DataFrame, dim: int) -> DataFrame:
    """(query_id, lut): per query the m x k table of squared-L2
    distances from its subvectors to every sub-centroid, as a nested
    array (lut[sub][code], 1-based via element_at at probe time).
    Queries are normalized like the corpus; zero-norm queries are
    excluded. The query batch is small by construction, so this stays
    a broadcast-sized table."""
    k = PQ_CODES
    unit = _unit_vectors(
        queries.select(
            F.col("query_id").alias("vec_id"), F.col("query_vec").alias("embedding")
        )
    )
    flat = _sub_dists(_subvectors(unit, dim), dim)
    # nested lut from the (sub, code)-sorted flat list: element s*k+c
    packed = flat.groupBy(F.col("vec_id").alias("query_id")).agg(
        F.array_sort(F.collect_list(F.struct("sub", "code", "dist"))).alias("fl")
    )
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1)),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda c: F.element_at(F.col("fl"), (s * k + c + 1).cast("int"))["dist"],
        ),
    )
    return packed.select("query_id", lut.alias("lut"))


def _adc_score(codes_col, lut_col) -> F.Column:
    """Asymmetric-distance sum: m element_at lookups + a fold — pure
    JVM expressions, one pass over the code array."""
    return F.aggregate(
        F.transform(
            codes_col,
            lambda c, j: F.element_at(F.element_at(lut_col, j + 1), c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# --------------------------------------------------------------------------
# IVF-PQ at rest: coarse inverted lists (partition pruning) + PQ codes
# (no vector payload in the index at all)
# --------------------------------------------------------------------------

def ivfpq_index_table(
    embeddings: DataFrame, dim: int, cluster_cap: "int | None" = None
) -> DataFrame:
    """The IVF-PQ index table (vec_id, cluster, codes): coarse
    assignment reuses similarity.ivf_assignments, PQ codes join on
    vec_id — ~8-16 B of payload per vector, raw vectors left behind in
    the base table."""
    coarse = ivf_assignments(embeddings, dim, cluster_cap).select("vec_id", "cluster")
    codes = pq_encode(embeddings, dim)
    return coarse.join(codes, "vec_id").select("vec_id", "cluster", "codes")


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    dim: int,
    cluster_cap: "int | None" = None,
) -> None:
    """Materialize the IVF-PQ index partitioned BY cluster — the
    billion-scale at-rest layout."""
    _write_index(ivfpq_index_table(embeddings, dim, cluster_cap), "cluster", path)


def ivfpq_topk_from_index(
    index: DataFrame, queries: DataFrame, dim: int, topk: int = 5
) -> DataFrame:
    """Probe a stored IVF-PQ index: the N_PROBE nearest inverted lists
    prune the scan (similarity's pruned probe), then ADC scores the
    surviving codes — the probe reads nprobe/n_centroids of an index
    that is itself ~64x smaller than the vectors. Returns (query_id,
    vec_id, adc, rank), adc ascending (smaller = closer)."""
    probes = _ivf_probes(queries, dim, N_PROBE).select("query_id", "cluster")
    probe_luts = probes.join(_adc_luts(queries, dim), "query_id")
    scored = (
        _prune(index, probes, "cluster")
        .join(F.broadcast(probe_luts), "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_adc_score(F.col("codes"), F.col("lut")), 9).alias("adc"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", "vec_id", "adc", "rank")
    )
