"""Tests for the IVF-PQ index family (kgflow.ops.pq): encoding
determinism, ADC scores against a NumPy recomputation, and the at-rest
IVF-PQ layout with partition pruning."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from kgflow.ops import pq

from test_ops import _pseudo_vectors  # deterministic clustered corpus


def _queries(vdf, n=4):
    return vdf.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_pq_encode_shapes_and_determinism(spark):
    vectors = _pseudo_vectors(spark)
    codes = pq.pq_encode(vectors, dim=16)
    rows = {r.vec_id: list(r.codes) for r in codes.collect()}
    assert len(rows) == vectors.count()
    assert all(len(c) == pq.PQ_SUBSPACES for c in rows.values())
    assert all(0 <= x < pq.PQ_CODES for c in rows.values() for x in c)
    again = {r.vec_id: list(r.codes) for r in pq.pq_encode(vectors, dim=16).collect()}
    assert rows == again  # deterministic given fixed (seeded) codebooks


def test_pq_identical_vectors_share_codes(spark):
    """Scale-invariant + clone-consistent: an exact duplicate (and any
    positive scaling of it, since vectors are unit-normalized first)
    must encode to the identical code word."""
    vectors = _pseudo_vectors(spark)
    clones = vectors.where(F.col("vec_id") == 0).select(
        F.lit(999_999).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        "label",
    )
    planted = vectors.unionByName(clones)
    rows = {r.vec_id: list(r.codes) for r in pq.pq_encode(planted, dim=16).collect()}
    assert rows[999_999] == rows[0]


def _spark_round(x: float, places: int) -> float:
    """Spark's round() on a double: HALF_UP on the shortest decimal
    form of the value."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _fold(xs) -> float:
    """Left-to-right float sum from 0.0, the order of Spark's
    aggregate()."""
    total = 0.0
    for x in xs:
        total += float(x)
    return total


def test_ivfpq_adc_scores_match_numpy(spark):
    """Every row the IVF-PQ probe returns carries the ADC score a NumPy
    recomputation gives from the hash-seeded codebooks and the row's
    stored codes, and each query's rows rank in ascending (adc, vec_id)
    order."""
    import numpy as np

    vectors = _pseudo_vectors(spark)
    dim, m, k = 16, pq.PQ_SUBSPACES, pq.PQ_CODES
    width = dim // m
    table = pq.ivfpq_index_table(vectors, dim=dim)
    queries = _queries(vectors, 8)
    got = pq.ivfpq_topk_from_index(table, queries, dim=dim, topk=5).collect()
    assert got
    codebook = np.zeros((m, k, width))
    for s, c, vals in pq._seed_codebooks(dim, m, k):
        codebook[s, c] = vals
    codes = {r.vec_id: list(r.codes) for r in table.collect()}
    raw = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float32) for r in vectors.collect()
    }

    def unit(vid):
        v = raw[vid].astype(np.float64)
        return v / np.sqrt(_fold(v * v))

    for r in got:
        q = unit(r.query_id).reshape(m, width)
        dists = [
            _spark_round(_fold((q[s] - codebook[s, c]) ** 2), 9)
            for s, c in enumerate(codes[r.vec_id])
        ]
        assert abs(r.adc - _spark_round(_fold(dists), 9)) <= 1e-9, r
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    for rows in by_query.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        order = [(r.adc, r.vec_id) for r in rows]
        assert order == sorted(order)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_ivfpq_index_roundtrip_prunes_partitions(spark, tmp_path):
    """Stored IVF-PQ index: probing it must equal probing the in-memory
    index table over the same corpus, and the stored probe must prune
    to the nprobe cluster partitions (PartitionFilters, not post-scan
    Filter)."""
    vectors = _pseudo_vectors(spark)
    queries = _queries(vectors, 8)
    path = str(tmp_path / "ivfpq_index")
    pq.write_ivfpq_index(vectors, path, dim=16)
    stored = spark.read.parquet(path)
    got = pq.ivfpq_topk_from_index(stored, queries, dim=16, topk=5)
    mem = pq.ivfpq_index_table(vectors, dim=16)
    want = pq.ivfpq_topk_from_index(mem, queries, dim=16, topk=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    plan = _plan(got)
    assert "PartitionFilters: [" in plan
    assert "cluster" in plan.split("PartitionFilters: [")[1].split("]")[0]


def test_ivfpq_code_payload_is_compact(spark, tmp_path):
    """The index must store codes, never the raw vectors — the whole
    point of PQ at 10^9 vectors is that the probe path reads ~8-16 B
    per row."""
    vectors = _pseudo_vectors(spark)
    path = str(tmp_path / "ivfpq_small")
    pq.write_ivfpq_index(vectors, path, dim=16)
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "codes", "cluster"}
