"""Property-based tests (hypothesis): connected components against a
driver-side union-find oracle, minhash Jaccard estimation accuracy,
extraction invariance to partitioning."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from kgflow import fixtures
from kgflow.stages.canonicalize import connected_components
from kgflow.stages.extract import extract
from kgflow.stages.ingest import ingest

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

nodes = st.integers(min_value=0, max_value=25)
edge_lists = st.lists(
    st.tuples(nodes, nodes).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


def _union_find_oracle(pairs):
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # full-compress: member -> component min
    return {x: find(x) for x in parent}


@given(edge_lists)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, pairs):
    named = [(f"n{a:02d}", f"n{b:02d}") for a, b in pairs]
    expected = {
        m: c for m, c in _union_find_oracle(named).items() if m != c
    }
    got = {
        (r.member): r.canonical
        for r in connected_components(
            spark.createDataFrame(named, "src string, dst string")
        ).collect()
    }
    assert got == expected


def _binom_two_sided_pvalue(n: int, p: float, k: int) -> float:
    """Exact two-sided binomial tail: P(|K - np| >= |k - np|) for
    K ~ Binomial(n, p).  No scipy dependency (math.comb only)."""
    from math import comb

    mean = n * p
    dev = abs(k - mean)
    return sum(
        comb(n, i) * p**i * (1 - p) ** (n - i)
        for i in range(n + 1)
        if abs(i - mean) >= dev - 1e-12
    )


@given(
    st.sets(st.integers(0, 400), min_size=20, max_size=120),
    st.sets(st.integers(0, 400), min_size=20, max_size=120),
)
@settings(**SETTINGS)
@example(  # round-3 falsifying shape: true J~0.053, est 7/32=0.219 —
    # a legitimate binomial tail event the old 3.5-sigma normal
    # approximation wrongly rejected.  Pinned as a regression.
    set_a=frozenset(range(20)),
    set_b=frozenset([18, 19]) | frozenset(range(100, 118)),
)
def test_minhash_estimates_jaccard(spark, set_a, set_b):
    """The per-hash agreement indicator is Bernoulli(true_jaccard), so
    K = agreements out of NUM_HASHES is Binomial(n, J).  The estimator
    is *deterministic* given the input sets (xxhash64 is a fixed hash
    family), so hypothesis's adversarial input search will eventually
    find any input whose deterministic outcome lies in a fixed-sigma
    tail — the old `3.5*sigma` normal-approximation bound was therefore
    statistically invalid at small J (round-3 verdict).  Instead assert
    the exact two-sided binomial p-value of the observed agreement
    count is not astronomically small: a genuine estimator bug (e.g.
    constant signatures, off-by-one in hash seeding) drives the
    p-value to ~0, while honest binomial noise stays many orders of
    magnitude above 1e-6."""
    from pyspark.sql import functions as F

    from kgflow.ops.dedup import NUM_HASHES

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"tok{x}" for x in sorted(set_a))),
            (1, " ".join(f"tok{x}" for x in sorted(set_b))),
        ],
        "doc_id long, text string",
    )
    toks = F.array_distinct(F.split(F.col("text"), " "))

    def hash_j(j):
        return lambda s: F.xxhash64(s, F.lit(j))

    sig = docs.select(
        "doc_id",
        F.array(
            *[F.array_min(F.transform(toks, hash_j(j))) for j in range(NUM_HASHES)]
        ).alias("sig"),
    ).collect()
    sigs = {r.doc_id: r.sig for r in sig}
    agree = sum(1 for a, b in zip(sigs[0], sigs[1]) if a == b)
    est = agree / NUM_HASHES
    true = len(set_a & set_b) / len(set_a | set_b)
    pvalue = _binom_two_sided_pvalue(NUM_HASHES, true, agree)
    # The 1.5/NUM_HASHES allowance covers the p∈{0,1} degenerate ends,
    # where a single xxhash64 collision would otherwise yield pvalue=0.
    assert pvalue >= 1e-6 or abs(est - true) <= 1.5 / NUM_HASHES, (
        f"true={true:.4f} est={est:.4f} agree={agree}/{NUM_HASHES} "
        f"pvalue={pvalue:.2e}"
    )


def test_extraction_invariant_to_partitioning(spark):
    src = fixtures.source_files(spark, 80)
    one = extract(ingest(src.repartition(1)))
    many = extract(ingest(src.repartition(13)))
    assert one.exceptAll(many).isEmpty()
    assert many.exceptAll(one).isEmpty()
