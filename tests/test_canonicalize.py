"""Connected-components property tests on known graphs (SURVEY.md §5.2)."""

from __future__ import annotations

import random

import pytest
from test_properties import _union_find_oracle

from kgflow.stages import canonicalize
from kgflow.stages.canonicalize import canonical_map, connected_components


def _cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    return {
        (r.member, r.canonical) for r in connected_components(edges).collect()
    }


def test_chain_collapses_to_min(spark):
    got = _cc(spark, [("b", "c"), ("c", "d"), ("a", "b")])
    assert got == {("b", "a"), ("c", "a"), ("d", "a")}


def test_star_already_canonical(spark):
    got = _cc(spark, [("a", "b"), ("a", "c"), ("a", "d")])
    assert got == {("b", "a"), ("c", "a"), ("d", "a")}


def test_two_disjoint_components_stay_apart(spark):
    got = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert got == {("b", "a"), ("y", "x"), ("z", "x")}


def test_cycle(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {("b", "a"), ("c", "a")}


def test_canonical_map_includes_centers(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {(r.member, r.canonical) for r in canonical_map(edges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


@pytest.mark.parametrize("n", [2, 9])
def test_long_chain_converges(spark, n):
    pairs = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)]
    got = _cc(spark, pairs)
    assert got == {(f"n{i:02d}", "n00") for i in range(1, n + 1)}


@pytest.mark.parametrize(
    "pairs, rounds",
    [
        ([("a", "b"), ("a", "c"), ("a", "d")], 1),  # star: already the fixpoint
        ([("b", "c"), ("a", "b")], 1),
        ([("b", "c"), ("c", "d"), ("a", "b")], 2),
    ],
)
def test_stops_at_first_star_forest(spark, monkeypatch, pairs, rounds):
    """No confirming round: the loop returns after the round that first
    yields a star forest."""
    calls = []
    small_star = canonicalize._small_star

    def counted(edges):
        calls.append(1)
        return small_star(edges)

    monkeypatch.setattr(canonicalize, "_small_star", counted)
    _cc(spark, pairs)
    assert len(calls) == rounds


def _bridged_stars(rng):
    """Hubs u1, u2 share the leaf v; pendants a-p-u1 and u2-q-b. With
    a < b < v < p, q < u1, u2, round 1 of this core leaves v pointing at
    both a and b. Plus extra leaves, a duplicate, a reversed duplicate
    and a self-loop."""
    a, b, v, p, q, u1, u2 = sorted(rng.sample(range(100, 1000), 7))
    pairs = [(a, p), (p, u1), (u1, v), (v, u2), (u2, q), (q, b)]
    pairs += [(rng.choice((u1, u2)), rng.randrange(v + 1, 1000)) for _ in range(rng.randrange(3))]
    x, y = rng.choice(pairs)
    return pairs + [(x, y), (y, x), (y, y)]


def _random_graph(rng):
    n = rng.randrange(2, 14)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(1, 2 * n))]


def _shuffled_chain(rng):
    labels = rng.sample(range(100), rng.randrange(2, 20))
    return list(zip(labels, labels[1:]))


def _random_tree(rng):
    labels = rng.sample(range(100), rng.randrange(2, 20))
    return [(labels[i], labels[rng.randrange(i)]) for i in range(1, len(labels))]


def test_batched_graphs_match_union_find(spark):
    """~600 disjoint graphs of four shapes in ONE connected_components
    call, against the Python union-find oracle."""
    rng = random.Random(5)
    shapes = [_random_graph, _shuffled_chain, _random_tree, _bridged_stars]
    pairs = [
        (f"g{g:03d}_{x:03d}", f"g{g:03d}_{y:03d}")
        for g in range(600)
        for x, y in shapes[g % len(shapes)](rng)
    ]
    expected = {m: c for m, c in _union_find_oracle(pairs).items() if m != c}
    rows = connected_components(spark.createDataFrame(pairs, "src string, dst string")).collect()
    got = {r.member: r.canonical for r in rows}
    assert len(got) == len(rows)  # one row per member
    assert got == expected


@pytest.mark.parametrize("pairs", [[], [("a", "a"), ("b", "b")]])
def test_empty_and_self_loop_only_graphs(spark, pairs):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    assert connected_components(edges).collect() == []
    assert canonical_map(edges).collect() == []
