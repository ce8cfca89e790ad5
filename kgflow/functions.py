"""Shared column functions and the one blocking kernel.

Entity linking (`stages/link.py`), near-dup detection (`ops/dedup.py`)
and the co-purchase queries (`analytics/relational.py`) all avoid a
full cross join the same way: hash each item to a signature
(`minhash`), explode it into band keys (`lsh_bands`), drop the keys too
hot to pair (`drop_hot`) and pair the members of each surviving group
(`group_pairs`). Each step is written once, here, as pure DataFrame
expressions — no Python on the datapath.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pair_structs(arr) -> Column:
    """All unordered (a < b) element pairs of a SORTED array, as structs.

    The JVM-side pair generator that replaces the classic key self-join
    (guide §2.4): group rows by the shared key, collect the sorted
    distinct items, and expand each group's pairs with nested
    transform/slice — the same (a, b) rows the self-join's
    a.key = b.key AND a.item < b.item produces, but with ONE groupBy
    exchange instead of two distinct-shuffles + a join exchange, and no
    double scan of the input. Callers bound group sizes (drop_hot), so
    the quadratic expansion stays as bounded as the join form's."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def minhash(
    rows: DataFrame,
    keys: Sequence[str],
    shingles: str,
    hashes: Sequence[Callable[[Column], Column]],
) -> DataFrame:
    """(*keys, sig): one array of len(hashes) min-hashes per `keys` group
    over the MATERIALIZED shingle array column `shingles`.

    Built as explode + ONE hash aggregate of len(hashes) min()s — whole-
    stage codegen end to end — instead of len(hashes) interpreted
    transform + array_min passes over each shingle array (measured on
    4 vCPUs: 2.88 -> 0.81 s at sf0.1 in dedup; 1.26 -> 0.82 s over a
    24k-symbol vocabulary in link). min over the exploded multiset equals
    array_min over the distinct array; partial aggregation collapses
    each group's shingles map-side, so the exchange moves about one
    narrow row per group.

    Pass a bound column name, not an inline expression: higher-order
    functions are interpreted and re-evaluate inline subexpressions per
    ELEMENT, so an inline shingle (or token split) expression would be
    re-computed per slot. `keys` may include the shingle column itself
    (link carries `sh` on to its exact-Jaccard verify). The shingle
    array must be non-empty: explode drops a row with an empty array.
    """
    cols = [f"_h{j}" for j in range(len(hashes))]
    return (
        rows.select(*keys, F.explode(shingles).alias("_s"))
        .groupBy(*keys)
        .agg(*[F.min(h(F.col("_s"))).alias(c) for h, c in zip(hashes, cols)])
        .select(*keys, F.array(*cols).alias("sig"))
    )


def lsh_bands(
    rows: DataFrame,
    bands: int,
    rows_per_band: int,
    band_key: Callable[[list[Column]], Column],
) -> DataFrame:
    """One row per input row and band: every column of `rows` except
    `sig`, plus (band, key), where key = band_key(the band's
    rows_per_band consecutive sig slots).

    Two rows share a (band, key) bucket when their signatures agree on
    the whole band, so blocking on (band, key) compares only likely
    near-duplicates, never the cross product. The signature itself is
    not carried: `bands` copies of it per row would ride the explode and
    every exchange after it."""
    carry = [c for c in rows.columns if c != "sig"]
    keys = [
        band_key([F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)])
        for b in range(bands)
    ]
    return rows.select(
        *carry,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in enumerate(keys)])
        ).alias("_bk"),
    ).select(*carry, "_bk.band", "_bk.key")


def drop_hot(rows: DataFrame, keys: Sequence[str], cap: int) -> DataFrame:
    """`rows` without the groups of more than `cap` rows on `keys`.

    The skew guard in front of every in-group pairing: a hot group — a
    degenerate LSH key, a viral part — would emit a quadratic number of
    pairs while carrying almost no signal. The hot list is COUNT-based
    (O(1) memory per group; collecting a 10^7-member group just to
    discard it on size() would blow one aggregation buffer) and applied
    with a left-anti join. It is broadcast by force: it holds at most
    rows / cap keys, a small fraction of the input. Nothing counts the
    dropped rows yet."""
    hot = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
        .select(*keys)
    )
    return rows.join(F.broadcast(hot), list(keys), "left_anti")


def group_pairs(rows: DataFrame, keys: Sequence[str], member: str) -> DataFrame:
    """(a, b): each unordered pair a < b of distinct non-NULL `member`
    values, once per `keys` group — the rows of the self-join
    a.key = b.key AND a.member < b.member, distinct per key, except that
    NULL keys form one group.

    ONE groupBy exchange collects each group's sorted distinct members
    (collect_set dedups in the exchange a distinct would pay) and
    pair_structs expands them; the self-join needs two distinct
    shuffles plus a join exchange. Bound the groups first (drop_hot)."""
    return (
        rows.groupBy(*keys)
        .agg(F.sort_array(F.collect_set(member)).alias("_m"))
        .select(F.explode(pair_structs(F.col("_m"))).alias("_p"))
        .select("_p.a", "_p.b")
    )
