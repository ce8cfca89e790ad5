"""Shared column functions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pair_structs(arr) -> Column:
    """All unordered (a < b) element pairs of a SORTED array, as structs.

    The JVM-side pair generator that replaces the classic key self-join
    (guide §2.4): group rows by the shared key, collect the sorted
    distinct items, and expand each group's pairs with nested
    transform/slice — the same (a, b) rows the self-join's
    a.key = b.key AND a.item < b.item produces, but with ONE groupBy
    exchange instead of two distinct-shuffles + a join exchange, and no
    double scan of the input. Callers bound group sizes (BUCKET/BUYER
    caps), so the quadratic expansion stays as bounded as the join
    form's."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
