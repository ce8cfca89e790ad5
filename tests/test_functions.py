"""Blocking-kernel tests: the hot-group drop and in-group pairs of
kgflow.functions against direct references (the minhash signature is
checked in tests/test_link.py)."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from kgflow.functions import drop_hot, group_pairs


def test_drop_hot_keeps_groups_of_exactly_cap_rows(spark):
    cap = 5
    rows = (
        [(0, "x", i) for i in range(cap)]  # exactly cap: kept
        + [(1, "x", i) for i in range(cap + 1)]  # cap + 1: dropped
        + [(0, "y", 7), (1, "y", 7), (1, "y", 7)]  # small groups, duplicate rows
    )
    df = spark.createDataFrame(rows, "band int, key string, v int")
    got = Counter(tuple(r) for r in drop_hot(df, ["band", "key"], cap).select("band", "key", "v").collect())
    assert got == Counter(r for r in rows if r[:2] != (1, "x"))


def test_group_pairs_equals_self_join_reference(spark):
    rng = random.Random(19)
    rows = []
    for g in range(60):
        size = rng.choice([1, 1, 2, 3, 5, 9])  # singletons included
        # a small member domain gives duplicate members; None gives NULLs
        rows += [(g, rng.choice([None, 0, 1, 2, 3, 4, 5, 6])) for _ in range(size)]
    df = spark.createDataFrame(rows, "k int, m int")

    got = Counter(tuple(r) for r in group_pairs(df, ["k"], "m").collect())
    a, b = df.alias("l"), df.alias("r")
    reference = (
        a.join(b, (F.col("l.k") == F.col("r.k")) & (F.col("l.m") < F.col("r.m")))
        .select(F.col("l.k"), F.col("l.m").alias("a"), F.col("r.m").alias("b"))
        .distinct()
    )
    want = Counter((r.a, r.b) for r in reference.collect())
    assert got and got == want
