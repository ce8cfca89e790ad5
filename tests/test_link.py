"""Entity-linking tests: normalization aliases, minhash determinism, LSH
recall and the bucket cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgflow.functions import minhash
from kgflow.stages.link import (
    BUCKET_CAP,
    NUM_HASHES,
    _shingles,
    link,
    lsh_alias_edges,
    norm_alias_edges,
    symbol_dictionary,
)


def _dict(spark, symbols):
    triples = spark.createDataFrame(
        [("r", "DECLARES", s, "sha", "r", "python") for s in symbols],
        "subj string, pred string, obj string, src_sha string, repo string, lang string",
    )
    return symbol_dictionary(triples)


def test_norm_aliases_link_case_and_underscore_variants(spark):
    d = _dict(spark, ["parse_config", "parseConfig", "ParseConfig", "PARSE_CONFIG", "other_thing"])
    edges = {(r.src, r.dst) for r in norm_alias_edges(d).collect()}
    # star edges from the min symbol of the group
    hub = min(["parse_config", "parseConfig", "ParseConfig", "PARSE_CONFIG"])
    assert {(a, b) for a, b in edges if "ars" in a.lower() or "ars" in b.lower()} == {
        (hub, s)
        for s in ["parse_config", "parseConfig", "ParseConfig", "PARSE_CONFIG"]
        if s != hub
    }
    assert not any("other_thing" in e for pair in edges for e in pair)


def test_minhash_signature_deterministic_and_partition_invariant(spark):
    """functions.minhash (explode + one aggregate of NUM_HASHES mins)
    equals the per-slot array_min(transform(...)) form on ASCII,
    unicode, one-character and repeated-shingle symbols, whatever the
    partitioning."""
    symbols = ["^alpha_beta$", "^größe_straße$", "^数据_加载$", "x", "^aaaaaaaa$", "^abab_abab$"]

    def hash_j(j: int):
        # single-arg lambda: with two args F.transform passes the array
        # index as the second parameter
        return lambda s: F.xxhash64(s, F.lit(j))

    def sigs(n_partitions: int):
        shingled = (
            spark.createDataFrame([(s,) for s in symbols], "symbol string")
            .repartition(n_partitions)
            .select("symbol", _shingles(F.col("symbol")).alias("sh"))
        )
        reference = shingled.select(
            "symbol",
            F.array(*[F.array_min(F.transform("sh", hash_j(j))) for j in range(NUM_HASHES)]).alias("sig"),
        )
        hashes = [lambda s, j=j: F.xxhash64(s, F.lit(j)) for j in range(NUM_HASHES)]
        got = minhash(shingled, ["symbol"], "sh", hashes)
        return (
            {r.symbol: r.sig for r in got.collect()},
            {r.symbol: r.sig for r in reference.collect()},
        )

    sig1, ref1 = sigs(1)
    sig4, ref4 = sigs(4)
    assert sig1 == ref1 == sig4 == ref4
    assert set(sig1) == set(symbols)
    assert all(len(sig) == NUM_HASHES for sig in sig1.values())


def test_lsh_finds_near_duplicate_symbols(spark):
    # one-char typo: high shingle overlap, different norm
    d = _dict(spark, ["configuration_loader", "configuration_loadder", "zzz_unrelated"])
    pairs = {(r.src, r.dst) for r in lsh_alias_edges(d).collect()}
    assert ("configuration_loadder", "configuration_loader") in pairs or (
        "configuration_loader",
        "configuration_loadder",
    ) in pairs
    assert not any("zzz_unrelated" in p for pair in pairs for p in pair)


def test_link_end_to_end_dedupes_edges(spark):
    # the configuration_* family fires both the norm and the LSH rule,
    # whose edge sets link unions without a dedup
    d_syms = [
        "merge_rows", "mergeRows", "MERGE_ROWS",
        "configuration_loader", "configurationLoader", "configuration_loadder",
    ]
    triples = spark.createDataFrame(
        [("r", "DECLARES", s, "sha", "r", "python") for s in d_syms * 2],
        "subj string, pred string, obj string, src_sha string, repo string, lang string",
    )
    _, edges = link(triples)
    pairs = [(r.src, r.dst) for r in edges.collect()]
    assert len(pairs) == len(set(pairs))  # no dup edges
    assert not {(b, a) for a, b in pairs} & set(pairs)  # nor both orientations
    assert len(pairs) >= 4
    lsh = {(r.src, r.dst) for r in lsh_alias_edges(symbol_dictionary(triples)).collect()}
    assert {p for p in lsh if "configuration_loadder" in p}  # the LSH rule fired


def _case_variants(word: str, k: int) -> list[str]:
    """k distinct spellings of `word` that differ only in letter case
    (so they share one norm): variant n upper-cases the letters at the
    set bits of n."""
    letters = [i for i, c in enumerate(word) if c.isalpha()]
    out = []
    for n in range(k):
        chars = list(word)
        for bit, pos in enumerate(letters):
            if n >> bit & 1:
                chars[pos] = chars[pos].upper()
        out.append("".join(chars))
    return out


@pytest.mark.parametrize("k, linked", [(BUCKET_CAP - 1, True), (BUCKET_CAP, False)])
def test_lsh_bucket_cap_boundary(spark, k, linked):
    """A bucket of exactly BUCKET_CAP spellings is paired, one more is
    dropped. k case variants of configuration_loader have one norm, so
    one signature; every bucket they share with configuration_loadder
    holds k + 1 spellings."""
    variants = _case_variants("configuration_loader", k)
    assert len(set(variants)) == k
    d = _dict(spark, variants + ["configuration_loadder"])
    crossing = [
        r for r in lsh_alias_edges(d).collect() if "configuration_loadder" in (r.src, r.dst)
    ]
    assert bool(crossing) == linked
