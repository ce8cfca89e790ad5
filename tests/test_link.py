"""Entity-linking tests: normalization aliases, minhash determinism, LSH recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgflow.stages.link import (
    _shingles,
    link,
    lsh_alias_edges,
    minhash_signature_from_shingles,
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
    def sig(df):
        sh = df.select(_shingles(F.col("s")).alias("sh"))
        return sh.select(minhash_signature_from_shingles(F.col("sh")).alias("sig")).collect()[0].sig

    sig1 = sig(spark.createDataFrame([("^alpha_beta$",)], "s string").repartition(1))
    sig4 = sig(spark.createDataFrame([("^alpha_beta$",)], "s string").repartition(4))
    assert sig1 == sig4
    assert len(sig1) == 24


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
