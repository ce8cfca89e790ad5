"""Stage 3 — entity linking: alias discovery over extracted symbols.

The reference's closest analogue is its unsalted self-join for
co-purchase pairs (product-recommendations.py:59-67) — a quadratic
blow-up on hot keys. We replace that shape with the two scale-safe
idioms the north_star names:

  1. **Broadcast dictionary join** — normalized-form equality. The
     symbol dictionary is bounded (distinct symbols, not files), so it
     broadcasts; the probe side never shuffles.
  2. **MinHash/LSH banding** — fuzzy alias candidates without a cross
     join, over the blocking kernel in kgflow.functions shared with
     ops/dedup.py: character-shingle minhash signatures (`minhash`,
     one codegen aggregate — no Python), band keys exploded
     (`lsh_bands`), and the self-join runs *within LSH buckets only*.
     Buckets over a row cap are dropped (`drop_hot`, the skew guard), and
     candidates are verified with exact Jaccard before becoming alias
     edges.

Output: (a) the symbol dictionary, one row per distinct declared symbol
with its normalized key, (b) undirected alias edges (sym_a, sym_b)
feeding connected-components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgflow.functions import drop_hot, lsh_bands, minhash

SHINGLE_LEN = 3
NUM_HASHES = 24
BANDS = 8  # rows per band = NUM_HASHES // BANDS = 3
JACCARD_THRESHOLD = 0.55
BUCKET_CAP = 64  # larger LSH buckets are skew-dropped (functions.drop_hot); nothing counts the drops yet


def _norm(col: F.Column) -> F.Column:
    """Normalization key: case- and word-separator-insensitive, and
    insensitive to snake/camel boundaries (parse_config == parseConfig ==
    ParseConfig == PARSE_CONFIG). Pure string expressions — codegen'd."""
    return F.lower(F.regexp_replace(col, r"[_\-.]", ""))


def symbol_dictionary(triples: DataFrame) -> DataFrame:
    """Distinct declared symbols, each with its normalized key.

    One shuffle (the distinct); output is O(|vocabulary|), which is what
    makes the downstream broadcast join legal at 100 TB input.
    """
    return (
        triples.where(F.col("pred") == "DECLARES")
        .select(F.col("obj").alias("symbol"))
        .distinct()
        .withColumn("norm", _norm(F.col("symbol")))
    )


def norm_alias_edges(dictionary: DataFrame) -> DataFrame:
    """Exact-normalization alias edges: symbols sharing a norm key.

    Instead of self-joining the dictionary on norm (quadratic in group
    size), pick each group's min symbol as a hub and emit star edges —
    linear in group size and already the shape connected-components
    converges to fastest.
    """
    hubs = dictionary.groupBy("norm").agg(F.min("symbol").alias("hub"))
    return (
        dictionary.join(hubs, "norm")
        .where(F.col("symbol") != F.col("hub"))
        .select(F.col("hub").alias("src"), F.col("symbol").alias("dst"))
    )


def _shingles(padded: F.Column) -> F.Column:
    """Distinct character shingles of an already-bound padded column.
    Pass a bound column (F.col), not an inline expression: the lambda
    re-evaluates its captured expression once per element."""
    n = F.greatest(F.length(padded) - (SHINGLE_LEN - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.substring(padded, i, SHINGLE_LEN),
        )
    )


def lsh_alias_edges(dictionary: DataFrame) -> DataFrame:
    """Fuzzy alias candidates via banded minhash (kgflow.functions),
    verified by exact Jaccard over shingle sets.

    Plan shape: shingles -> minhash aggregate -> band explode ->
    (band, key) self-join -> exact verify. No pair of symbols is ever
    compared unless they collide in some band, and buckets above
    BUCKET_CAP are dropped (drop_hot: a hot bucket means a degenerate
    key — e.g. thousands of one-char symbols — whose pairs would be
    quadratic; precision is protected by the verify step and recall by
    the remaining bands).
    """
    # Bind the padded string, then the shingle array, so each piece is
    # computed once per row: interpreted HOFs re-evaluate inline
    # subexpressions per element. The dictionary's norm column IS
    # _norm(symbol); one row per symbol, so the minhash groups are rows.
    padded = dictionary.select(
        "symbol",
        "norm",
        F.concat(F.lit("^"), F.col("norm"), F.lit("$")).alias("p"),
    )
    shingled = padded.select("symbol", "norm", _shingles(F.col("p")).alias("sh"))
    hashes = [lambda s, j=j: F.xxhash64(s, F.lit(j)) for j in range(NUM_HASHES)]
    sig = minhash(shingled, ["symbol", "norm", "sh"], "sh", hashes)
    banded = lsh_bands(sig, BANDS, NUM_HASHES // BANDS, lambda slots: F.xxhash64(*slots))

    # The banded table feeds three plan branches (the hot list + both
    # self-join sides); materialize it once — it is O(vocab x BANDS),
    # bounded, and recomputing it re-runs the whole signature tree.
    banded = banded.localCheckpoint(eager=True)
    capped = drop_hot(banded, ["band", "key"], BUCKET_CAP)

    left = capped.select("band", "key", F.col("symbol").alias("src"), F.col("sh").alias("sh_a"), F.col("norm").alias("norm_a"))
    right = capped.select("band", "key", F.col("symbol").alias("dst"), F.col("sh").alias("sh_b"), F.col("norm").alias("norm_b"))
    pairs = (
        left.join(right, ["band", "key"])
        .where(F.col("src") < F.col("dst"))
        # norm-equal pairs are already linked by norm_alias_edges
        .where(F.col("norm_a") != F.col("norm_b"))
        .select("src", "dst", "sh_a", "sh_b")
        .dropDuplicates(["src", "dst"])
    )
    jaccard = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return pairs.where(jaccard >= JACCARD_THRESHOLD).select("src", "dst")


def link(triples: DataFrame, fuzzy: bool = True) -> tuple[DataFrame, DataFrame]:
    """triples -> (symbol dictionary, undirected alias edges).

    The dictionary is materialized once (localCheckpoint): it is
    O(|vocabulary|) — bounded regardless of corpus size — and feeds
    many plan branches (hub grouping, hub join, LSH signatures); without
    the checkpoint each branch re-aggregates the full triple stream."""
    dictionary = symbol_dictionary(triples).localCheckpoint(eager=True)
    edges = norm_alias_edges(dictionary)
    if fuzzy:
        # disjoint, no dedup needed: norm edges join norm-equal symbols
        # (each once, the dictionary is grouped by symbol); LSH edges are
        # deduplicated and filtered to norm_a != norm_b
        edges = edges.unionByName(lsh_alias_edges(dictionary))
    return dictionary, edges
