"""Stage 3 — entity linking: alias discovery over extracted symbols.

The reference's closest analogue is its unsalted self-join for
co-purchase pairs (product-recommendations.py:59-67) — a quadratic
blow-up on hot keys. We replace that shape with the two scale-safe
idioms the north_star names:

  1. **Broadcast dictionary join** — normalized-form equality. The
     symbol dictionary is bounded (distinct symbols, not files), so it
     broadcasts; the probe side never shuffles.
  2. **MinHash/LSH banding** — fuzzy alias candidates without a cross
     join. Character-shingle minhash signatures are computed with pure
     JVM expressions (sequence/transform/xxhash64/array_min — no
     Python), band keys exploded, and the self-join runs *within LSH
     buckets only*. Hot buckets are frequency-capped (skew guard), and
     candidates are verified with exact Jaccard before becoming alias
     edges.

Output: (a) the symbol dictionary with normalized keys, (b) undirected
alias edges (sym_a, sym_b) feeding connected-components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SHINGLE_LEN = 3
NUM_HASHES = 24
BANDS = 8  # rows per band = NUM_HASHES // BANDS = 3
JACCARD_THRESHOLD = 0.55
BUCKET_CAP = 64  # larger LSH buckets are skew-dropped; nothing counts the drops yet


def _norm(col: F.Column) -> F.Column:
    """Normalization key: case- and word-separator-insensitive, and
    insensitive to snake/camel boundaries (parse_config == parseConfig ==
    ParseConfig == PARSE_CONFIG). Pure string expressions — codegen'd."""
    return F.lower(F.regexp_replace(col, r"[_\-.]", ""))


def symbol_dictionary(triples: DataFrame) -> DataFrame:
    """Distinct declared symbols with normalized key + frequency.

    One shuffle (the groupBy); output is O(|vocabulary|), which is what
    makes the downstream broadcast join legal at 100 TB input.
    """
    return (
        triples.where(F.col("pred") == "DECLARES")
        .groupBy(F.col("obj").alias("symbol"))
        .agg(F.count(F.lit(1)).alias("freq"))
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


def minhash_signature_from_shingles(sh_col: F.Column) -> F.Column:
    """array<long> of NUM_HASHES min-hashes over a MATERIALIZED shingle
    column. Pass a bound column, not an inline _shingles(...) expression:
    each of the NUM_HASHES transforms evaluates its array argument once
    per row, so an inline shingle expression would be re-computed
    NUM_HASHES times per row (interpreted HOFs have no CSE — measured
    as the dominant cost of the alias_edges stage at 500k files)."""
    def hash_j(j: int):
        # single-arg lambda: with two args F.transform passes the array
        # index as the second parameter, silently breaking the seed
        return lambda s: F.xxhash64(s, F.lit(j))

    return F.array(
        *[F.array_min(F.transform(sh_col, hash_j(j))) for j in range(NUM_HASHES)]
    )


def lsh_alias_edges(dictionary: DataFrame) -> DataFrame:
    """Fuzzy alias candidates via banded minhash, verified by exact
    Jaccard over shingle sets.

    Plan shape: one narrow stage computes signatures + band keys,
    explode → shuffle on (band, key) → in-bucket self-join → exact
    verify. No pair of symbols is ever compared unless they collide in
    some band, and buckets above BUCKET_CAP are dropped (a hot bucket
    means a degenerate key — e.g. thousands of one-char symbols — whose
    pairs would be quadratic; precision is protected by the verify step
    and recall by the remaining bands).
    """
    # Bind the padded string, then the shingle array, then compute the
    # signature from the bound column, so each piece is computed once
    # per row: interpreted HOFs re-evaluate inline subexpressions per
    # element, and the signature reads the shingles NUM_HASHES times
    # (inline, this cost 25.4 s of build wall at 500k files; bound, ~3 s).
    # The dictionary's norm column IS _norm(symbol).
    padded = dictionary.select(
        "symbol",
        "norm",
        F.concat(F.lit("^"), F.col("norm"), F.lit("$")).alias("p"),
    )
    shingled = padded.select("symbol", "norm", _shingles(F.col("p")).alias("sh"))
    with_sig = shingled.select(
        "symbol",
        "norm",
        "sh",
        minhash_signature_from_shingles(F.col("sh")).alias("sig"),
    )
    rows_per_band = NUM_HASHES // BANDS
    banded = with_sig.select(
        "symbol",
        "norm",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("key"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("bk"),
    ).select("symbol", "norm", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    # The banded table feeds three plan branches (bucket sizing + both
    # self-join sides); materialize it once — it is O(vocab x BANDS),
    # bounded, and recomputing it re-runs the whole signature tree.
    banded = banded.localCheckpoint(eager=True)

    # Skew guard: cap bucket size before the in-bucket self-join.
    bucket_sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bucket_n"))
    capped = banded.join(
        bucket_sizes.where(F.col("bucket_n") <= BUCKET_CAP).select("band", "key"),
        ["band", "key"],
    )

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
    many plan branches (hub grouping, hub join, LSH signatures, bucket
    sizing, both self-join sides); without the checkpoint each branch
    re-aggregates the full triple stream."""
    dictionary = symbol_dictionary(triples).localCheckpoint(eager=True)
    edges = norm_alias_edges(dictionary)
    if fuzzy:
        # disjoint, no dedup needed: norm edges join norm-equal symbols
        # (each once, the dictionary is grouped by symbol); LSH edges are
        # deduplicated and filtered to norm_a != norm_b
        edges = edges.unionByName(lsh_alias_edges(dictionary))
    return dictionary, edges
