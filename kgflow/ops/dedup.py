"""Document deduplication operators.

Exact and normalized dedup are pure hash-groupBys (one shuffle on the
hash — the scalable shape). Near-dup comes in two flavors:

  * ``token_jaccard_pairs`` — deterministic blocked brute force used as
    the oracle-checked correctness baseline (blocking on lang bounds the
    quadratic term; at 100 TB you'd block on minhash bands instead);
  * ``minhash_lsh_pairs`` — the scale path: banded minhash over token
    3-gram shingles, candidate pairs only within (capped) LSH buckets,
    similarity verified from signature agreement. It runs on the
    blocking kernel in kgflow.functions (minhash, lsh_bands, drop_hot,
    group_pairs) that the entity-linking stage (kgflow/stages/link.py)
    shares, over documents instead of symbols.
  * ``simhash_fingerprints`` / ``simhash_pairs`` — 64-bit simhash via
    bit-majority of token xxhash64s; near-dups collide on all but a few
    bits and are found by banding the fingerprint into 4 x 16-bit keys
    (Hamming distance <= 3 guarantees a matching band).

All operators are pure DataFrame expressions — no Python on the
datapath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgflow.caching import track_persist
from kgflow.functions import drop_hot, group_pairs, lsh_bands, minhash

SHINGLE_N = 3
NUM_HASHES = 32
BANDS = 16  # 2 rows per band -> catches jaccard >= ~0.5


def _tokens(col) -> F.Column:
    return F.split(col, " ")


def _token_set(col) -> F.Column:
    return F.array_sort(F.array_distinct(_tokens(col)))


PLANT_EVERY = 10
PLANT_OFFSET = 1_000_000


def _planted_id(id_col: str = "doc_id") -> F.Column:
    """Clone id = id + PLANT_OFFSET, with an IN-PLAN guard: if any real
    id is already >= PLANT_OFFSET the clone ids would collide with real
    ones (silently, and identically in both engines, so parity would
    never catch it) — fail loudly instead. raise_error is per-row
    codegen, so the guard costs no extra scan or action."""
    return F.when(
        F.col(id_col) < PLANT_OFFSET, F.col(id_col) + PLANT_OFFSET
    ).otherwise(
        F.raise_error(
            F.lit(f"{id_col} >= PLANT_OFFSET: planted-duplicate ids would collide")
        )
    )


def plant_exact_duplicates(docs: DataFrame) -> DataFrame:
    """Deterministically derive a corpus WITH duplicates from one
    without: every PLANT_EVERY-th document is re-inserted verbatim under
    doc_id+PLANT_OFFSET. Used by the oracle-checked dedup queries so the
    duplicate-detection path is exercised with a non-empty result on any
    input (the driver's synthetic tables contain no natural dups)."""
    clones = docs.where(F.col("doc_id") % PLANT_EVERY == 0).withColumn(
        "doc_id", _planted_id()
    )
    return docs.unionByName(clones)


def plant_reordered_duplicates(docs: DataFrame) -> DataFrame:
    """Same planting, but clones carry the token-REVERSED text: invisible
    to exact dedup, caught by bag-of-words (normalized) dedup."""
    clones = (
        docs.where(F.col("doc_id") % PLANT_EVERY == 0)
        .withColumn("doc_id", _planted_id())
        .withColumn("text", F.array_join(F.reverse(_tokens(F.col("text"))), " "))
    )
    return docs.unionByName(clones)


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: groups with >1 doc, keeping the
    representative (min id) — sha2-groupBy, the hash-partition-friendly
    shape."""
    return (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("text_sha"))
        .groupBy("text_sha")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def normalized_duplicates(docs: DataFrame) -> DataFrame:
    """Bag-of-words dedup: same token multiset regardless of order."""
    bag = F.md5(F.array_join(F.array_sort(_tokens(F.col("text"))), " "))
    return (
        docs.select("doc_id", bag.alias("bag_md5"))
        .groupBy("bag_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def token_jaccard_pairs(docs: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Near-dup pairs by token-set Jaccard, blocked on lang.

    The correctness baseline: deterministic, oracle-expressible. The
    lang block bounds the self-join; the distinct-token projection
    happens before the join so each side shuffles once.
    """
    sets = docs.select("doc_id", "lang", _token_set(F.col("text")).alias("toks"))
    a = sets.alias("a")
    b = sets.alias("b")
    jac = F.size(F.array_intersect("a.toks", "b.toks")) / F.size(
        F.array_union("a.toks", "b.toks")
    )
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


BUCKET_CAP = 128


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.5, hash_family: str = "xxhash64"
) -> DataFrame:
    """Scale-path near-dup: shingle -> minhash -> band -> bucket-join.

    Never compares two documents unless they collide in a band, so cost
    is O(docs x bands + collisions), not O(docs^2). Two scale guards:

      * buckets larger than BUCKET_CAP are dropped before the
        self-join (a degenerate key would otherwise go quadratic);
      * the banding machinery rides narrow (doc_id, band, key) rows —
        not signatures, not shingle sets; similarity is then verified
        from the minhash *signatures* (agreement / NUM_HASHES is an
        unbiased Jaccard estimate), joined back once per pair side.
        The signature table is referenced three times in the final
        plan (banding + both verify sides), so it is persisted
        (MEMORY_AND_DISK via kgflow.caching.track_persist — callers
        release with release_caches()): ~300 B/doc, i.e. ~300 GB at
        10^9 docs spread over the cluster, vs re-running the shingle +
        32-hash aggregate — the dominant CPU — three times.

    hash_family picks the seeded hash: ``xxhash64`` (JVM-native longs,
    the 100 TB fast path) or ``md5`` (hex strings, lexicographic min —
    slower, but bit-reproducible in DuckDB, so the identical banding/
    capping/verify algorithm gets a full value-hash oracle check).

    Exact-Jaccard verification stays available via token_jaccard_pairs
    (the oracle-checked baseline)."""
    # tokens are MATERIALIZED before the shingle transform (see
    # functions.minhash): an inline split would run once per shingle
    # slot. The shingle array is non-empty by construction
    # (sequence(1, greatest(len-2, 1)) yields >= 1 element even for
    # null text), so no size(sh) > 0 guard; the md5 oracle twin keeps
    # its equally-vacuous `len(sh) > 0` (frozen SQL text).
    toked = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    count = F.greatest(F.size("toks") - (SHINGLE_N - 1), F.lit(1))
    sh = toked.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.array_join(F.slice(F.col("toks"), i, SHINGLE_N), " "),
            )
        ).alias("sh"),
    )

    if hash_family == "xxhash64":
        hashes = [lambda s, j=j: F.xxhash64(s, F.lit(j)) for j in range(NUM_HASHES)]
        band_key = lambda slots: F.xxhash64(*slots)  # noqa: E731
    elif hash_family == "md5":
        hashes = [lambda s, j=j: F.md5(F.concat(s, F.lit(f":{j}"))) for j in range(NUM_HASHES)]
        band_key = lambda slots: F.md5(F.concat_ws("|", *slots))  # noqa: E731
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")

    # referenced three times below (banding + both verify sides) — see
    # docstring for the persist-vs-recompute sizing at 10^9 docs
    sig = track_persist(minhash(sh, ["doc_id"], "sh", hashes))
    # narrow (doc_id, band, key) rows: signatures are joined back once
    # per side, only for surviving candidate pairs. One row per doc per
    # band, so bucket members are already distinct.
    banded = lsh_bands(sig, BANDS, NUM_HASHES // BANDS, band_key)
    pairs = (
        group_pairs(drop_hot(banded, ["band", "key"], BUCKET_CAP), ["band", "key"], "doc_id")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(NUM_HASHES)), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _simhash_fingers(docs: DataFrame, hash_family: str) -> DataFrame:
    """(doc_id, f0..f3): 64-bit bit-majority simhash carried as 4 x
    16-bit band values. Explode + 64 integer vote sums — order-
    independent (partition-invariant) and ~8x faster than a 64-wide
    higher-order-function fold, whose generated code Catalyst cannot
    keep in one codegen stage."""
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok")
    )
    if hash_family == "xxhash64":
        h = F.xxhash64(F.col("tok"))
        chunks = [
            F.shiftright(h, 16 * b).bitwiseAND(F.lit(0xFFFF)).cast("int")
            for b in range(4)
        ]
    elif hash_family == "md5":
        h = F.md5(F.col("tok"))
        chunks = [
            F.conv(F.substring(h, 1 + 4 * b, 4), 16, 10).cast("int") for b in range(4)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    votes = [
        F.sum(
            F.when(F.shiftright(chunks[b], i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}_{i}")
        for b in range(4)
        for i in range(16)
    ]
    voted = tok.groupBy("doc_id").agg(*votes)
    return voted.select(
        "doc_id",
        *[
            sum(
                [
                    F.when(F.col(f"v{b}_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                    for i in range(16)
                ],
                F.lit(0),
            ).cast("long").alias(f"f{b}")
            for b in range(4)
        ],
    )


def _simhash_banded_pairs(fingers: DataFrame, max_hamming: int) -> DataFrame:
    """Band on the 4 x 16-bit blocks (any pair within Hamming distance 3
    shares at least one block — the pigeonhole blocking of Manku et al.,
    WWW'07), verify by exact popcount of the per-block XORs.

    ``fingers`` feeds both sides of the self-join, so it is persisted
    (32 B/doc) — the alternative re-runs the explode + 64-vote-sum
    aggregation, the dominant CPU of the whole operator, twice."""
    fingers = track_persist(fingers)
    banded = fingers.select(
        "doc_id",
        "f0",
        "f1",
        "f2",
        "f3",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"f{b}").alias("key"))
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "f0", "f1", "f2", "f3", "bk.band", "bk.key")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = sum(
        [
            F.bit_count(F.col(f"a.f{k}").bitwiseXOR(F.col(f"b.f{k}")))
            for k in range(4)
        ],
        F.lit(0),
    ).cast("long")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_md5(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """md5 twin of simhash_pairs: identical fingerprint/banding/verify
    logic (shared helpers above), but per-token hashes come from md5 —
    bit-reproducible in DuckDB, so the whole algorithm gets a
    value-hash oracle check (simhash_md5_oracle_sql)."""
    return _simhash_banded_pairs(_simhash_fingers(docs, "md5"), max_hamming)


def minhash_md5_oracle_sql(threshold: float = 0.5) -> str:
    """DuckDB SQL twin of minhash_lsh_pairs(hash_family='md5') —
    generated programmatically so the 32 signature slots and 16 band
    keys stay in lockstep with NUM_HASHES/BANDS."""
    rows = NUM_HASHES // BANDS
    sig_slots = ",\n         ".join(
        f"list_min(list_transform(sh, s -> md5(s || ':{j}')))" for j in range(NUM_HASHES)
    )
    band_keys = ",\n         ".join(
        "md5("
        + " || '|' || ".join(f"sig[{b * rows + r + 1}]" for r in range(rows))
        + f") AS key{b}"
        for b in range(BANDS)
    )
    key_case = " ".join(f"WHEN {b} THEN key{b}" for b in range(BANDS))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
shingled AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - {SHINGLE_N - 1}, 1) + 1),
             i -> array_to_string(t[i:i+{SHINGLE_N - 1}], ' '))) AS sh
  FROM toks
),
sig AS (
  SELECT doc_id,
         [{sig_slots}] AS sig
  FROM shingled WHERE len(sh) > 0
),
keyed AS (
  SELECT doc_id, sig,
         {band_keys}
  FROM sig
),
banded AS (
  SELECT doc_id, sig, b.band,
         CASE b.band {key_case} END AS key
  FROM keyed, (SELECT unnest(range(0, {BANDS})) AS band) b
),
sizes AS (SELECT band, key, count(*) AS n FROM banded GROUP BY 1, 2),
capped AS (
  SELECT banded.* FROM banded JOIN sizes USING (band, key) WHERE n <= {BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_filter(range(1, {NUM_HASHES} + 1), i -> a.sig[i] = b.sig[i]))
             / CAST({NUM_HASHES} AS DOUBLE), 4) AS jaccard
FROM capped a JOIN capped b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE round(len(list_filter(range(1, {NUM_HASHES} + 1), i -> a.sig[i] = b.sig[i]))
            / CAST({NUM_HASHES} AS DOUBLE), 4) >= {threshold}
"""


def simhash_md5_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB SQL twin of simhash_pairs_md5 — the 64 per-bit vote sums
    are generated, not hand-written."""
    nib = "strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1"
    chunk = lambda b: " + ".join(  # noqa: E731
        f"({nib.format(pos=1 + 4 * b + k)}) * {16 ** (3 - k)}" for k in range(4)
    )
    chunk_cols = ",\n       ".join(f"({chunk(b)}) AS c{b}" for b in range(4))
    vote_cols = ",\n       ".join(
        f"sum(CASE WHEN (c{b} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}_{i}"
        for b in range(4)
        for i in range(16)
    )
    finger_cols = ",\n       ".join(
        " + ".join(f"(CASE WHEN v{b}_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
        + f" AS f{b}"
        for b in range(4)
    )
    key_case = " ".join(f"WHEN {b} THEN f{b}" for b in range(4))
    ham = " + ".join(f"bit_count(xor(a.f{k}, b.f{k}))" for k in range(4))
    return f"""
WITH dtok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashed AS (SELECT doc_id, md5(tok) AS h FROM dtok),
chunks AS (
  SELECT doc_id,
       {chunk_cols}
  FROM hashed
),
votes AS (
  SELECT doc_id,
       {vote_cols}
  FROM chunks GROUP BY doc_id
),
fingers AS (
  SELECT doc_id,
       {finger_cols}
  FROM votes
),
banded AS (
  SELECT doc_id, f0, f1, f2, f3, b.band,
         CASE b.band {key_case} END AS key
  FROM fingers, (SELECT unnest(range(0, 4)) AS band) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE {ham} <= {max_hamming}
"""


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit simhash: per-token xxhash64, bit-majority vote, packed
    into one long (bit 16b+i of the fingerprint = bit i of band b)."""
    fingers = _simhash_fingers(docs, "xxhash64")
    packed = (
        F.col("f0")
        .bitwiseOR(F.shiftleft(F.col("f1"), 16))
        .bitwiseOR(F.shiftleft(F.col("f2"), 32))
        .bitwiseOR(F.shiftleft(F.col("f3"), 48))
    )
    return fingers.select("doc_id", packed.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates by simhash banding, xxhash64 family (the
    100 TB fast path; simhash_pairs_md5 is the oracle-checked twin)."""
    return _simhash_banded_pairs(_simhash_fingers(docs, "xxhash64"), max_hamming)
