"""Query registry: every implemented operator exposed to the driver
contract (__spark_entry__.queries / oracle_sql).

Two groups:
  * relational operator families (kgflow.analytics.relational) — all
    oracle-checked;
  * training-data ops over documents/embeddings (kgflow.ops.*) — oracle
    SQL where DuckDB can express the same deterministic computation,
    rows-only otherwise (minhash/simhash/LSH use Spark's xxhash64,
    which DuckDB cannot reproduce).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgflow.analytics import relational
from kgflow.analytics.tables import load
from kgflow.ops import dedup, similarity, text

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = dict(relational.QUERIES)
ORACLE_SQL: dict[str, str] = dict(relational.SQL)


def _register(name: str, fn: QueryFn, sql: str | None = None) -> None:
    QUERIES[name] = fn
    if sql is not None:
        ORACLE_SQL[name] = sql


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

# Both dedup queries run over a corpus with deterministically PLANTED
# duplicates (every 10th doc re-inserted; see dedup.plant_*) so the
# duplicate-detection path returns non-empty, hash-checked results —
# the raw synthetic tables contain no natural dups, which made the
# round-1 oracle passes vacuous.
_PLANTED_EXACT = """
(SELECT * FROM documents
 UNION ALL
 SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
 FROM documents WHERE doc_id % 10 = 0)
"""

_PLANTED_REORDERED = """
(SELECT * FROM documents
 UNION ALL
 SELECT doc_id + 1000000 AS doc_id,
        array_to_string(list_reverse(string_split(text, ' ')), ' ') AS text,
        lang, source, n_chars
 FROM documents WHERE doc_id % 10 = 0)
"""

_register(
    "dedup_exact",
    lambda spark, sf: dedup.exact_duplicates(
        dedup.plant_exact_duplicates(load(spark, sf, "documents"))
    ),
    f"""
SELECT sha256(text) AS text_sha, count(*) AS n_docs, min(doc_id) AS keep_id
FROM {_PLANTED_EXACT} GROUP BY sha256(text) HAVING count(*) > 1
""",
)

_register(
    "dedup_normalized",
    lambda spark, sf: dedup.normalized_duplicates(
        dedup.plant_reordered_duplicates(load(spark, sf, "documents"))
    ),
    f"""
SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_md5,
       count(*) AS n_docs, min(doc_id) AS keep_id
FROM {_PLANTED_REORDERED}
GROUP BY 1 HAVING count(*) > 1
""",
)

_register(
    "dedup_token_jaccard",
    lambda spark, sf: dedup.token_jaccard_pairs(load(spark, sf, "documents"), 0.9),
    """
WITH sets AS (
  SELECT doc_id, lang, list_sort(list_distinct(string_split(text, ' '))) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.toks, b.toks))
             / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE),
             4) AS jaccard
FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.toks, b.toks))
            / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE),
            4) >= 0.9
""",
)

# scale-path near-dup: Spark-hash-based (xxhash64), rows-only oracle
_register(
    "dedup_minhash_lsh",
    lambda spark, sf: dedup.minhash_lsh_pairs(load(spark, sf, "documents"), 0.5),
)
_register(
    "dedup_simhash",
    lambda spark, sf: dedup.simhash_pairs(load(spark, sf, "documents"), 3),
)

# md5-seeded twins of the same algorithms: identical banding / capping /
# verification logic, but with a hash family DuckDB can reproduce —
# these give the LSH code paths a full value-hash oracle check while
# the xxhash64 variants above remain the 100 TB fast path.
_register(
    "dedup_minhash_lsh_md5",
    lambda spark, sf: dedup.minhash_lsh_pairs(
        load(spark, sf, "documents"), 0.5, hash_family="md5"
    ),
    dedup.minhash_md5_oracle_sql(0.5),
)
_register(
    "dedup_simhash_md5",
    lambda spark, sf: dedup.simhash_pairs_md5(load(spark, sf, "documents"), 3),
    dedup.simhash_md5_oracle_sql(3),
)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

def _queries_from_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    return emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


_register(
    "ann_cosine_topk",
    lambda spark, sf: similarity.brute_force_topk(
        load(spark, sf, "embeddings"), _queries_from_embeddings(spark, sf), k=5
    ),
    """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cos
  FROM embeddings e JOIN q ON e.vec_id != q.query_id
)
SELECT query_id, vec_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)

def _q_dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    # planted near-dups (see similarity.plant_near_duplicate_vectors):
    # the synthetic embeddings have no natural cos>=0.95 pairs, so the
    # detectors run over a corpus with every 10th vector re-inserted.
    # BOTH blocking strategies run under this one gate row (method
    # column): label_blocked is the deterministic baseline; lsh_bucketed
    # is the actual 100 TB plan (no semantic label exists on a raw
    # crawl) with the degenerate-bucket cap wired, hash-checked against
    # a DuckDB twin sharing the hyperplane constants.
    planted = similarity.plant_near_duplicate_vectors(load(spark, sf, "embeddings"))
    blocked = similarity.embedding_near_duplicates(planted, 0.95).withColumn(
        "method", F.lit("label_blocked")
    )
    lsh = similarity.embedding_near_duplicates_lsh(
        planted,
        dim=_embedding_dim(spark, sf),
        threshold=0.95,
        bucket_cap=similarity.DEFAULT_BUCKET_CAP,
    ).withColumn("method", F.lit("lsh_bucketed"))
    return blocked.unionByName(lsh)


_register(
    "dedup_embedding_cosine",
    _q_dedup_embedding_cosine,
    """
WITH planted AS (
  SELECT * FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding, label
  FROM embeddings WHERE vec_id % 10 = 0
),
v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec FROM planted)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.vec, b.vec), 6) AS cos,
       'label_blocked' AS method
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.vec, b.vec), 6) >= 0.95
UNION ALL
SELECT vec_a, vec_b, cos, 'lsh_bucketed' AS method
FROM ("""
    + similarity.embedding_near_dup_lsh_oracle_sql(
        dim=64, threshold=0.95, source="planted"
    )
    + """)
""",
)

# oracle generated with dim=64 — the dimension of every testdata
# embeddings table; the Spark side reads the dim from the data, so a
# future dim change shows up as an immediate schema/row mismatch here.
# Both ANN queries run with their per-bucket/per-cluster caps WIRED
# (round-4 verdict item 6) so the gate executes the exact capped plan
# shape recommended at scale; the caps are far above measured max
# occupancy on these tables (7/bucket, 154/cluster at sf0.1), so the
# capped results equal the uncapped oracle's bit-for-bit.
_register(
    "ann_lsh_topk",
    lambda spark, sf: similarity.lsh_topk(
        load(spark, sf, "embeddings"),
        _queries_from_embeddings(spark, sf),
        dim=_embedding_dim(spark, sf),
        k=5,
        bucket_cap=similarity.DEFAULT_BUCKET_CAP,
    ),
    similarity.lsh_topk_oracle_sql(dim=64, k=5),
)

# IVF-flat twin of the LSH path: nearest-centroid inverted lists with
# nprobe probing (the other canonical ANN index family the task brief
# names). Centroids are hash-seeded so the oracle embeds identical
# constants — see similarity._centroid; the trained-centroid path
# (similarity.train_centroids) is pinned by
# tests/test_ops.py::test_trained_centroids_beat_hash_seeded_recall
# and has no SQL oracle (k-means is not DuckDB-expressible).
_register(
    "ann_ivf_topk",
    lambda spark, sf: similarity.ivf_topk(
        load(spark, sf, "embeddings"),
        _queries_from_embeddings(spark, sf),
        dim=_embedding_dim(spark, sf),
        k=5,
        cluster_cap=similarity.DEFAULT_CLUSTER_CAP,
    ),
    similarity.ivf_topk_oracle_sql(dim=64, k=5),
)


_DIM_CACHE: "dict[str, int]" = {}


def _embedding_dim(spark: SparkSession, sf: str) -> int:
    # cached per data dir: the dim is a schema-level constant of the
    # embeddings table, but reading it costs a full Spark job (~0.2 s)
    # that every ANN query build was paying per bench iteration
    dim = _DIM_CACHE.get(sf)
    if dim is None:
        row = load(spark, sf, "embeddings").select(F.size("embedding")).first()
        dim = int(row[0])
        _DIM_CACHE[sf] = dim
    return dim


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

_register(
    "text_quality",
    lambda spark, sf: text.quality_scores(load(spark, sf, "documents")),
    """
SELECT doc_id, lang,
       length(text) AS n_chars_actual,
       len(string_split(text, ' ')) AS n_tokens,
       round(CASE WHEN len(string_split(text, ' ')) > 0
             THEN length(text) / CAST(len(string_split(text, ' ')) AS DOUBLE)
             ELSE 0.0 END, 4) AS chars_per_token,
       round(CASE WHEN len(string_split(text, ' ')) > 0
             THEN len(list_filter(string_split(text, ' '),
                  t -> t IN ('the','a','of','to','and','in','is','for','on','with')))
                  / CAST(len(string_split(text, ' ')) AS DOUBLE)
             ELSE 0.0 END, 4) AS stopword_ratio,
       round(CASE WHEN length(text) > 0
             THEN length(regexp_replace(text, '[^A-Z]', '', 'g'))
                  / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END, 4) AS upper_ratio
FROM documents
""",
)

_register(
    "token_stats_by_lang",
    lambda spark, sf: text.token_stats_by_lang(load(spark, sf, "documents")),
    """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
       CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens
FROM documents GROUP BY lang
""",
)

_register(
    "doc_fingerprints",
    lambda spark, sf: text.fingerprints(load(spark, sf, "documents")),
    """
SELECT doc_id, md5(text) AS text_md5,
       md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS bag_md5
FROM documents
""",
)

_register(
    "bpe_ish_token_count",
    lambda spark, sf: text.bpe_ish_token_count(load(spark, sf, "documents")),
    r"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
FROM documents
""",
)

_register(
    "langid_predict",
    lambda spark, sf: text.classify_language(
        load(spark, sf, "documents"),
        text.language_profiles(load(spark, sf, "documents")),
    ),
    """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
freq AS (SELECT lang, tok, count(*) AS n FROM tok GROUP BY 1, 2),
prof AS (
  SELECT lang, tok, rank FROM (
    SELECT lang, tok,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rank
    FROM freq
  ) WHERE rank <= 20
),
dtok AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
scored AS (
  SELECT doc_id, p.lang,
         round(sum(CAST(1.0 AS DOUBLE) / rank), 4) AS score
  FROM dtok d JOIN prof p ON d.tok = p.tok
  GROUP BY 1, 2
)
SELECT doc_id, lang AS predicted_lang, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM scored
) WHERE rn = 1
""",
)


# --------------------------------------------------------------------------
# KG extraction vs frozen golden (hash-checked)
# --------------------------------------------------------------------------

# tests/data/kg_golden_500.parquet is the FROZEN golden (subj,pred,obj)
# set for the deterministic 500-file synthetic corpus (committed;
# regenerate with tools — it is fixtures.golden_triples(500) sorted).
# Registering extraction output against it closes the last meaningful
# no_oracle row: the oracle side is a plain parquet read DuckDB can
# hash, the Spark side is the real ingest->extract path, and the two
# are exact-set-equal by construction (SURVEY §5.2 item 2 semantics,
# verified in tests/test_extract.py).
_KG_GOLDEN = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "tests", "data", "kg_golden_500.parquet"
    )
)


def _kg_triples(spark: SparkSession, sf: str) -> DataFrame:
    from kgflow import fixtures
    from kgflow.stages.extract import extract
    from kgflow.stages.ingest import ingest

    n = 500  # fixed deterministic corpus regardless of sf_dir
    return (
        extract(ingest(fixtures.source_files(spark, n)))
        .select("subj", "pred", "obj")
        .distinct()
    )


_register(
    "kg_extract_triples",
    _kg_triples,
    f"SELECT subj, pred, obj FROM '{_KG_GOLDEN}'",
)


def _kg_canonical_map(spark: SparkSession, sf: str) -> DataFrame:
    """The canonicalization stage (iterative large-star/small-star
    connected components) under the hash gate: with fuzzy linking off,
    alias edges are exactly the norm-equality star edges, so components
    are exactly the norm groups — which DuckDB can recompute from the
    frozen golden with a groupBy, no recursion needed. The Spark side
    still runs the REAL iterative CC loop and its star-forest stop; a
    wrong fixpoint (split or merged component, wrong canonical pick)
    hash-mismatches."""
    from kgflow import fixtures
    from kgflow.stages.canonicalize import canonical_map
    from kgflow.stages.extract import extract
    from kgflow.stages.ingest import ingest
    from kgflow.stages.link import norm_alias_edges, symbol_dictionary

    triples = extract(ingest(fixtures.source_files(spark, 500)))
    return canonical_map(norm_alias_edges(symbol_dictionary(triples))).select(
        "member", "canonical"
    )


_register(
    "kg_canonical_map",
    _kg_canonical_map,
    f"""
WITH symbols AS (
  SELECT DISTINCT obj AS symbol FROM '{_KG_GOLDEN}' WHERE pred = 'DECLARES'
),
grp AS (
  SELECT symbol, lower(regexp_replace(symbol, '[_\\-.]', '', 'g')) AS norm
  FROM symbols
),
agg AS (
  SELECT norm, min(symbol) AS canonical, count(*) AS n FROM grp GROUP BY norm
)
SELECT g.symbol AS member, a.canonical
FROM grp g JOIN agg a USING (norm)
WHERE a.n >= 2
""",
)


# --------------------------------------------------------------------------
# Generic row->graph transform (reference graph-transformation semantics)
# --------------------------------------------------------------------------

from kgflow.analytics import graph_transform as _gt  # noqa: E402
from kgflow.analytics import graph_enrich as _ge  # noqa: E402

_register("graph_nodes_per_label", _gt.nodes_per_label, _gt.NODES_PER_LABEL_SQL)
_register("graph_edges_per_type", _gt.edges_per_type, _gt.EDGES_PER_TYPE_SQL)
_register(
    "graph_enrich_customer_props",
    _ge.enrich_customer_props,
    _ge.ENRICH_CUSTOMER_PROPS_SQL,
)
