"""Relational operator families (SURVEY.md §2) over the TPC-H-ish tables.

Each public function `q_*(spark, sf_dir) -> DataFrame` has a matching
`SQL["*"]` oracle string (DuckDB dialect-compatible ANSI SQL) — the
driver runs both and hash-compares values, so every computed column is
aliased identically on both sides and doubles are rounded to absorb
summation-order noise.

Reference citations: each query names the operator rows from SURVEY §2
it exercises and the reference use-site it generalizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kgflow.analytics.tables import load
from kgflow.functions import drop_hot, group_pairs

SQL: dict[str, str] = {}

# Session-scoped tracked caches — shared with kgflow.ops (the minhash/
# simhash signature tables persist the same way the CF CTEs do), so the
# registry lives in kgflow.caching; re-exported here because bench.py
# and the storage-flatness test call relational.release_caches().
from kgflow.caching import release_caches, track_persist  # noqa: E402,F401


def cents(col) -> F.Column:
    """Exact integer cents from a 2-decimal money double: round() strips
    the *100 FP noise (…788.0000000001 → …788), cast(long) makes the
    per-row value an exact integer.

    Money sums then run as LONG hash aggregates — whole-stage-codegen
    cheap — instead of decimal128 partial aggregates, which measurably
    tax wide scans (pricing_summary 1.0→1.86s at sf0.1 when these sums
    were decimal(18,2)). Exactness is identical: integer sums are
    associative, so the result is order-independent like the decimal
    formulation, and one double division at the end restores dollars.
    Long cents overflow at ~9.2e16 dollars per group; if a single group
    could exceed that, widen the FINAL merge to decimal — never the
    per-row path.

    CONTRACT: the input column must hold at most 2 decimal places —
    round(x*100) silently truncates sub-cent precision (a 10-decimal
    discount product would come out coarser than a decimal(28,10) sum
    would). That holds for every money column in the TPC-H-ish schema
    (TESTDATA.md: *price/acctbal/totalprice generated at whole cents);
    `assert_cents_exact` is the opt-in guard for new tables."""
    if isinstance(col, str):
        col = F.col(col)
    return F.round(col * 100).cast("long")


def assert_cents_exact(col) -> F.Column:
    """In-plan guard for the cents() 2-decimal contract: raises at scan
    time if any value carries sub-cent precision (>1e-6 of a cent).
    Zero-cost when unused; wire it into a query under test when adding a
    money column whose generator is not known to emit whole cents."""
    if isinstance(col, str):
        col = F.col(col)
    scaled = col * 100
    return F.when(
        F.abs(scaled - F.round(scaled)) > 1e-6,
        F.raise_error(F.concat(F.lit("cents() contract violated: "), col.cast("string"))),
    ).otherwise(F.round(scaled).cast("long"))


def money(cents_sum) -> F.Column:
    """Dollars (2-decimal double) from a summed cents column."""
    return F.round(cents_sum / 100.0, 2)


# --------------------------------------------------------------------------
# Scans + projections + predicates (S1/S4, P1-P12)
# --------------------------------------------------------------------------

def q_silver_clean_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 dedup + P3 null filter + P7 comparison + P8 CASE chain —
    the reference's Silver cleaning shape (ecommerce-etl-pipeline.py:151-162)
    applied to the customer table."""
    c = load(spark, sf_dir, "customer")
    return (
        c.dropDuplicates(["c_custkey"])
        .where(F.col("c_name").isNotNull() & (F.col("c_acctbal") > 0))
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.when(F.col("c_acctbal") >= 7500, "platinum")
            .when(F.col("c_acctbal") >= 5000, "gold")
            .when(F.col("c_acctbal") >= 2500, "silver")
            .otherwise("bronze")
            .alias("value_tier"),
        )
    )


SQL["silver_clean_customers"] = """
SELECT c_custkey, c_name, c_mktsegment,
       round(c_acctbal, 2) AS acctbal,
       CASE WHEN c_acctbal >= 7500 THEN 'platinum'
            WHEN c_acctbal >= 5000 THEN 'gold'
            WHEN c_acctbal >= 2500 THEN 'silver'
            ELSE 'bronze' END AS value_tier
FROM (SELECT DISTINCT ON (c_custkey) * FROM customer ORDER BY c_custkey)
WHERE c_name IS NOT NULL AND c_acctbal > 0
"""


def q_regex_filter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 regex predicate (rlike) — generalizes the email-regex filter
    (ecommerce-etl-pipeline.py:154) + P5 isin + P6 between. The regex
    alternation targets real name vocabulary so the predicate is
    selective but non-empty at every sf."""
    p = load(spark, sf_dir, "part")
    return (
        p.where(F.col("p_name").rlike(r"^(small|red).*(ring|bolt)"))
        .where(F.col("p_size").between(10, 40))
        .where(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey", "p_name", "p_brand", "p_size")
    )


SQL["regex_filter_parts"] = """
SELECT p_partkey, p_name, p_brand, p_size
FROM part
WHERE regexp_matches(p_name, '^(small|red).*(ring|bolt)')
  AND p_size BETWEEN 10 AND 40
  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
"""


def q_null_default_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 coalesce + P10 cast + P2 derived column
    (customer-360-analytics.py:68-73, graph_ready_enhancements.py:93-94)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.col("o_orderpriority"), F.lit("none")).alias("priority"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_str"),
        (F.col("o_totalprice") > 100000).cast("int").alias("is_large"),
    )


SQL["null_default_cast"] = """
SELECT o_orderkey,
       coalesce(o_orderpriority, 'none') AS priority,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
       CAST(o_totalprice > 100000 AS INT) AS is_large
FROM orders
"""


def q_distinct_segment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 distinct + A3 collect_set in ONE gate query (round-5
    consolidation: the driver's correctness snapshot holds at most 50
    entries, so the former `distinct_segments` and
    `collect_set_priorities` queries are folded together to keep every
    registered query under the hash oracle —
    tests/test_registry_contract.py pins the cap).

    Semantics: the distinct (segment, priority) pairs — a real
    multi-column Distinct node, exactly `SELECT DISTINCT` (P12,
    product-recommendations.py:55-57) — then the sorted collected set
    of priorities per market segment (A3,
    product-recommendations.py:283)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    pairs = (
        c.select("c_custkey", "c_mktsegment")
        .join(
            o.select("o_custkey", "o_orderpriority"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select("c_mktsegment", "o_orderpriority")
        .distinct()
    )
    return pairs.groupBy("c_mktsegment").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        )
    )


SQL["distinct_segment_priorities"] = """
WITH pairs AS (
  SELECT DISTINCT c_mktsegment, o_orderpriority
  FROM customer JOIN orders ON c_custkey = o_custkey
)
SELECT c_mktsegment,
       array_to_string(list_sort(list(o_orderpriority)), ',') AS priorities
FROM pairs GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Aggregations (A1-A5)
# --------------------------------------------------------------------------

def q_customer_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hash agg with count/sum/avg/min/max — the customer_metrics
    gold table (ecommerce-etl-pipeline.py:238-246)."""
    o = load(spark, sf_dir, "orders")
    # money sums as exact long cents (see cents()): order-independent
    # like a decimal sum, so the DuckDB oracle matches bit-for-bit, but
    # the hash agg sums LONGs, not decimal128
    c = F.sum(cents("o_totalprice"))
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("order_count"),
        money(c).alias("total_spent"),
        # floor at whole cents: round() ties (e.g. an exact .105 mean)
        # break differently across engines; floor of the same IEEE
        # division is bit-deterministic
        (F.floor(c.cast("double") / F.count(F.lit(1))) / 100).alias("avg_order_value"),
        F.round(F.min("o_totalprice"), 2).alias("min_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_order"),
    )


SQL["customer_order_metrics"] = """
SELECT o_custkey,
       count(*) AS order_count,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_spent,
       floor(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / count(*)) / 100 AS avg_order_value,
       round(min(o_totalprice), 2) AS min_order,
       round(max(o_totalprice), 2) AS max_order
FROM orders GROUP BY o_custkey
"""


def q_part_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 countDistinct (customer-360-analytics.py:169,
    product-recommendations.py:363)."""
    li = load(spark, sf_dir, "lineitem")
    # size(collect_set) instead of two countDistincts: multiple distinct
    # aggregates plan an Expand that doubles every input row before the
    # exchange; partial collect_sets aggregate map-side and shuffle one
    # bounded set pair per group (~30 items/part here). Identical values
    # (collect_set and countDistinct both ignore nulls); measured
    # 1.28 -> 0.64 s at sf0.1 (guide §2.3 aggregate-before-shuffle).
    # NOT applied to supplier_risk: its 100 supplier groups x 6k-part
    # sets make the per-group set the skew — measured 1.06 -> 2.41 s.
    # cast(long): countDistinct returned BIGINT — the published schema
    return li.groupBy("l_partkey").agg(
        F.size(F.collect_set("l_orderkey")).cast("long").alias("n_orders"),
        F.size(F.collect_set("l_suppkey")).cast("long").alias("n_suppliers"),
    )


SQL["part_count_distinct"] = """
SELECT l_partkey,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem GROUP BY l_partkey
"""


def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 global agg without grouping (product-recommendations.py:239)
    + A6 count-as-metric."""
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.max("o_orderdate").alias("latest_order"),
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


SQL["global_agg"] = """
SELECT max(o_orderdate) AS latest_order,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders
"""


def q_duplicate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 uniqueness check via groupBy/count/filter — the validation
    idiom (data-validation.py:105-106) in its scalable form."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


SQL["duplicate_check"] = """
SELECT l_orderkey, l_linenumber, count(*) AS n
FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
"""


# --------------------------------------------------------------------------
# Joins (J1-J6)
# --------------------------------------------------------------------------

def q_join_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 inner equi-join (customer-360-analytics.py:92-96). The
    customer side is dimension-sized → broadcast hint (SURVEY §2.3)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", "c_mktsegment",
                F.round("o_totalprice", 2).alias("total"))
    )


SQL["join_orders_customers"] = """
SELECT o_orderkey, c_name, c_mktsegment, round(o_totalprice, 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_left_join_customer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left outer join of profile x metrics (customer-360-analytics.py:52-57)
    with P9 coalesce for customers without orders."""
    c = load(spark, sf_dir, "customer")
    stats = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"), money(F.sum(cents("o_totalprice"))).alias("spent"))
    )
    return c.join(stats, c.c_custkey == stats.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.coalesce("n", F.lit(0)).alias("order_count"),
        F.coalesce("spent", F.lit(0.0)).alias("total_spent"),
    )


SQL["left_join_customer_stats"] = """
SELECT c_custkey, c_name,
       coalesce(n, 0) AS order_count,
       coalesce(spent, 0.0) AS total_spent
FROM customer
LEFT JOIN (
    SELECT o_custkey, count(*) AS n,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS spent
    FROM orders GROUP BY o_custkey
) s ON c_custkey = s.o_custkey
"""


def q_customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left anti join — FK-violation / not-purchased idiom
    (data-validation.py:133-141, product-recommendations.py:79-84).
    Anti-joined against the URGENT subset so the result is non-empty at
    every sf (every customer has *some* order in the generated data)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL["customers_without_urgent_orders"] = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (
    SELECT o_custkey FROM orders
    WHERE o_custkey IS NOT NULL AND o_orderpriority = '1-URGENT'
)
"""


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 self-join on shared key + P7 inequality — the co-purchase
    pair counting of product-recommendations.py:59-67, keyed on orders
    instead of customers. The skew-safe form: distinct parts per order
    (collect_set dedups in the same exchange the old distinct paid),
    each order contributing each pair once. In-group pair expansion
    (kgflow.functions.group_pairs) instead of the self-join, with
    identical output by construction."""
    li = load(spark, sf_dir, "lineitem")
    pairs = group_pairs(li, ["l_orderkey"], "l_partkey")
    return (
        pairs.groupBy(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )


SQL["copurchase_pairs"] = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def q_composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 composite-condition join on two columns
    (product-recommendations.py:80-83)."""
    li = load(spark, sf_dir, "lineitem")
    best = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_extendedprice").alias("max_price"))
        .withColumnRenamed("l_orderkey", "b_orderkey")
    )
    return (
        li.join(
            best,
            (F.col("l_orderkey") == F.col("b_orderkey"))
            & (F.col("l_extendedprice") == F.col("max_price")),
        )
        .select(
            F.col("l_orderkey").alias("orderkey"),
            "l_partkey",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


SQL["composite_key_join"] = """
SELECT l.l_orderkey AS orderkey, l.l_partkey, round(l.l_extendedprice, 2) AS price
FROM lineitem l
JOIN (SELECT l_orderkey, max(l_extendedprice) AS max_price
      FROM lineitem GROUP BY l_orderkey) b
  ON l.l_orderkey = b.l_orderkey AND l.l_extendedprice = b.max_price
"""


THETA_CANDIDATE_N = 20


def q_theta_join_category_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 re-expressed: the reference's filtered-cross-join candidates
    (product-recommendations.py:144-153) restricted to an equi-join on a
    category key (p_type) to avoid the BNLJ (SURVEY §2.3 note), then
    windowed to the top-N candidates per anchor — the reference itself
    windows to top_n right after its cross join
    (product-recommendations.py:144-176). Without the cap the output is
    sum_type(popular x parts) ~ quadratic in sf (665k rows already at
    sf0.01, billions at 100x); with it, O(anchors x N)."""
    p = load(spark, sf_dir, "part")
    popular = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 5)
    )
    pop_parts = p.join(popular, p.p_partkey == popular.l_partkey).select(
        F.col("p_partkey").alias("pop_key"), F.col("p_type").alias("pop_type")
    )
    # top-N-by-candidate-key per anchor == the (N+1) smallest same-type
    # parts minus the anchor itself — so prune the CANDIDATE side to
    # N+1 rows per type BEFORE the join instead of windowing the joined
    # output: the quadratic intermediate (2.6M rows at sf0.1, billions
    # at 100x) is never materialized. Equal output by construction.
    wt = W.partitionBy("p_type").orderBy("p_partkey")
    lead_parts = (
        p.select("p_type", "p_partkey")
        .withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") <= THETA_CANDIDATE_N + 1)
        .select(F.col("p_partkey").alias("candidate"), "p_type")
    )
    cand = lead_parts.join(
        pop_parts,
        (F.col("p_type") == pop_parts.pop_type)
        & (F.col("candidate") != pop_parts.pop_key),
    ).select("candidate", F.col("pop_key").alias("anchor"), "p_type")
    w = W.partitionBy("anchor").orderBy(F.col("candidate"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= THETA_CANDIDATE_N)
        .select("candidate", "anchor", "p_type")
    )


SQL["theta_join_category_candidates"] = """
WITH popular AS (
  SELECT p_partkey AS pop_key, p_type AS pop_type
  FROM part JOIN (
    SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
  ) c ON p_partkey = l_partkey
  WHERE cnt >= 5
),
cand AS (
  SELECT p.p_partkey AS candidate, pop_key AS anchor, p.p_type
  FROM part p JOIN popular ON p.p_type = pop_type AND p.p_partkey != pop_key
)
SELECT candidate, anchor, p_type FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY candidate) AS rn
  FROM cand
) WHERE rn <= 20
"""


# --------------------------------------------------------------------------
# Windows / sorts / limits (W1-W2, O1-O2)
# --------------------------------------------------------------------------

def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 row_number per group + W2 top-k filter
    (customer-360-analytics.py:138-143). Tie-broken on orderkey so the
    result is deterministic across engines."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank",
                F.round("o_totalprice", 2).alias("total"))
    )


SQL["topk_orders_per_customer"] = """
SELECT o_custkey, o_orderkey, rank, round(o_totalprice, 2) AS total
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
  ) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_top20_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 global sort + O2 limit top-k (customer-360-analytics.py:233-235),
    deterministic tie-break; Spark plans TakeOrderedAndProject."""
    c = load(spark, sf_dir, "customer")
    return (
        c.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


SQL["top20_customers"] = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 20
"""


# --------------------------------------------------------------------------
# Set operations (U1-U2)
# --------------------------------------------------------------------------

def q_union_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 union of two branches (product-recommendations.py:274-276,
    neo4j-loading.py:108-156) — always unionByName in our engine."""
    o = load(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("reason")
    )
    big = o.where(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit("big").alias("reason")
    )
    return urgent.unionByName(big)


SQL["union_priority_orders"] = """
SELECT o_orderkey, 'urgent' AS reason FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey, 'big' AS reason FROM orders WHERE o_totalprice > 300000
"""


# --------------------------------------------------------------------------
# Date / JSON scalar functions (§2.8)
# --------------------------------------------------------------------------

def q_orders_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions year/month/quarter (ecommerce-etl-pipeline.py:199-201)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            "o_totalprice",
        )
        .groupBy("yr", "qtr")
        .agg(F.count(F.lit(1)).alias("n"), money(F.sum(cents("o_totalprice"))).alias("revenue"))
    )


SQL["orders_by_quarter"] = """
SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
       count(*) AS n,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue
FROM orders GROUP BY 1, 2
"""


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property-bag access — the reference parses JSON bags per row
    on the driver (neo4j-loading.py:239); ours stays columnar with
    get_json_object."""
    e = load(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum"))
    )


SQL["events_json_extract"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Graph/Cypher re-expressions (Q1-Q3)
# --------------------------------------------------------------------------

NEIGHBOR_K = 10
# Minimum co-purchased parts for a (cust, other) pair to count as a
# neighbor. At sf0.1 the unthresholded similarity matrix is 17.1M
# pairs of which 16.3M share exactly ONE part — pure noise neighbors
# that cost a 17M-row shuffle + window sort and add no signal.
# shared >= 2 keeps 0.8M pairs (~53 neighbors/customer) — the standard
# min-support prune of item-based CF, and the knob that keeps the
# similarity stage linear-ish as the corpus grows.
MIN_SHARED = 2
# Parts bought by more than this many customers are excluded from the
# similarity self-join: a part with B buyers contributes B^2 pair rows,
# so one viral part at 10^5 buyers would emit 10^10 rows before the
# groupBy — while carrying almost no signal (everyone owns it). This is
# the co-occurrence stop-word cap, applied by the same skew guard
# (kgflow.functions.drop_hot) as the LSH BUCKET_CAPs. 256 is ~5x the
# hottest part at sf0.1, so test results are unchanged; at 100x the
# data the cap is what keeps the stage linear.
PART_BUYER_CAP = 256


def q_copurchase_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — collaborative filtering over the purchase graph
    (customer_recommendations_writeback.py:63-76), in the scale-safe
    shape: the reference's raw 3-way self-join counts *paths*
    (quadratic in part popularity — the same blow-up as its
    product-recommendations.py:59-67 self-join, which at sf0.1 here
    materializes ~7x10^8 rows). We drop viral parts (PART_BUYER_CAP),
    aggregate customer similarity, drop noise neighbors (MIN_SHARED
    min-support), cap to the top-NEIGHBOR_K similar customers per
    customer (window), then expand only those neighbors' purchases:
    J4 + W1 + J1 + J3 + A1 composed, every intermediate bounded."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    purchases = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
        # the plan references `purchases` FOUR times (hot, sim self-join
        # input, candidate expansion, ownership anti-join); DuckDB
        # shares the CTE, Spark re-plans it per reference. persist()
        # (columnar, compressed, ~5 MB here) computes it once and every
        # reference scans the cache. NOT localCheckpoint: eager RDD
        # checkpoints store deserialized row objects whose GC pressure
        # measurably stalls the 17M-row pair join (executor heartbeat
        # timeouts observed); the columnar cache does not. Tracked so
        # callers can release_caches() after their terminal action.
    )
    purchases = track_persist(purchases)
    # Viral parts are dropped first (kgflow.functions.drop_hot), then
    # in-group pair expansion (group_pairs) replaces the part-keyed
    # self-join. The pair exchange moves UNORDERED pairs — half the
    # rows of the ordered (cust != other) join output, the dominant
    # shuffle of this query (~17M ordered pair rows at sf0.1) — and
    # both orientations are re-emitted only for the MIN_SHARED
    # survivors. Same sim table by symmetry: shared(a,b) = shared(b,a).
    upairs = group_pairs(drop_hot(purchases, ["part"], PART_BUYER_CAP), ["part"], "cust")
    shared_u = (
        upairs.groupBy(F.col("a").alias("cust"), F.col("b").alias("other"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= MIN_SHARED)
    )
    sim = shared_u.unionByName(
        shared_u.select(
            F.col("other").alias("cust"), F.col("cust").alias("other"), "shared"
        )
    )
    wn = W.partitionBy("cust").orderBy(F.col("shared").desc(), F.col("other"))
    neighbors = (
        sim.withColumn("nrank", F.row_number().over(wn))
        .where(F.col("nrank") <= NEIGHBOR_K)
        .select("cust", "other")
    )
    cand = neighbors.join(
        purchases.select(F.col("cust").alias("other"), F.col("part").alias("rec")),
        "other",
    ).select("cust", "rec")
    # aggregate BEFORE the ownership anti-join: the count per (cust,
    # rec) is unaffected by dropping owned pairs afterwards, and the
    # anti-join then probes ~one row per distinct candidate instead of
    # one per (neighbor, purchase) expansion row (guide §2.3 — measured
    # 6.07 -> 5.66 s for the tail at sf0.1)
    scored = (
        cand.groupBy("cust", "rec")
        .agg(F.count(F.lit(1)).alias("score"))
        .join(
            purchases.select(F.col("cust"), F.col("part").alias("rec")),
            ["cust", "rec"],
            "left_anti",
        )
    )
    w = W.partitionBy("cust").orderBy(F.col("score").desc(), F.col("rec"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= REC_TOP)
        .select("cust", "rec", "score", "rank")
    )


REC_TOP = 3  # recommendations returned per customer

# Oracle SQL interpolates the SAME module constants the Spark plan uses
# (f-string) so editing a knob can never silently desync the two sides.
SQL["copurchase_recommendations"] = f"""
WITH purchases AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
hot AS (
  SELECT part FROM purchases GROUP BY part HAVING count(*) > {PART_BUYER_CAP}
),
sim_input AS (
  SELECT p.* FROM purchases p WHERE p.part NOT IN (SELECT part FROM hot)
),
sim AS (
  SELECT p1.cust AS cust, p2.cust AS other, count(*) AS shared
  FROM sim_input p1
  JOIN sim_input p2 ON p1.part = p2.part AND p1.cust != p2.cust
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_SHARED}
),
neighbors AS (
  SELECT cust, other FROM (
    SELECT *, row_number() OVER (PARTITION BY cust ORDER BY shared DESC, other) AS nrank
    FROM sim
  ) WHERE nrank <= {NEIGHBOR_K}
),
cand AS (
  SELECT n.cust, p.part AS rec
  FROM neighbors n JOIN purchases p ON p.cust = n.other
),
not_owned AS (
  SELECT c.cust, c.rec FROM cand c
  LEFT JOIN purchases p ON c.cust = p.cust AND c.rec = p.part
  WHERE p.cust IS NULL
),
scored AS (
  SELECT cust, rec, count(*) AS score FROM not_owned GROUP BY cust, rec
)
SELECT cust, rec, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY cust ORDER BY score DESC, rec) AS rank
  FROM scored
) WHERE rank <= {REC_TOP}
"""


def q_supplier_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 — supplier risk scoring (supplier_metrics_writeback.py:61-76):
    per-supplier countDistinct parts/categories + CASE risk tier."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    # distinct-first instead of two countDistincts over the joined fact
    # rows: the double-distinct aggregate planned an Expand doubling
    # every supplied row before the exchange; deduplicating the narrow
    # (suppkey, partkey) pairs FIRST shrinks the stream ~8x (4 suppliers
    # per part), the broadcast part join then attaches p_type to the
    # deduped pairs only, and both counts become plain count(*)s.
    # Identical semantics: counting distinct pairs that survive the
    # part inner join == countDistinct over the joined rows.
    # Measured 0.72 -> 0.54 s at sf0.1.
    pairs = li.select("l_suppkey", "l_partkey").distinct()
    supplied = pairs.join(
        F.broadcast(p.select("p_partkey", "p_type")),
        pairs.l_partkey == F.col("p_partkey"),
    )
    product_counts = supplied.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("product_count")
    )
    # isNotNull guard keeps countDistinct's exact NULL semantics (a
    # distinct+count would tally a NULL type as one category)
    category_counts = (
        supplied.select("l_suppkey", "p_type")
        .where(F.col("p_type").isNotNull())
        .distinct()
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("category_count"))
    )
    # left join: a supplier whose parts all have a NULL p_type has
    # products but no category row, and must keep category_count 0
    metrics = product_counts.join(category_counts, "l_suppkey", "left")
    return (
        s.join(metrics, s.s_suppkey == metrics.l_suppkey, "left")
        .select(
            "s_suppkey",
            "s_name",
            F.coalesce("product_count", F.lit(0)).alias("product_count"),
            F.coalesce("category_count", F.lit(0)).alias("category_count"),
            F.when(F.coalesce("product_count", F.lit(0)) > 20, "low")
            .when(F.coalesce("product_count", F.lit(0)) > 5, "medium")
            .otherwise("high")
            .alias("concentration_risk"),
        )
    )


SQL["supplier_risk"] = """
SELECT s_suppkey, s_name,
       coalesce(product_count, 0) AS product_count,
       coalesce(category_count, 0) AS category_count,
       CASE WHEN coalesce(product_count, 0) > 20 THEN 'low'
            WHEN coalesce(product_count, 0) > 5 THEN 'medium'
            ELSE 'high' END AS concentration_risk
FROM supplier
LEFT JOIN (
  SELECT l_suppkey,
         count(DISTINCT p_partkey) AS product_count,
         count(DISTINCT p_type) AS category_count
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_suppkey
) m ON s_suppkey = l_suppkey
"""


def q_customer_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — customer-360 rollup (configs/neo4j-connector-config.yml:127-146;
    customer-360-analytics.py:52-223): joins + groupBy + collect_set."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    detail = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select("o_custkey", "o_orderkey", "o_totalprice", "p_brand")
    )
    # size(collect_set) instead of countDistinct: mixing a distinct
    # aggregate with the brands collect_set planned an Expand doubling
    # the detail rows before the exchange; all-collect_set aggregates
    # combine map-side (~10 orders + ~25 brands per customer — bounded
    # sets). Identical values; measured 1.50 -> 0.77 s at sf0.1.
    rollup = detail.groupBy("o_custkey").agg(
        # cast(long): countDistinct returned BIGINT — keep the schema
        F.size(F.collect_set("o_orderkey")).cast("long").alias("purchase_count"),
        F.array_join(F.array_sort(F.collect_set("p_brand")), ",").alias("brands"),
    ).withColumnRenamed("o_custkey", "r_custkey")
    spent = o.groupBy("o_custkey").agg(
        money(F.sum(cents("o_totalprice"))).alias("total_spent")
    ).withColumnRenamed("o_custkey", "s_custkey")
    return (
        c.join(rollup, c.c_custkey == F.col("r_custkey"), "left")
        .join(spent, c.c_custkey == F.col("s_custkey"), "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("purchase_count", F.lit(0)).alias("purchase_count"),
            F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
            F.coalesce("brands", F.lit("")).alias("brands"),
        )
    )


SQL["customer_360"] = """
SELECT c_custkey, c_name,
       coalesce(purchase_count, 0) AS purchase_count,
       coalesce(total_spent, 0.0) AS total_spent,
       coalesce(brands, '') AS brands
FROM customer
LEFT JOIN (
  SELECT o_custkey,
         count(DISTINCT o_orderkey) AS purchase_count,
         array_to_string(list_sort(list(DISTINCT p_brand)), ',') AS brands
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              JOIN part ON l_partkey = p_partkey
  GROUP BY o_custkey
) r ON c_custkey = r.o_custkey
LEFT JOIN (
  SELECT o_custkey,
         round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS total_spent
  FROM orders GROUP BY o_custkey
) s ON c_custkey = s.o_custkey
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing rollup — the headline scan+agg benchmark
    (A1 at full table width; exercises partial aggregation)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        # all-long partial aggregates (see cents()): quantity, price,
        # and discount are 2-decimal, so disc_price = cents x (100 -
        # discount_pct) is EXACT integer arithmetic in units of 1e-4
        # dollars — per-row max ~1e9, so a group overflows long only
        # past ~9e9 rows; at that scale pre-aggregate per partition
        # first. This replaced decimal128 sums that cost 1.86s vs
        # ~1.0s at sf0.1.
        .agg(
            money(F.sum(cents("l_quantity"))).alias("sum_qty"),
            money(F.sum(cents("l_extendedprice"))).alias("sum_base_price"),
            F.round(
                F.sum(cents("l_extendedprice") * (100 - cents("l_discount")))
                / 10000.0,
                2,
            ).alias("sum_disc_price"),
            (F.floor(F.sum(cents("l_quantity")).cast("double") * 100 / F.count(F.lit(1))) / 10000).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL["pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS sum_qty,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS sum_base_price,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000, 2) AS sum_disc_price,
       floor(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) * 100 / count(*)) / 10000 AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""



# --------------------------------------------------------------------------
# SQL API / temp views (S10-S11) + date arithmetic + RFM gold semantics
# --------------------------------------------------------------------------

def q_sql_api_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 temp-view registration + SQL entry point (csv-ingestion.py:254,
    customer-360-analytics.py:80-175): same Catalyst plan either way, so
    the engine exposes both. Joins through nation for a 3-table rollup."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT n_name AS nation,
               count(*) AS n_orders,
               round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue
        FROM v_orders
        JOIN v_customer ON o_custkey = c_custkey
        JOIN v_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


SQL["sql_api_revenue_by_nation"] = """
SELECT n_name AS nation, count(*) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


TREND_WINDOW_DAYS = 30
TREND_TOP = 20
BRAND_TOP = 3
PARTNER_TOP = 3
COMBINED_TOP = 5


def q_combined_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's combined-recommendations gold composite
    (product-recommendations.py:238-298): three recommendation streams —
    trending (datediff recency window, :238-262), category/brand
    affinity (:144-176), co-purchase partners (:54-96) — are unioned
    (U1), not-already-owned filtered (J3, :79-84 per stream), score-
    summed per (cust, rec) with a collect_set of contributing sources
    (A1+A3, :274-284), and re-ranked top-COMBINED_TOP per customer
    (W1, :285-292).

    Every per-stream intermediate is bounded BEFORE the union: trending
    is a TREND_TOP-row broadcast, brand affinity is one brand per
    customer x BRAND_TOP parts, co-purchase expands each owned part to
    only its PARTNER_TOP strongest partners (the pre-join pruning that
    keeps this linear in |purchases| at 100 TB). Scores are integer
    counts, so the sum is exact and the oracle hash is bit-stable."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))

    recent = (
        o.crossJoin(F.broadcast(anchor))
        .where(F.datediff(F.col("anchor"), F.col("o_orderdate")) <= TREND_WINDOW_DAYS)
        .select("o_orderkey", "o_custkey")
    )
    # stream 1 — trending: TREND_TOP hottest parts of the recency
    # window, recommended to every customer active in that window
    trend_counts = (
        recent.join(li, recent.o_orderkey == li.l_orderkey)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # global top-N via orderBy+limit (TakeOrderedAndProject: per-partition
    # top-N, driver merges N rows per partition) — an unpartitioned
    # row_number() window would shuffle every part's count into ONE
    # partition, the classic single-reducer bottleneck at 1e9 parts.
    # Tie-break on l_partkey keeps the row set identical to the oracle's
    # row_number() formulation.
    trending = (
        trend_counts.orderBy(F.col("n").desc(), F.col("l_partkey"))
        .limit(TREND_TOP)
        .select(F.col("l_partkey").alias("rec"), F.col("n").alias("score"))
    )
    actives = recent.select(F.col("o_custkey").alias("cust")).distinct()
    s_trend = actives.crossJoin(F.broadcast(trending)).select(
        "cust", "rec", "score", F.lit("trending").alias("source")
    )

    # shared pre-aggregate: ONE orders x lineitem pass produces the
    # per-(cust, part) item counts, persisted for every consumer below.
    # Its group keys are exactly the distinct customer->part ownership
    # table (cust_parts, used by the co-purchase stream and the
    # ownership anti-join), and both brand aggregations are second-level
    # sums over it (count per (cust,brand) == sum over parts of the
    # (cust,part) counts; same for (brand,part) — p_brand is a function
    # of p_partkey, so the regroup is exact). Round 6 planned the
    # 3-table brand join twice AND a separate distinct for ownership —
    # three full lineitem passes where one suffices (guide §2.4).
    cp_counts = track_persist(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("p_partkey"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cust_parts = cp_counts.select("cust", F.col("p_partkey").alias("part"))

    # stream 2 — brand affinity: customer's top brand x top parts of
    # that brand (both by item count, deterministic tie-break)
    branded = cp_counts.join(F.broadcast(p), "p_partkey")
    wb = W.partitionBy("cust").orderBy(F.col("bn").desc(), F.col("p_brand"))
    cust_brand = (
        branded.groupBy("cust", "p_brand")
        .agg(F.sum("n").alias("bn"))
        .withColumn("r", F.row_number().over(wb))
        .where(F.col("r") == 1)
        .select("cust", "p_brand")
    )
    wp = W.partitionBy("p_brand").orderBy(F.col("pn").desc(), F.col("p_partkey"))
    brand_top = (
        branded.groupBy("p_brand", "p_partkey")
        .agg(F.sum("n").alias("pn"))
        .withColumn("r", F.row_number().over(wp))
        .where(F.col("r") <= BRAND_TOP)
        .select("p_brand", F.col("p_partkey").alias("rec"), F.col("pn").alias("score"))
    )
    s_brand = cust_brand.join(brand_top, "p_brand").select(
        "cust", "rec", "score", F.lit("brand").alias("source")
    )

    # stream 3 — co-purchase partners: each owned part expands to its
    # PARTNER_TOP strongest same-order partners only. In-group pair
    # expansion (kgflow.functions.group_pairs) over the per-order
    # distinct part sets: the pair exchange moves unordered pairs (half
    # the ordered rows); both orientations are re-emitted afterwards,
    # which is exactly the self-join's (a.l_partkey != b.l_partkey)
    # output by symmetry.
    pair_u = (
        group_pairs(li, ["l_orderkey"], "l_partkey")
        .groupBy(F.col("a").alias("pa"), F.col("b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_counts = pair_u.unionByName(
        pair_u.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "n")
    )
    wn = W.partitionBy("pa").orderBy(F.col("n").desc(), F.col("pb"))
    partner_top = (
        pair_counts.withColumn("r", F.row_number().over(wn))
        .where(F.col("r") <= PARTNER_TOP)
        .select("pa", F.col("pb").alias("rec"), F.col("n").alias("score"))
    )
    s_copurch = cust_parts.join(
        partner_top, cust_parts.part == partner_top.pa
    ).select("cust", "rec", "score", F.lit("copurchase").alias("source"))

    unioned = s_trend.union(s_brand).union(s_copurch)  # U1, positional
    # aggregate BEFORE the ownership anti-join (same reordering as
    # copurchase_recommendations): score sums and source sets per
    # (cust, rec) are unaffected by dropping owned pairs afterwards,
    # so the anti-join probes one row per distinct candidate instead
    # of one per stream row
    combined = (
        unioned.groupBy("cust", "rec")
        .agg(
            F.sum("score").alias("combined_score"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        )
        .join(
            cust_parts.select("cust", F.col("part").alias("rec")),
            ["cust", "rec"],
            "left_anti",
        )
    )
    wr = W.partitionBy("cust").orderBy(F.col("combined_score").desc(), F.col("rec"))
    return (
        combined.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= COMBINED_TOP)
        .select("cust", "rec", "combined_score", "sources", "rank")
    )


SQL["combined_recommendations"] = f"""
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
recent AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE date_diff('day', o_orderdate, (SELECT a FROM anchor)) <= {TREND_WINDOW_DAYS}
),
trending AS (
  SELECT rec, score FROM (
    SELECT l_partkey AS rec, count(*) AS score,
           row_number() OVER (ORDER BY count(*) DESC, l_partkey) AS r
    FROM recent JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY l_partkey
  ) WHERE r <= {TREND_TOP}
),
s_trend AS (
  SELECT a.cust, t.rec, t.score, 'trending' AS source
  FROM (SELECT DISTINCT o_custkey AS cust FROM recent) a CROSS JOIN trending t
),
cust_parts AS (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
brand_items AS (
  SELECT o_custkey AS cust, p_partkey, p_brand
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              JOIN part ON l_partkey = p_partkey
),
cust_brand AS (
  SELECT cust, p_brand FROM (
    SELECT cust, p_brand,
           row_number() OVER (PARTITION BY cust ORDER BY count(*) DESC, p_brand) AS r
    FROM brand_items GROUP BY cust, p_brand
  ) WHERE r = 1
),
brand_top AS (
  SELECT p_brand, rec, score FROM (
    SELECT p_brand, p_partkey AS rec, count(*) AS score,
           row_number() OVER (PARTITION BY p_brand ORDER BY count(*) DESC, p_partkey) AS r
    FROM brand_items GROUP BY p_brand, p_partkey
  ) WHERE r <= {BRAND_TOP}
),
s_brand AS (
  SELECT c.cust, b.rec, b.score, 'brand' AS source
  FROM cust_brand c JOIN brand_top b ON c.p_brand = b.p_brand
),
op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
partner_top AS (
  SELECT pa, rec, score FROM (
    SELECT a.l_partkey AS pa, b.l_partkey AS rec, count(*) AS score,
           row_number() OVER (PARTITION BY a.l_partkey ORDER BY count(*) DESC, b.l_partkey) AS r
    FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
  ) WHERE r <= {PARTNER_TOP}
),
s_copurch AS (
  SELECT cp.cust, pt.rec, pt.score, 'copurchase' AS source
  FROM cust_parts cp JOIN partner_top pt ON cp.part = pt.pa
),
unioned AS (
  SELECT * FROM s_trend UNION ALL SELECT * FROM s_brand UNION ALL SELECT * FROM s_copurch
),
not_owned AS (
  SELECT u.* FROM unioned u
  LEFT JOIN cust_parts cp ON u.cust = cp.cust AND u.rec = cp.part
  WHERE cp.cust IS NULL
),
combined AS (
  SELECT cust, rec, CAST(sum(score) AS BIGINT) AS combined_score,
         array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
  FROM not_owned GROUP BY cust, rec
)
SELECT cust, rec, combined_score, sources, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY cust ORDER BY combined_score DESC, rec) AS rank
  FROM combined
) WHERE rank <= {COMBINED_TOP}
"""


def q_customer_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic (datediff) — the reference's recency computation
    (ecommerce-etl-pipeline.py:247-250; product-recommendations.py:239-243)
    anchored at max(order_date) instead of current_date so reruns are
    deterministic (SURVEY §4.2)."""
    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("last_order"))
    return per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("anchor"), F.col("last_order")).alias("days_since_last"),
    )


SQL["customer_recency"] = """
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders)
SELECT o_custkey,
       date_diff('day', last_order, a) AS days_since_last
FROM (SELECT o_custkey, max(o_orderdate) AS last_order FROM orders GROUP BY o_custkey)
CROSS JOIN anchor
"""


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the reference's weighted-score + CASE-segment
    gold logic (customer-360-analytics.py:197-215,259-282) with fixed
    deterministic thresholds."""
    o = load(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents("o_totalprice")).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("anchor"), F.col("last_order")).alias("recency_days"),
            "frequency",
            money(F.col("monetary_cents")).alias("monetary"),
        )
    )
    r_score = F.when(F.col("recency_days") <= 30, 3).when(F.col("recency_days") <= 90, 2).otherwise(1)
    f_score = F.when(F.col("frequency") >= 15, 3).when(F.col("frequency") >= 5, 2).otherwise(1)
    m_score = F.when(F.col("monetary") >= 500000, 3).when(F.col("monetary") >= 100000, 2).otherwise(1)
    weighted = F.round(r_score * 0.25 + f_score * 0.35 + m_score * 0.40, 4)
    return rfm.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        weighted.alias("rfm_score"),
        F.when(weighted >= 2.5, "champion")
        .when(weighted >= 2.0, "loyal")
        .when(weighted >= 1.5, "promising")
        .otherwise("at_risk")
        .alias("segment"),
    )


SQL["customer_rfm"] = """
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
rfm AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), (SELECT a FROM anchor)) AS recency_days,
         count(*) AS frequency,
         round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT *,
    round(CAST(
          (CASE WHEN recency_days <= 30 THEN 3 WHEN recency_days <= 90 THEN 2 ELSE 1 END) * 0.25
        + (CASE WHEN frequency >= 15 THEN 3 WHEN frequency >= 5 THEN 2 ELSE 1 END) * 0.35
        + (CASE WHEN monetary >= 500000 THEN 3 WHEN monetary >= 100000 THEN 2 ELSE 1 END) * 0.40
      AS DOUBLE), 4) AS rfm_score
  FROM rfm
)
SELECT o_custkey, recency_days, frequency, monetary, rfm_score,
       CASE WHEN rfm_score >= 2.5 THEN 'champion'
            WHEN rfm_score >= 2.0 THEN 'loyal'
            WHEN rfm_score >= 1.5 THEN 'promising'
            ELSE 'at_risk' END AS segment
FROM scored
"""




# --------------------------------------------------------------------------
# Time-series over events: tumbling windows + sessionization
# (batch analogues of streaming windows — the reference has no streams,
# SURVEY §2.9, so these run as deterministic batch queries)
# --------------------------------------------------------------------------

def q_events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation via F.window — the batch form
    of a Structured Streaming windowed agg."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.sum(cents("value"))).alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )


SQL["events_hourly_windows"] = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100, 2) AS value_sum
FROM events GROUP BY 1, 2
"""


def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: per user, a new session starts when
    the gap from the previous event exceeds 30 minutes — lag() +
    running sum of session-start flags (frame-spec windows), then a
    per-session rollup. The batch form of a session window."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("is_start").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    # session bounds rendered as strings: timestamp physical types differ
    # between engines (ns vs us) and the driver hash is dtype-sensitive
    return sessions.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


SQL["events_sessionization"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id, session_no,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM sessions GROUP BY user_id, session_no
"""


QUERIES = {
    name[2:]: fn
    for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
}
