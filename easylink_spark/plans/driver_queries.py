"""Driver-contract query registry: one entry per implemented operator
(SURVEY.md §2), each as a (spark_fn, oracle_sql) pair.

The Spark side exercises the *engine's own operators* over the driver's
parquet tables (/root/testdata/sf*/); the oracle is equivalent ANSI SQL that
DuckDB runs on the same tables.  Column names and rounding are aligned on
both sides because the driver compares by order-insensitive value hash after
sorting columns by name.

Registry entries with ``sql=None`` are genuinely non-SQL-expressible
(iterative LSH banding, the full pipeline) and get the driver's weaker
rows-only check; their correctness is covered by tests/.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators import blocking as B
from easylink_spark.operators import clustering as G
from easylink_spark.operators import scoring as S
from easylink_spark.operators import textops as T

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def q(name: str, sql: str | None):
    def deco(fn: QueryFn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# S3/P1/U1: schema alignment — datasets dir -> records contract
# (ref: default_schema_alignment.py:29-47)
# ---------------------------------------------------------------------------
@q(
    "schema_alignment",
    """
    SELECT 'customer' AS dataset, CAST(c_custkey AS VARCHAR) AS record_id,
           c_name AS name, c_nationkey AS nationkey
    FROM customer
    UNION ALL
    SELECT 'supplier', CAST(s_suppkey AS VARCHAR), s_name, s_nationkey
    FROM supplier
    """,
)
def schema_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("dataset"),
        F.col("c_custkey").cast("string").alias("record_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("dataset"),
        F.col("s_suppkey").cast("string").alias("record_id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
    )
    return cust.unionByName(supp)


# ---------------------------------------------------------------------------
# P2: threshold filter on a links-shaped table (ref:
# one_to_many_links_to_clusters.py:56-57)
# ---------------------------------------------------------------------------
@q(
    "threshold_filter",
    """
    SELECT DISTINCT 'orders' AS left_ds, CAST(l_orderkey AS VARCHAR) AS left_id,
           'part' AS right_ds, CAST(l_partkey AS VARCHAR) AS right_id,
           l_discount * 10.0 AS probability
    FROM lineitem
    WHERE l_discount * 10.0 >= 0.5
    """,
)
def threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    links = li.select(
        F.lit("orders").alias("left_ds"),
        F.col("l_orderkey").cast("string").alias("left_id"),
        F.lit("part").alias("right_ds"),
        F.col("l_partkey").cast("string").alias("right_id"),
        (F.col("l_discount") * 10.0).alias("probability"),
    ).distinct()
    return links.filter(F.col("probability") >= 0.5)


# ---------------------------------------------------------------------------
# P5/J5: exclusion anti join (ref: default_removing_records.py:55)
# ---------------------------------------------------------------------------
@q(
    "anti_join_removal",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J7/J4: semi-join membership (ref: exclude_clustered.py:73-77)
# ---------------------------------------------------------------------------
@q(
    "semi_join_membership",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J2/F5: clusters -> links with canonical pair ordering
# (ref: default_clusters_to_links.py:30-61) — via the engine operator
# ---------------------------------------------------------------------------
@q(
    "clusters_to_links",
    """
    SELECT CAST(LEAST(a.n_nationkey, b.n_nationkey) AS BIGINT) AS left_id,
           CAST(GREATEST(a.n_nationkey, b.n_nationkey) AS BIGINT) AS right_id,
           1.0 AS probability
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey
     AND a.n_nationkey < b.n_nationkey
    """,
)
def clusters_to_links_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Record IDs kept integer end-to-end: canonical pair order compares on
    # the native type (left id < right id NUMERICALLY), matching the
    # reference's astype(int) ordering (splink_blocking_and_filtering.py
    # astype(int) + validation_utils._validate_pairs).
    nation = _t(spark, sf_dir, "nation")
    clusters = nation.select(
        F.lit("nation").alias(K.INPUT_RECORD_DATASET),
        F.col("n_nationkey").cast("long").alias(K.INPUT_RECORD_ID),
        F.col("n_regionkey").cast("string").alias(K.CLUSTER_ID),
    )
    links = G.clusters_to_links(clusters)
    return links.select(
        F.col(f"`{K.LEFT_ID}`").cast("long").alias("left_id"),
        F.col(f"`{K.RIGHT_ID}`").cast("long").alias("right_id"),
        F.col(f"`{K.PROBABILITY}`").alias("probability"),
    )


# ---------------------------------------------------------------------------
# F5: canonicalize raw pairs (ref: splink_blocking_and_filtering.py:109-137)
# ---------------------------------------------------------------------------
@q(
    "canonicalize_pairs",
    """
    SELECT DISTINCT
      CAST(LEAST(l, r) AS BIGINT) AS left_id,
      CAST(GREATEST(l, r) AS BIGINT) AS right_id
    FROM (
      SELECT o_orderkey % 50 AS l, o_custkey % 50 AS r
      FROM orders
    )
    WHERE l <> r
    """,
)
def canonicalize_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer Record IDs ordered numerically (reference astype(int) ordering;
    # e.g. (10, 2) canonicalizes to (2, 10), not string-order (10, 2))
    orders = _t(spark, sf_dir, "orders")
    raw = orders.select(
        F.lit("d").alias(K.LEFT_DATASET),
        (F.col("o_orderkey") % 50).cast("long").alias(K.LEFT_ID),
        F.lit("d").alias(K.RIGHT_DATASET),
        (F.col("o_custkey") % 50).cast("long").alias(K.RIGHT_ID),
    )
    out = B.canonicalize_pairs(raw).dropDuplicates(K.PAIR_COLS)
    return out.select(
        F.col(f"`{K.LEFT_ID}`").cast("long").alias("left_id"),
        F.col(f"`{K.RIGHT_ID}`").cast("long").alias("right_id"),
    )


# ---------------------------------------------------------------------------
# A3/O1: top-1 per group via window (ref: one_to_many_links_to_clusters.py:56-62)
# ---------------------------------------------------------------------------
@q(
    "top1_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# J6: tie counting (ref: one_to_many_links_to_clusters.py:64-73)
# ---------------------------------------------------------------------------
@q(
    "tie_count",
    """
    SELECT o_custkey, COUNT(*) AS n_ties
    FROM orders o
    JOIN (SELECT o_custkey AS ck, MAX(o_totalprice) AS best
          FROM orders GROUP BY o_custkey) b
      ON o.o_custkey = b.ck AND o.o_totalprice = b.best
    GROUP BY o_custkey
    """,
)
def tie_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    best = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max("o_totalprice").alias("best")
    )
    return (
        orders.join(
            best,
            (orders["o_custkey"] == best["ck"])
            & (orders["o_totalprice"] == best["best"]),
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_ties"))
    )


# ---------------------------------------------------------------------------
# A2/P6: cluster-size count + size predicate (ref: exclude_clustered.py:68-70)
# ---------------------------------------------------------------------------
@q(
    "cluster_sizes",
    """
    SELECT o_custkey AS cluster_id, COUNT(*) AS size
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") > 1)
    )


# ---------------------------------------------------------------------------
# A4: term-frequency table (ref: splink compute_df_concat_with_tf,
# splink_blocking_and_filtering.py:46-53)
# ---------------------------------------------------------------------------
@q(
    "term_frequency",
    """
    SELECT c_mktsegment AS term, COUNT(*) AS cnt,
           COUNT(*) / (SELECT COUNT(*) FROM customer) AS tf
    FROM customer GROUP BY c_mktsegment
    """,
)
def term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total via a window over the (tiny) grouped result — one scan, no
    # driver-side count() job
    cust = _t(spark, sf_dir, "customer")
    counts = cust.groupBy(F.col("c_mktsegment").alias("term")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    total = F.sum("cnt").over(Window.partitionBy())
    return counts.withColumn("tf", F.col("cnt") / total)


# ---------------------------------------------------------------------------
# A9: distinct node extraction (ref: splink_links_to_clusters.py:28-34)
# ---------------------------------------------------------------------------
@q(
    "distinct_nodes",
    """
    SELECT DISTINCT node FROM (
      SELECT CAST(l_orderkey AS VARCHAR) AS node FROM lineitem
      UNION ALL
      SELECT CAST(l_suppkey AS VARCHAR) FROM lineitem
    )
    """,
)
def distinct_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_orderkey").cast("string").alias("node"))
        .union(li.select(F.col("l_suppkey").cast("string")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# A7/F6/F7: Fellegi-Sunter scoring over blocked pairs, via the engine's
# scoring operator (ref lifecycle SURVEY §3.3)
# ---------------------------------------------------------------------------
_FS_M = {"nameword": [0.05, 0.95], "type": [0.02, 0.18, 0.80]}
_FS_U = {"nameword": [0.90, 0.10], "type": [0.80, 0.15, 0.05]}
_FS_PRIOR = 0.01


def _fs_sql() -> str:
    lw = {
        k: [math.log2(m / u) for m, u in zip(_FS_M[k], _FS_U[k])]
        for k in _FS_M
    }
    prior_w = math.log2(_FS_PRIOR / (1 - _FS_PRIOR))
    return f"""
    WITH p AS (
      SELECT p_partkey, p_brand, p_size,
             split_part(p_name, ' ', 1) AS nameword, p_type FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS lk, b.p_partkey AS rk,
             a.nameword AS cl, b.nameword AS cr,
             a.p_type AS tl, b.p_type AS tr
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND CAST(a.p_partkey AS VARCHAR) < CAST(b.p_partkey AS VARCHAR)
    ),
    g AS (
      SELECT lk, rk,
        CASE WHEN cl IS NOT NULL AND cr IS NOT NULL AND cl = cr THEN 1 ELSE 0 END AS g_nameword,
        CASE WHEN tl IS NULL OR tr IS NULL THEN 0
             WHEN 1.0 - CAST(levenshtein(tl, tr) AS DOUBLE)
                  / GREATEST(length(tl), length(tr)) >= 0.9 THEN 2
             WHEN 1.0 - CAST(levenshtein(tl, tr) AS DOUBLE)
                  / GREATEST(length(tl), length(tr)) >= 0.6 THEN 1
             ELSE 0 END AS g_type
      FROM pairs
    )
    SELECT CAST(lk AS VARCHAR) AS left_id, CAST(rk AS VARCHAR) AS right_id,
           g_nameword, g_type,
           ROUND({prior_w!r}
             + CASE g_nameword WHEN 1 THEN {lw['nameword'][1]!r} ELSE {lw['nameword'][0]!r} END
             + CASE g_type WHEN 2 THEN {lw['type'][2]!r} WHEN 1 THEN {lw['type'][1]!r}
                           ELSE {lw['type'][0]!r} END, 6) AS match_weight
    FROM g
    """


@q("fs_score", _fs_sql())
def fs_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easylink_spark.functions import comparators as C

    part = _t(spark, sf_dir, "part")
    records = part.select(
        F.lit("part").alias(K.INPUT_RECORD_DATASET),
        F.col("p_partkey").cast("string").alias(K.INPUT_RECORD_ID),
        F.concat_ws("|", "p_brand", "p_size").alias("bkey"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("nameword"),
        F.col("p_type").alias("type"),
    )
    pairs = B.block_on_key(records, F.col("bkey"))
    comps = [
        S.Comparison("nameword", "nameword",
                     S._leveled(C.exact_match, [0.5]),
                     m=_FS_M["nameword"], u=_FS_U["nameword"]),
        S.Comparison("type", "type",
                     S._leveled(C.levenshtein_similarity, [0.9, 0.6]),
                     m=_FS_M["type"], u=_FS_U["type"]),
    ]
    gammas = S.comparison_vectors(pairs, records, comps)
    scored = S.fs_probability(gammas, comps, _FS_PRIOR)
    return scored.select(
        F.col(f"`{K.LEFT_ID}`").alias("left_id"),
        F.col(f"`{K.RIGHT_ID}`").alias("right_id"),
        F.col("gamma_nameword").alias("g_nameword"),
        F.col("gamma_type").alias("g_type"),
        F.round("match_weight", 6).alias("match_weight"),
    )


# ---------------------------------------------------------------------------
# A4 (full): term-frequency-ADJUSTED Fellegi-Sunter weights — agreeing on a
# common value scores lower than agreeing on a rare one (ref: splink
# compute_df_concat_with_tf + tf-adjusted predict,
# splink_blocking_and_filtering.py:46-53, splink_evaluating_pairs.py:82-117)
# ---------------------------------------------------------------------------
def _fs_tf_sql() -> str:
    m1, u1 = _FS_M["nameword"][1], _FS_U["nameword"][1]
    prior_w = math.log2(_FS_PRIOR / (1 - _FS_PRIOR))
    base_w0 = math.log2(_FS_M["nameword"][0] / _FS_U["nameword"][0])
    base_w1 = math.log2(m1 / u1)
    return f"""
    WITH p AS (
      SELECT p_partkey, p_brand, p_size,
             split_part(p_name, ' ', 1) AS nameword FROM part
    ),
    tf AS (
      SELECT nameword AS v,
             CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM p) AS tf
      FROM p GROUP BY nameword
    ),
    pairs AS (
      SELECT a.p_partkey AS lk, b.p_partkey AS rk,
             a.nameword AS cl, b.nameword AS cr
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND CAST(a.p_partkey AS VARCHAR) < CAST(b.p_partkey AS VARCHAR)
    ),
    g AS (
      SELECT lk, rk, cl,
        CASE WHEN cl IS NOT NULL AND cr IS NOT NULL AND cl = cr
             THEN 1 ELSE 0 END AS g_nameword
      FROM pairs
    )
    SELECT CAST(lk AS VARCHAR) AS left_id, CAST(rk AS VARCHAR) AS right_id,
           g_nameword,
           ROUND({prior_w!r}
             + CASE WHEN g_nameword = 1
                    THEN {base_w1!r} + ({math.log2(u1)!r} - log2(tf.tf))
                    ELSE {base_w0!r} END, 6) AS match_weight
    FROM g LEFT JOIN tf ON g.cl = tf.v
    """


@q("fs_score_tf", _fs_tf_sql())
def fs_score_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easylink_spark.functions import comparators as C

    part = _t(spark, sf_dir, "part")
    records = part.select(
        F.lit("part").alias(K.INPUT_RECORD_DATASET),
        F.col("p_partkey").cast("string").alias(K.INPUT_RECORD_ID),
        F.concat_ws("|", "p_brand", "p_size").alias("bkey"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("nameword"),
    )
    pairs = B.block_on_key(records, F.col("bkey"))
    comps = [
        S.Comparison("nameword", "nameword",
                     S._leveled(C.exact_match, [0.5]),
                     m=_FS_M["nameword"], u=_FS_U["nameword"],
                     tf_adjustment=True, tf_weight=1.0),
    ]
    gammas = S.comparison_vectors(pairs, records, comps)
    scored = S.fs_probability(gammas, comps, _FS_PRIOR)
    return scored.select(
        F.col(f"`{K.LEFT_ID}`").alias("left_id"),
        F.col(f"`{K.RIGHT_ID}`").alias("right_id"),
        F.col("gamma_nameword").alias("g_nameword"),
        F.round("match_weight", 6).alias("match_weight"),
    )


# ---------------------------------------------------------------------------
# G1: connected components vs a recursive-CTE transitive-closure oracle
# ---------------------------------------------------------------------------
_CC_SQL = """
WITH RECURSIVE
e AS (
  SELECT CAST(c_custkey AS VARCHAR) AS a, CAST(c_custkey + 1 AS VARCHAR) AS b
  FROM customer
  WHERE c_custkey <= 499 AND c_custkey % 5 <> 0
),
bi AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
reach AS (
  SELECT a AS src, b AS dst FROM bi
  UNION
  SELECT r.src, bi.b FROM reach r JOIN bi ON r.dst = bi.a
)
SELECT src AS node, LEAST(src, MIN(dst)) AS component
FROM reach GROUP BY src
"""


@q("connected_components", _CC_SQL)
def connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter("c_custkey <= 499")
    edges = cust.filter("c_custkey % 5 <> 0").select(
        F.col("c_custkey").cast("string").alias("src"),
        (F.col("c_custkey") + 1).cast("string").alias("dst"),
    )
    return G.connected_components(edges)


# ---------------------------------------------------------------------------
# Dedup family over documents
# ---------------------------------------------------------------------------
@q(
    "exact_dedup",
    """
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
    FROM documents GROUP BY md5(text)
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.exact_dedup_keys(_t(spark, sf_dir, "documents"), "text", "doc_id")


@q(
    "ngram_jaccard_dedup",
    """
    WITH d AS (
      SELECT doc_id, source, list_distinct(str_split(text, ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
    FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.4
    """,
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-6: tokenize ONCE PER ROW below the self-join instead of once
    # per PAIR inside the comparator (guide §1.2 / §8: decide with
    # per-record proxies, don't recompute per pair): the round-start plan
    # evaluated array_distinct(split(text)) for both sides of every one of
    # the ~2.6M within-source pairs — measured 47 s at sf0.1; with the
    # distinct token arrays projected per row and carried through the join,
    # each pair pays only the intersect/union.  Identical values:
    # token_set_jaccard computes the same array_distinct(split(.)) arrays,
    # the same integer sizes and the same double division; the null branch
    # is preserved via the array columns (split(NULL) is NULL).
    # Round-6 second-pass note: replacing the array_union materialization
    # with |a|+|b|-|a∩b| (both sides are distinct) was A/B-measured and
    # REJECTED — interleaved noop-sink runs at sf0.1 put the sizes form at
    # 15.7-17.9 s vs 14.8-16.1 s for this one: codegen subexpression
    # elimination already shares the dominant array_intersect across the
    # jaccard uses, and streaming the pair arrays (bandwidth), not the
    # union build, is the wall.  Kept as-is.
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    la, lb = F.col("a.toks"), F.col("b.toks")
    inter = F.size(F.array_intersect(la, lb))
    union = F.size(F.array_union(la, lb))
    j = F.when(la.isNull() | lb.isNull(), 0.0).otherwise(
        F.when(union == 0, 1.0).otherwise(inter / union)
    )
    return (
        docs.alias("a")
        .join(
            docs.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("left_id"),
            F.col("b.doc_id").alias("right_id"),
            F.round(j, 6).alias("jaccard"),
            j.alias("_raw"),
        )
        .filter(F.col("_raw") >= 0.4)
        .drop("_raw")
    )


@q(
    "doc_fingerprint",
    """
    WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             md5(array_to_string(toks[g.i : g.i + 4], ' ')) AS h
      FROM d, LATERAL (
        SELECT UNNEST(generate_series(1, GREATEST(len(toks) - 4, 1))) AS i
      ) g
    )
    SELECT doc_id, MIN(h) AS fingerprint FROM sh GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint_minhash(_t(spark, sf_dir, "documents"), "text",
                                 "doc_id")


# ---------------------------------------------------------------------------
# Text analysis over documents
# ---------------------------------------------------------------------------
_STOPWORDS = "('the','a','of','and','to','in','is','it','on','for')"


@q(
    "text_stats",
    f"""
    SELECT doc_id,
           len(str_split(text, ' ')) AS n_tokens,
           len(list_filter(str_split(text, ' '), x -> x IN {_STOPWORDS})) AS n_stop,
           ROUND(CAST(len(list_filter(str_split(text, ' '), x -> x IN {_STOPWORDS})) AS DOUBLE)
                 / len(str_split(text, ' ')), 6) AS stop_ratio,
           length(text) AS n_chars
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stops = [s.strip("'") for s in _STOPWORDS.strip("()").split(",")]
    n_stop = F.size(F.filter(toks, lambda x: x.isin(stops)))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_stop.alias("n_stop"),
        F.round(n_stop.cast("double") / F.size(toks), 6).alias("stop_ratio"),
        F.length("text").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k over embeddings
# ---------------------------------------------------------------------------
@q(
    "ann_cosine_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 10),
    s AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.v, e.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
      FROM q JOIN e ON q.vec_id <> e.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rn
          FROM s)
    WHERE rn <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-6: each side's norm sqrt(v·v) is computed ONCE PER VECTOR in a
    # projection below the cross join instead of once per (query, vector)
    # pair (guide §1.2 "don't compute things you throw away"): the
    # round-start plan re-ran both self-dot-products inside the join
    # output, tripling the interpreted higher-order-function work per pair.
    # Identical doubles — sqrt(dot(v,v)) over the same array is the same
    # value wherever it is computed — so cosine and its rounding match the
    # round-start output bit for bit.
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nv", F.sqrt(dot(F.col("v"), F.col("v"))))
    queries = emb.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    joined = queries.crossJoin(emb).filter(F.col("query_id") != F.col("vec_id"))
    cos = dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        joined.withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 5")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Window ops: sessionization over the events stream table
# ---------------------------------------------------------------------------
@q(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # microsecond-exact gap comparison (unix_micros), matching DuckDB's
    # `> INTERVAL 30 MINUTE` on timestamps — a cast to seconds would
    # truncate and disagree on gaps in (1800, 1801) s.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    lag_us = F.lag(ts_us).over(w)
    new_s = F.when(
        lag_us.isNull() | (ts_us - lag_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Language ID + quality scoring (textops) with SQL oracles
# ---------------------------------------------------------------------------
def _lang_sql() -> str:
    cnt = {
        lang: (
            "len(list_filter(str_split(lower(text), ' '), "
            f"x -> x IN ({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in sorted(T._LANG_PROFILES.items())
    }
    langs = sorted(cnt)
    best = "GREATEST(" + ", ".join(cnt[l] for l in langs) + ")"
    # earlier language codes win ties (matches the Spark-side tie break)
    case = "CASE "
    for l in langs:
        case += f"WHEN {best} > 0 AND {cnt[l]} = {best} THEN '{l}' "
    case += "ELSE 'und' END"
    return f"SELECT doc_id, {case} AS lang_pred FROM documents"


@q("language_id", _lang_sql())
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.language_id(F.col("text")).alias("lang_pred"))


@q(
    "quality_score",
    """
    SELECT doc_id,
           len(str_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars,
           ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 / GREATEST(length(text), 1), 6) AS punct_ratio,
           len(str_split(text, ' ')) >= 5
             AND (length(text) - len(str_split(text, ' ')) + 1)
                 / len(str_split(text, ' ')) BETWEEN 2.0 AND 12.0 AS quality_ok
    FROM documents
    """,
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = T.quality_features(docs, "text")
    return out.select("doc_id", "n_tokens", "n_chars", "punct_ratio",
                      "quality_ok")


@q(
    "token_count",
    """
    SELECT doc_id,
           len(str_split(text, ' ')) AS ws_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens
    FROM documents
    """,
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tc = T.token_count(F.col("text"))
    return docs.select("doc_id", tc["ws_tokens"].alias("ws_tokens"),
                       tc["bpe_est_tokens"].alias("bpe_est_tokens"))


# ---------------------------------------------------------------------------
# SimHash near-dup with a FULL DuckDB oracle: the portable 60-bit variant
# (md5-derived token hash both engines can compute).  The oracle computes
# every doc's simhash and ALL pairwise Hamming distances; equality therefore
# verifies both the signature math and the banding recall (pigeonhole:
# bands=4 covers hamming<=3 exactly).
# ---------------------------------------------------------------------------
def _simhash_sql(n_bits: int = 60, max_hamming: int = 3) -> str:
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(n_bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct(str_split(text, ' '))) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM toks
    ),
    s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, {sig} AS sh FROM s)
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


@q("simhash_near_dup", _simhash_sql())
def simhash_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = T.simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=3, bands=4, n_bits=60,
        token_hash=T.portable_token_hash60,
    )
    return pairs.select(
        "left_id", "right_id", F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH recall oracle: DuckDB computes the TRUE 3-token-shingle
# Jaccard >= 0.9 pairs by brute force; the Spark side computes the same
# truth set and keeps only those found among the engine's LSH candidates.
# Result-set equality <=> 100% LSH recall on the high-similarity pairs
# (collision probability at j=0.9 with 8 bands x 4 rows: 1-(1-0.9^4)^8 ~
# 0.9998 per pair, and deterministic given the fixed hash family).
# ---------------------------------------------------------------------------
_MINHASH_RECALL_J = 0.9

_MINHASH_RECALL_SQL = f"""
WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[g.i : g.i + 2], ' ') AS s
  FROM d, LATERAL (
    SELECT UNNEST(generate_series(1, GREATEST(len(toks) - 2, 1))) AS i
  ) g
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS l, b.doc_id AS r, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(l AS BIGINT) AS left_id, CAST(r AS BIGINT) AS right_id,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = inter.l
JOIN sizes sb ON sb.doc_id = inter.r
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_MINHASH_RECALL_J}
"""


@q("minhash_lsh_recall", _MINHASH_RECALL_SQL)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-6 shape (identical result set, same oracle): the round-start
    implementation brute-forced the truth side — exploded every doc's
    shingle set and self-joined 'sh' on shingle equality (the dominant
    6-8 s of the query) — then kept truth pairs present among the LSH
    candidates via a left-semi join.  Set algebra:

        old = {p : J(p) >= 0.9} ∩ cand       (truth ⋉ cand)
        new = {p ∈ cand : J(p) >= 0.9}

    — the same set, and J(p) is computed from the same distinct shingle
    sets either way (|a∩b| / (|a|+|b|−|a∩b|), integer sizes, identical
    doubles), so the rounded jaccard column matches row for row.  The new
    plan attaches each doc's distinct shingle ARRAY to the candidate pairs
    (two small hash joins) and evaluates array_intersect per candidate —
    exact-verification work proportional to |cand|, not to the corpus'
    shared-shingle pair count (guide §1.2: fix the algorithm first).  The
    assertion semantics vs the brute-force DuckDB oracle are unchanged:
    result equality still certifies 100% LSH recall on true >= 0.9 pairs,
    because any true pair MISSED by the LSH would now be absent from the
    Spark side exactly as it was absent from the old semi-join output."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n = F.greatest(F.size(toks) - 2, F.lit(1))
    sharr = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
        )).alias("shs"),
    )
    # engine LSH candidates, re-ordered numerically for the unordered match
    records = docs.select(
        F.lit("documents").alias(K.INPUT_RECORD_DATASET),
        F.col("doc_id").cast("string").alias(K.INPUT_RECORD_ID),
        F.col("text"),
    )
    cand = B.block_minhash_lsh(records, "text", num_hashes=32, bands=8).select(
        F.least(F.col(f"`{K.LEFT_ID}`").cast("long"),
                F.col(f"`{K.RIGHT_ID}`").cast("long")).alias("left_id"),
        F.greatest(F.col(f"`{K.LEFT_ID}`").cast("long"),
                   F.col(f"`{K.RIGHT_ID}`").cast("long")).alias("right_id"),
    )
    inter = F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs")))
    verified = (
        cand.join(sharr.alias("a"), cand["left_id"] == F.col("a.doc_id"))
        .join(sharr.alias("b"), cand["right_id"] == F.col("b.doc_id"))
        .withColumn("i", inter)
        .withColumn(
            "jaccard_raw",
            F.col("i")
            / (F.size(F.col("a.shs")) + F.size(F.col("b.shs")) - F.col("i")),
        )
        .filter(F.col("jaccard_raw") >= _MINHASH_RECALL_J)
    )
    return verified.select(
        "left_id", "right_id", F.round("jaccard_raw", 6).alias("jaccard")
    )


@q(
    "embedding_near_dup",
    """
    WITH e AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                      CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    p AS (
      SELECT vec_id + 100000 AS vec_id,
             list_transform(v, x -> x * 1.0001) AS v
      FROM e WHERE vec_id < 20
    ),
    a AS (SELECT * FROM e UNION ALL SELECT * FROM p)
    SELECT x.vec_id AS left_id, y.vec_id AS right_id,
           ROUND(list_cosine_similarity(x.v, y.v), 6) AS cosine
    FROM a x JOIN a y ON x.vec_id < y.vec_id
    WHERE list_cosine_similarity(x.v, y.v) >= 0.98
    """,
)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random embeddings have no natural near-duplicates, so the query
    plants deterministic ones: vectors 0-19 get a slightly-scaled copy at
    vec_id+100000 (cosine 1.0 up to float error).  The oracle brute-forces
    ALL pairwise cosines; equality verifies the sign-LSH path recovers
    exactly the >= 0.98 pairs (recall 1 here: a scaled copy has identical
    hyperplane signs, and random 64-dim pairs sit ~N(0, 1/8) away from the
    0.98 cutoff)."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = (
        emb.filter("vec_id < 20")
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.0001)).alias("embedding"),
        )
    )
    both = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = T.embedding_near_dup_pairs(both, "embedding", "vec_id", dim=64,
                                       min_cosine=0.98)
    return pairs.select(
        F.col("left_id").cast("long").alias("left_id"),
        F.col("right_id").cast("long").alias("right_id"),
        "cosine",
    )


# (the former rows-only `minhash_lsh_dedup` entry was retired in round 3:
# its candidate set at identical parameters is exactly what the
# oracle-checked `minhash_lsh_recall` query asserts recall over, so it
# added no coverage — see VERDICT.md round 2 "What's missing" #4)


# ---------------------------------------------------------------------------
# GOLDEN-FIXTURE PARITY: run the reference's splink-dummy pipeline
# configuration on the reference's own shipped person fixtures and compare
# against its golden cluster CSV (tests/e2e/pipeline_splink_dummy_results.csv)
# — label-EXACT, not just label-invariant (Cluster ID = min record key on
# both sides).  The oracle simply reads the golden file.
# ---------------------------------------------------------------------------
_REF_INPUTS = "/root/reference/src/easylink/steps/rl-dummy/input_data"
_REF_GOLDEN = "/root/reference/tests/e2e/pipeline_splink_dummy_results.csv"


@q(
    "person_golden_clusters",
    f"""
    SELECT "Input Record Dataset" AS dataset,
           CAST("Input Record ID" AS BIGINT) AS record_id,
           CAST("Cluster ID" AS VARCHAR) AS cluster_id
    FROM read_csv_auto('{_REF_GOLDEN}')
    """,
)
def person_golden_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easylink_spark.plans.person_linkage import run_splink_dummy_pipeline

    datasets = {
        name: spark.read.parquet(f"{_REF_INPUTS}/{name}.parquet")
        for name in ("input_file_1", "input_file_2")
    }
    clusters = run_splink_dummy_pipeline(spark, datasets)
    return clusters.select(
        F.col(f"`{K.INPUT_RECORD_DATASET}`").alias("dataset"),
        F.col(f"`{K.INPUT_RECORD_ID}`").cast("long").alias("record_id"),
        F.col(f"`{K.CLUSTER_ID}`").cast("string").alias("cluster_id"),
    )


@q(
    "transcript_dedup_pipeline",
    # Planted-truth oracle: the flagship dedup pipeline must recover the
    # synthetic entity partition EXACTLY (pairwise tp/fp/fn against the
    # planted entity_id labels, plus cluster/record counts).  The expected
    # constants are fully determined by the deterministic synth seed; any
    # precision or recall loss changes tp/fp/fn and fails the hash compare.
    """
    SELECT 327 AS n_records,
           121 AS n_clusters,
           CAST(312 AS BIGINT) AS tp,
           CAST(0 AS BIGINT) AS fp,
           CAST(0 AS BIGINT) AS fn
    """,
)
def transcript_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from easylink_spark.plans.dedup import DedupConfig, run_dedup
    from easylink_spark.synth import labels_of, synth_transcripts

    t = synth_transcripts(spark, n_entities=150, seed=42).persist()
    labels = labels_of(t)
    ckpt = tempfile.mkdtemp(prefix="elspark_driver_")
    clusters = run_dedup(spark, t.drop("entity_id"), ckpt, DedupConfig())
    pred = clusters.select(
        F.col(f"`{K.INPUT_RECORD_ID}`").alias("cid"),
        F.col(f"`{K.CLUSTER_ID}`").alias("cl"),
    )
    pp = (
        pred.alias("a")
        .join(pred.alias("b"),
              (F.col("a.cl") == F.col("b.cl")) & (F.col("a.cid") < F.col("b.cid")))
        .select(F.col("a.cid").alias("l"), F.col("b.cid").alias("r"))
    )
    tr = (
        labels.alias("a")
        .join(labels.alias("b"),
              (F.col("a.entity_id") == F.col("b.entity_id"))
              & (F.col("a.conv_id") < F.col("b.conv_id")))
        .select(F.col("a.conv_id").alias("l"), F.col("b.conv_id").alias("r"))
    )
    tp = pp.join(tr, ["l", "r"]).count()
    return spark.createDataFrame(
        [(pred.count(), pred.select("cl").distinct().count(),
          tp, pp.count() - tp, tr.count() - tp)],
        "n_records int, n_clusters int, tp long, fp long, fn long",
    )


_REF_TUTORIAL_GOLDEN = "/root/reference/tests/e2e/pipeline_naive_results.csv"


@q(
    "person_golden_naive",
    # Label-invariant cluster-partition equality against the reference's
    # tutorial-scale golden (15,816 rows): both sides relabel each cluster
    # to the MIN member record key, so the row sets are equal iff the
    # partitions are identical (test_pipelines_main_schema.py:160-182).
    f"""
    SELECT dataset, record_id, min(rk) OVER (PARTITION BY cl) AS cluster_label
    FROM (
        SELECT "Input Record Dataset" AS dataset,
               CAST("Input Record ID" AS BIGINT) AS record_id,
               "Cluster ID" AS cl,
               "Input Record Dataset" || '-__-' ||
                   CAST("Input Record ID" AS VARCHAR) AS rk
        FROM read_csv_auto('{_REF_TUTORIAL_GOLDEN}')
    )
    """,
)
def person_golden_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easylink_spark.plans.tutorial import run_tutorial_pipeline

    clusters = run_tutorial_pipeline(spark)
    # Cluster ID is already the min member record key (connected_components
    # labels a component by its min node); emit it as the canonical label.
    return clusters.select(
        F.col(f"`{K.INPUT_RECORD_DATASET}`").alias("dataset"),
        F.col(f"`{K.INPUT_RECORD_ID}`").cast("long").alias("record_id"),
        F.col(f"`{K.CLUSTER_ID}`").cast("string").alias("cluster_label"),
    )


# ---------------------------------------------------------------------------
# EM-pipeline golden parities as oracle rows (round-4): the improved and
# cascade demo pipelines drift from the reference goldens within the
# reference's own tolerance (<= 0.5% of records per direction,
# test_pipelines_main_schema.py:173-180).  The engine is fully deterministic
# (exact closed-form u, fixpoint EM), so the drift counts are constants; the
# oracle row pins them plus the tolerance verdict.
# ---------------------------------------------------------------------------
def _partition_drift(clusters: DataFrame, golden_csv: str) -> DataFrame:
    import math

    import pandas as pd

    pdf = clusters.toPandas()
    ours = frozenset(
        pdf.groupby(K.CLUSTER_ID).apply(
            lambda g: frozenset(
                zip(g[K.INPUT_RECORD_DATASET], g[K.INPUT_RECORD_ID].astype(int))
            ),
            include_groups=False,
        )
    )
    gold_pdf = pd.read_csv(golden_csv)
    golden = frozenset(
        gold_pdf.groupby("Cluster ID").apply(
            lambda g: frozenset(
                zip(g["Input Record Dataset"], g["Input Record ID"])
            ),
            include_groups=False,
        )
    )
    wiggle = math.floor(0.005 * sum(len(c) for c in golden))
    d1, d2 = len(ours - golden), len(golden - ours)
    spark = clusters.sparkSession
    return spark.createDataFrame(
        [(d1, d2, wiggle, bool(d1 <= wiggle and d2 <= wiggle))],
        "drift_ours_only long, drift_golden_only long, wiggle long, "
        "within_tolerance boolean",
    )


@q(
    "person_golden_improved",
    """
    SELECT CAST(5 AS BIGINT) AS drift_ours_only,
           CAST(1 AS BIGINT) AS drift_golden_only,
           CAST(79 AS BIGINT) AS wiggle,
           true AS within_tolerance
    """,
)
def person_golden_improved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easylink_spark.plans.tutorial import improved_config, run_tutorial_pipeline

    clusters = run_tutorial_pipeline(spark, config=improved_config())
    return _partition_drift(
        clusters, "/root/reference/tests/e2e/pipeline_improved_results.csv"
    )


@q(
    "person_golden_cascade",
    """
    SELECT CAST(26 AS BIGINT) AS drift_ours_only,
           CAST(60 AS BIGINT) AS drift_golden_only,
           CAST(79 AS BIGINT) AS wiggle,
           true AS within_tolerance
    """,
)
def person_golden_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from easylink_spark.plans.tutorial import run_cascade_pipeline

    clusters = run_cascade_pipeline(spark)
    return _partition_drift(
        clusters, "/root/reference/tests/e2e/pipeline_improved_cascade_results.csv"
    )


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
