"""Blocking: candidate-pair generation (SURVEY.md J1, §4.2.1).

The reference's blocking is splink's ``block_using_rules_sqls`` — a SQL
self-join of the concatenated records table per blocking rule, unioned with
``match_key`` dedup (splink_blocking_and_filtering.py:74-91).  Here the same
semantics are Spark-native, with three rule families per the north rule:

1. **Exact key** (``block_on_key``): self-join on an equality key
   (e.g. normalized first-turn prefix), with *explicit hot-key salting* —
   rows of an oversized block are split into S salt groups and the right
   side replicated across salts, so the quadratic pair-enumeration of a hot
   block spreads over S tasks instead of one straggler.  (AQE's skew-join
   splits shuffle partitions, but it cannot split the n^2 output of a single
   hot key — that needs this salt-replication, SURVEY §4.2.1.)
2. **MinHash-LSH** (``block_minhash_lsh``): token-shingle MinHash signatures
   banded into buckets; pairs = within-bucket self-join.  Hand-rolled with
   built-in functions (xxhash64 / transform / array_min), one projection
   per record — no Python, no MLlib overhead, deterministic across
   parallelism levels.
3. **Sorted neighborhood** (``block_sorted_neighborhood``): rows within a
   +/-w window of the records sorted by a key.  Distributed via fixed prefix
   bucketing + per-bucket ranks + cumulative bucket offsets -> exact global
   sort positions, then a banded equi-self-join on floor(pos/w) — exact
   window semantics with no global sort, no driver collect, no Python.

All rule outputs are canonicalized (left < right; F5 in SURVEY.md) and
unioned with splink-style ``match_key`` retention (lowest rule index wins).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    INPUT_RECORD_DATASET,
    INPUT_RECORD_ID,
    LEFT_DATASET,
    LEFT_ID,
    PAIR_COLS,
    RIGHT_DATASET,
    RIGHT_ID,
    record_key,
)

MATCH_KEY = "match_key"


# ---------------------------------------------------------------------------
# Canonical pair ordering (F5) — reference enforces by conditional column
# swap (splink_blocking_and_filtering.py:109-137,
#  one_to_many_links_to_clusters.py:29-47).
# ---------------------------------------------------------------------------
def canonicalize_pairs(pairs: DataFrame) -> DataFrame:
    """Swap (left, right) columns where needed so that left dataset <= right
    dataset and, within a dataset, left id < right id; drop self-pairs.

    Ids are compared on their NATIVE type: integer Record IDs order
    numerically, matching the reference's astype(int) canonicalization
    (splink_blocking_and_filtering.py astype(int) + ordering swap;
    validation_utils._validate_pairs) — string comparison would emit
    (10, 2)-style pairs the reference contract rejects.
    """
    lds, rds = F.col(f"`{LEFT_DATASET}`"), F.col(f"`{RIGHT_DATASET}`")
    lid, rid = F.col(f"`{LEFT_ID}`"), F.col(f"`{RIGHT_ID}`")
    swap = (lds > rds) | ((lds == rds) & (lid > rid))
    out = pairs
    extra = [c for c in pairs.columns if c not in PAIR_COLS]
    out = out.select(
        F.when(swap, rds).otherwise(lds).alias(LEFT_DATASET),
        F.when(swap, rid).otherwise(lid).alias(LEFT_ID),
        F.when(swap, lds).otherwise(rds).alias(RIGHT_DATASET),
        F.when(swap, lid).otherwise(rid).alias(RIGHT_ID),
        *[F.col(f"`{c}`") for c in extra],
    )
    not_self = ~((F.col(f"`{LEFT_DATASET}`") == F.col(f"`{RIGHT_DATASET}`"))
                 & (F.col(f"`{LEFT_ID}`") == F.col(f"`{RIGHT_ID}`")))
    return out.filter(not_self)


def _pair_select(left_prefix: str = "l", right_prefix: str = "r") -> list[Column]:
    return [
        F.col(f"{left_prefix}._ds").alias(LEFT_DATASET),
        F.col(f"{left_prefix}._id").alias(LEFT_ID),
        F.col(f"{right_prefix}._ds").alias(RIGHT_DATASET),
        F.col(f"{right_prefix}._id").alias(RIGHT_ID),
    ]


def _keyed(records: DataFrame, key: Column) -> DataFrame:
    return records.select(
        key.alias("_bkey"),
        F.col(f"`{INPUT_RECORD_DATASET}`").alias("_ds"),
        F.col(f"`{INPUT_RECORD_ID}`").alias("_id"),
        record_key(f"`{INPUT_RECORD_DATASET}`", f"`{INPUT_RECORD_ID}`").alias("_rk"),
    ).filter(F.col("_bkey").isNotNull() & (F.col("_bkey") != ""))


def _cross_dataset_join(
    left: DataFrame, right: DataFrame, on: Column, select: list[Column]
) -> DataFrame:
    """splink link_type="link_only": only pairs SPANNING datasets.  The
    restriction is structural, not a post-filter: one equi-join per
    unordered dataset pair (a < b), each side pre-filtered to one dataset,
    so intra-dataset row combinations never enter a hash bucket.  The
    dataset list is metadata-cardinality (a handful).  Both sides must
    carry ``_ds``; ``select`` projects each join over aliases ``l``/``r``.
    """
    datasets = sorted(r["_ds"] for r in left.select("_ds").distinct().collect())
    if len(datasets) < 2:
        raise ValueError("link_only blocking needs >= 2 datasets")
    joined = [
        left.filter(F.col("_ds") == a).alias("l")
        .join(right.filter(F.col("_ds") == b).alias("r"), on)
        .select(*select)
        for i, a in enumerate(datasets)
        for b in datasets[i + 1:]
    ]
    return reduce(DataFrame.unionByName, joined)


def bucket_self_join(
    rows: DataFrame,
    keys: list[str],
    order_col: str,
    cap: int,
    select: list[Column],
    link_only: bool = False,
) -> DataFrame:
    """Banded self-join shared by every LSH operator: rows agreeing on all
    ``keys`` (band + bucket) pair up once each (``l.<order_col> <
    r.<order_col>``), projected through ``select`` over aliases ``l``/``r``.

    Buckets over ``cap`` rows (boilerplate text or identical vectors that
    would go near-Cartesian) are dropped first; ``cap=0`` keeps all.
    The cap is a WINDOW count over the same ``keys`` partitioning the join
    needs: it introduces exactly ONE exchange, both join sides reuse it
    (``ReusedExchange``), and the join needs no further shuffle or sort
    because the window already partitioned AND sorted by the join key.  A
    groupBy + broadcast anti join would plan the banded subtree (and the
    whole signature pipeline under it) three times -- once for the bucket
    sizes and once per join side.  The price: rows of an over-cap bucket
    cross the exchange once before being dropped (linear, spills
    gracefully).

    ``link_only=True`` joins across datasets only (rows need ``_ds``), via
    the same per-dataset-pair split as ``block_on_key``.
    """
    if cap:
        w_bucket = Window.partitionBy(*keys)
        rows = (
            rows.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
            .filter(F.col("_bn") <= cap)
            .drop("_bn")
        )
    same_bucket = reduce(
        lambda a, b: a & b, [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    )
    if link_only:
        return _cross_dataset_join(rows, rows, same_bucket, select)
    return (
        rows.alias("l")
        .join(
            rows.alias("r"),
            same_bucket & (F.col(f"l.{order_col}") < F.col(f"r.{order_col}")),
        )
        .select(*select)
    )


# ---------------------------------------------------------------------------
# Rule 1: exact-key blocking with hot-key salting
# ---------------------------------------------------------------------------
def block_on_key(
    records: DataFrame,
    key: Column,
    hot_block_threshold: int = 512,
    max_salt: int = 64,
    link_only: bool = False,
) -> DataFrame:
    """All unordered record pairs sharing ``key`` exactly.

    Pairs within a block of size n are n*(n-1)/2.  Blocks larger than
    ``hot_block_threshold`` are salted: each left row lands in one of S salt
    groups (S = ceil(n / threshold), capped); right rows are replicated to
    every salt group.  Every cross pair is still produced exactly once
    (under the left row's salt), but the work for a hot key spreads over S
    tasks.  Small blocks take the S=1 fast path untouched.

    ``link_only=True`` emits only pairs SPANNING datasets (splink
    link_type="link_only"; reference splink_blocking_and_filtering.py
    LINK_ONLY env var) via ``_cross_dataset_join``: the n^2/block
    intra-dataset combinations are never probed or materialized.
    """
    keyed = _keyed(records, key)
    # Broadcast only the HOT keys (count > threshold) — a handful even at
    # 10^11 records — never the full key-cardinality size table (whose
    # driver-side broadcast build is a serial bottleneck).  Cold keys get
    # salt factor 1 via the null branch of the left join.
    hot = (
        keyed.groupBy("_bkey")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > hot_block_threshold)
    )
    salted = keyed.join(F.broadcast(hot), "_bkey", "left").withColumn(
        "_s",
        F.when(
            F.col("_bn").isNull(), F.lit(1)
        ).otherwise(
            F.least(
                F.lit(max_salt),
                F.ceil(F.col("_bn") / F.lit(hot_block_threshold)),
            )
        ).cast("int"),
    )
    left = salted.withColumn(
        "_salt", F.pmod(F.xxhash64("_rk"), F.col("_s")).cast("int")
    )
    right = salted.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    )
    same_salted_key = (F.col("l._bkey") == F.col("r._bkey")) & (
        F.col("l._salt") == F.col("r._salt")
    )
    if link_only:
        pairs = _cross_dataset_join(left, right, same_salted_key, _pair_select())
    else:
        pairs = (
            left.alias("l")
            .join(
                right.alias("r"),
                same_salted_key & (F.col("l._rk") < F.col("r._rk")),
            )
            .select(*_pair_select())
        )
    return canonicalize_pairs(pairs)


# ---------------------------------------------------------------------------
# Rule 2: MinHash-LSH over token shingles (built-in functions only)
# ---------------------------------------------------------------------------
def _shingles(text: Column, k: int) -> Column:
    """k-token shingle hash array from a normalized-text column (JVM-side)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.xxhash64(F.concat_ws(
            " ", F.slice(toks, i + 1, k)
        )),
    ))).otherwise(F.array(F.xxhash64(text)))


def minhash_signatures(
    records: DataFrame,
    text_col: str,
    num_hashes: int = 32,
    shingle_k: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """(_ds, _id, _rk, h0..h{H-1}) minhash signature table.

    One projection per record: ``h<i>`` is the ``array_min`` of the
    record's shingle hashes rehashed with seed ``i``.  A per-record min
    needs no other record's rows, so there is no explode, aggregation or
    join back, and the shingle array is built once per record, in a
    Project below the H ``array_min`` columns.

    The explicit repartition to ``partitions`` tasks (``None``: the default
    parallelism) spreads the CPU-heavy hashing across the cluster even
    when the input is few bytes — minhash cost scales with rows x
    shingles, not bytes, so file-size-based partitioning
    under-parallelizes it.  The exchange carries the text, not the
    shingles: they are built after it, as the arrays outweigh the text.
    """
    par = partitions or records.sparkSession.sparkContext.defaultParallelism
    keyed = records.select(
        F.col(f"`{INPUT_RECORD_DATASET}`").alias("_ds"),
        F.col(f"`{INPUT_RECORD_ID}`").alias("_id"),
        record_key(f"`{INPUT_RECORD_DATASET}`", f"`{INPUT_RECORD_ID}`").alias("_rk"),
        F.col(f"`{text_col}`").alias("_txt"),
    ).repartition(par, "_rk")
    shingled = keyed.select(
        "_ds", "_id", "_rk", _shingles(F.col("_txt"), shingle_k).alias("_sh")
    )

    def seeded(i: int):
        # closure factory: a default-arg lambda would be mistaken for
        # Spark's two-argument (element, index) higher-order lambda
        return lambda s: F.xxhash64(F.lit(i), s)

    return shingled.select("_ds", "_id", "_rk", *[
        F.array_min(F.transform("_sh", seeded(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ])


def block_minhash_lsh(
    records: DataFrame,
    text_col: str = "full_text_norm",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hot_bucket_cap: int = 2000,
    link_only: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Candidate pairs whose minhash signatures collide in >=1 LSH band.

    bands * rows_per_band = num_hashes; a pair with Jaccard similarity j
    collides w.p. 1-(1-j^r)^b.  Buckets larger than ``hot_bucket_cap`` are
    dropped (boilerplate text producing near-Cartesian buckets) by
    ``bucket_self_join`` — the exact-key rule with salting is the path that
    owns genuinely hot keys.  ``hot_bucket_cap=0`` means no cap, as for
    the textops LSH operators.

    ``link_only=True`` restricts to cross-dataset pairs (splink
    link_type="link_only") via the same join-side dataset split as
    ``block_on_key``.

    ``partitions`` is the signature task count (see
    ``minhash_signatures``).  The pairs do not depend on it.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(records, text_col, num_hashes, shingle_k,
                             partitions)
    banded = sig.select(
        "_ds", "_id", "_rk",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * r + i}") for i in range(r)]).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("_bb"),
    ).select("_ds", "_id", "_rk", "_bb.band", "_bb.bucket")
    pairs = bucket_self_join(
        banded, ["band", "bucket"], "_rk", hot_bucket_cap, _pair_select(),
        link_only=link_only,
    )
    return canonicalize_pairs(pairs.dropDuplicates(PAIR_COLS))


# ---------------------------------------------------------------------------
# Rule 3: sorted neighborhood (distributed, exact global-window semantics)
# ---------------------------------------------------------------------------
def block_sorted_neighborhood(
    records: DataFrame,
    sort_key: str = "first_text_norm",
    window: int = 3,
    bucket_prefix_len: int = 2,
) -> DataFrame:
    """Pairs of records within +/-``window`` positions of each other when
    globally sorted by ``(sort_key, dataset, id)`` — EXACT window semantics,
    fully executor-side.

    Distribution strategy (no global orderBy, no driver collect):

    1. bucket rows by a fixed-length key prefix (deterministic and
       partitioning-independent, unlike repartitionByRange's sampled
       boundaries) and rank within each bucket in parallel;
    2. per-bucket row counts -> cumulative offsets via a window over the
       *bucket-size table* (metadata-scale: one row per distinct prefix,
       single tiny partition) -> broadcast-joined back, giving every row its
       exact GLOBAL sort position;
    3. a pair (i, j) with 0 < pos_j - pos_i <= w has
       floor(pos_j/w) - floor(pos_i/w) in {0, 1}, so two equi-joins on the
       position band (same band + next band) + a range filter enumerate
       exactly the window pairs — windows spanning any number of bucket
       boundaries included, no head replication, no truncation.

    Each row lands in O(1) join rows and each pair is produced exactly once
    (same-band and next-band pair sets are disjoint), so the plan is two
    shuffles regardless of bucket-size distribution.
    """
    keyed = records.select(
        F.col(f"`{sort_key}`").alias("_k"),
        F.col(f"`{INPUT_RECORD_DATASET}`").alias("_ds"),
        F.col(f"`{INPUT_RECORD_ID}`").alias("_id"),
    ).filter(F.col("_k").isNotNull() & (F.col("_k") != ""))
    keyed = keyed.withColumn("_bucket", F.substring("_k", 1, bucket_prefix_len))

    # rank within bucket (parallel across buckets)
    w_in = Window.partitionBy("_bucket").orderBy("_k", "_ds", "_id")
    ranked = keyed.withColumn("_rn", F.row_number().over(w_in))

    # bucket offsets: cumulative sum over the tiny distinct-bucket table
    # (single-partition window over metadata-cardinality rows, never data)
    w_off = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .select("_bucket", "_off")
    )
    pos = ranked.join(F.broadcast(offsets), "_bucket").select(
        "_ds", "_id", (F.col("_off") + F.col("_rn") - 1).alias("_g")
    ).withColumn("_band", F.floor(F.col("_g") / F.lit(window)))

    l = pos.select(
        F.col("_ds").alias("_lds"), F.col("_id").alias("_lid"),
        F.col("_g").alias("_gl"), F.col("_band").alias("_bl"),
    )
    r = pos.select(
        F.col("_ds").alias("_rds"), F.col("_id").alias("_rid"),
        F.col("_g").alias("_gr"), F.col("_band").alias("_br"),
    )
    in_window = (F.col("_gr") > F.col("_gl")) & (
        F.col("_gr") - F.col("_gl") <= window
    )
    same = l.join(r, F.col("_bl") == F.col("_br")).filter(in_window)
    nxt = l.join(r, F.col("_bl") + 1 == F.col("_br")).filter(in_window)
    pairs = same.unionByName(nxt).select(
        F.col("_lds").alias(LEFT_DATASET),
        F.col("_lid").alias(LEFT_ID),
        F.col("_rds").alias(RIGHT_DATASET),
        F.col("_rid").alias(RIGHT_ID),
    )
    return canonicalize_pairs(pairs)


# ---------------------------------------------------------------------------
# Union of rules with splink-style match_key dedup
# ---------------------------------------------------------------------------
def union_blocking_rules(rule_pairs: list[DataFrame]) -> DataFrame:
    """Union candidate pairs of several rules; a pair produced by rules
    {i, j, ...} keeps the lowest rule index as ``match_key``
    (splink's match-key semantics, splink_blocking_and_filtering.py:74-91)."""
    tagged = [
        df.select(*[F.col(f"`{c}`") for c in PAIR_COLS],
                  F.lit(i).alias(MATCH_KEY))
        for i, df in enumerate(rule_pairs)
    ]
    allp = tagged[0]
    for t in tagged[1:]:
        allp = allp.unionByName(t)
    return (
        allp.groupBy(*[F.col(f"`{c}`") for c in PAIR_COLS])
        .agg(F.min(MATCH_KEY).alias(MATCH_KEY))
    )
