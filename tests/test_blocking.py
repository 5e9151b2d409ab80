"""Blocking rule tests (J1 family): exact key + salting, LSH, SNM, union."""

from __future__ import annotations

from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators import blocking as B


def _records(spark, rows):
    """rows: (dataset, id, key, text)"""
    return spark.createDataFrame(
        rows,
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        "key string, text string",
    )


def pair_set(df):
    return {
        (r[K.LEFT_DATASET], r[K.LEFT_ID], r[K.RIGHT_DATASET], r[K.RIGHT_ID])
        for r in df.collect()
    }


def test_canonicalize_pairs(spark):
    pairs = spark.createDataFrame(
        [("b", "1", "a", "2"), ("a", "5", "a", "3"), ("a", "4", "a", "4")],
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string",
    )
    out = B.canonicalize_pairs(pairs)
    K.validate_pairs(out)
    assert pair_set(out) == {("a", "2", "b", "1"), ("a", "3", "a", "5")}


def test_block_on_key_basic(spark):
    recs = _records(
        spark,
        [("d", "1", "k1", ""), ("d", "2", "k1", ""), ("d", "3", "k1", ""),
         ("d", "4", "k2", ""), ("d", "5", None, ""), ("d", "6", "k3", "")],
    )
    pairs = B.block_on_key(recs, F.col("key"))
    K.validate_pairs(pairs)
    assert pair_set(pairs) == {
        ("d", "1", "d", "2"), ("d", "1", "d", "3"), ("d", "2", "d", "3")
    }


def test_block_on_key_salting_preserves_pairs(spark):
    """A hot key must produce the exact same pair set whether salted or not."""
    rows = [("d", f"{i:03d}", "hot", "") for i in range(40)]
    rows += [("d", f"x{i}", f"cold{i}", "") for i in range(5)]
    recs = _records(spark, rows)
    unsalted = pair_set(B.block_on_key(recs, F.col("key"),
                                       hot_block_threshold=10_000))
    salted = pair_set(B.block_on_key(recs, F.col("key"),
                                     hot_block_threshold=8, max_salt=4))
    assert len(unsalted) == 40 * 39 // 2
    assert salted == unsalted


def test_minhash_lsh_finds_near_duplicates(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight")
    near = base.replace("quick", "swift").replace("tonight", "today")
    other = ("completely different words about spark partitions shuffles "
             "joins aggregations windows and catalyst optimization plans")
    recs = _records(
        spark,
        [("d", "1", "", base), ("d", "2", "", near), ("d", "3", "", other),
         ("d", "4", "", base)],
    )
    pairs = B.block_minhash_lsh(recs, "text", num_hashes=32, bands=16)
    got = pair_set(pairs)
    assert ("d", "1", "d", "2") in got
    assert ("d", "1", "d", "4") in got
    assert not any("3" in (p[1], p[3]) for p in got)


def test_minhash_signatures_match_an_explode_min_reference(spark):
    """The per-row signatures equal the explode -> groupBy(min) formulation,
    row for row, on a synth corpus plus hand-made rows: a text under k
    tokens, an empty string, repeated shingles and two identical texts."""
    from easylink_spark.operators.features import (
        conversation_features,
        text_views,
    )
    from easylink_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_entities=40, seed=7).drop("entity_id")
    synth = text_views(conversation_features(t, validate=False)).select(
        F.col(f"`{K.INPUT_RECORD_DATASET}`"),
        F.col(f"`{K.INPUT_RECORD_ID}`"),
        F.col("full_text_norm").alias("text"),
    )
    hand = _records(spark, [
        ("h", "short", "", "two words"),
        ("h", "empty", "", ""),
        ("h", "repeat", "", "a b c a b c a b c d"),
        ("h", "same1", "", "the same text in both rows"),
        ("h", "same2", "", "the same text in both rows"),
    ]).drop("key")
    recs = synth.unionByName(hand).cache()
    cols = ["_ds", "_id", "_rk"] + [f"h{i}" for i in range(32)]
    got = B.minhash_signatures(recs, "text").select(*cols).cache()
    ref = recs.select(
        F.col(f"`{K.INPUT_RECORD_DATASET}`").alias("_ds"),
        F.col(f"`{K.INPUT_RECORD_ID}`").alias("_id"),
        K.record_key(f"`{K.INPUT_RECORD_DATASET}`",
                     f"`{K.INPUT_RECORD_ID}`").alias("_rk"),
        F.explode(B._shingles(F.col("text"), 3)).alias("_sh"),
    ).groupBy("_ds", "_id", "_rk").agg(*[
        F.min(F.xxhash64(F.lit(i), "_sh")).alias(f"h{i}") for i in range(32)
    ]).select(*cols)
    assert got.count() == recs.count()
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    same = got.filter(F.col("_id").isin("same1", "same2")).drop("_id", "_rk")
    assert same.distinct().count() == 1
    got.unpersist()
    recs.unpersist()


def test_sorted_neighborhood(spark):
    recs = _records(
        spark,
        [("d", "1", "aaa", ""), ("d", "2", "aab", ""), ("d", "3", "aac", ""),
         ("d", "4", "zzz", "")],
    )
    pairs = B.block_sorted_neighborhood(recs, "key", window=1, bucket_prefix_len=2)
    got = pair_set(pairs)
    # window=1: only adjacent-in-sort-order pairs; aac/zzz are in different
    # buckets AND adjacent, caught by boundary-head replication
    assert ("d", "1", "d", "2") in got
    assert ("d", "2", "d", "3") in got
    assert ("d", "1", "d", "3") not in got
    assert ("d", "3", "d", "4") in got


def test_sorted_neighborhood_spans_many_buckets(spark):
    # single-row buckets: a window-3 pair spans THREE bucket boundaries;
    # exact global-position semantics must still find it, and must also
    # produce exactly the |i-j|<=3 pair set and nothing else
    recs = _records(
        spark,
        [("d", "1", "aa", ""), ("d", "2", "bb", ""), ("d", "3", "cc", ""),
         ("d", "4", "dd", ""), ("d", "5", "ee", "")],
    )
    pairs = B.block_sorted_neighborhood(recs, "key", window=3, bucket_prefix_len=2)
    got = pair_set(pairs)
    expected = {
        ("d", str(i), "d", str(j))
        for i in range(1, 6) for j in range(i + 1, 6) if j - i <= 3
    }
    assert got == expected


def test_sorted_neighborhood_integer_ids_numeric_order(spark):
    # ids 2 and 10 in one bucket: canonical order must be numeric (2, 10)
    recs = spark.createDataFrame(
        [("d", 10, "aa"), ("d", 2, "ab")],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` long, key string",
    )
    pairs = B.block_sorted_neighborhood(recs, "key", window=1, bucket_prefix_len=1)
    rows = [(r[K.LEFT_ID], r[K.RIGHT_ID]) for r in pairs.collect()]
    assert rows == [(2, 10)]


def test_union_blocking_rules_match_key(spark):
    schema = (
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string"
    )
    rule0 = spark.createDataFrame([("d", "1", "d", "2")], schema)
    rule1 = spark.createDataFrame([("d", "1", "d", "2"), ("d", "2", "d", "3")], schema)
    merged = B.union_blocking_rules([rule0, rule1])
    rows = {(r[K.LEFT_ID], r[K.RIGHT_ID]): r[B.MATCH_KEY] for r in merged.collect()}
    assert rows == {("1", "2"): 0, ("2", "3"): 1}


def test_link_only_is_cross_dataset_subset_of_dedupe(spark):
    """``link_only=True`` must emit exactly the cross-dataset pairs the
    dedupe (``link_only=False``) run finds over the same records split into
    two datasets — for the salted exact-key rule and for MinHash-LSH."""
    from easylink_spark.operators.features import (
        conversation_features,
        text_views,
    )
    from easylink_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_entities=100, seed=3).drop("entity_id")
    recs = text_views(conversation_features(t, validate=False)).withColumn(
        K.INPUT_RECORD_DATASET,
        F.when(F.pmod(F.xxhash64(K.INPUT_RECORD_ID), F.lit(2)) == 0, "a")
        .otherwise("b"),
    ).cache()
    rules = [
        # threshold 2 salts every block of 3+ records
        lambda **kw: B.block_on_key(
            recs, F.substring("first_text_norm", 1, 3),
            hot_block_threshold=2, max_salt=4, **kw),
        lambda **kw: B.block_minhash_lsh(recs, "full_text_norm", **kw),
    ]
    for rule in rules:
        cross = {p for p in pair_set(rule()) if p[0] != p[2]}
        linked = pair_set(rule(link_only=True))
        assert cross
        assert linked == cross
    recs.unpersist()
