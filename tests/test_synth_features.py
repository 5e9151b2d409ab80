"""Synthetic corpus invariants (FIXTURES.md §1) + feature extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators.features import (
    conversation_features,
    normalize_text,
    text_views,
)
from easylink_spark.synth import labels_of, synth_transcripts


def test_synth_invariants(spark):
    t = synth_transcripts(spark, n_entities=40, seed=42).cache()
    # (conv_id, turn_idx) unique
    assert (
        t.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    )
    # turn_idx dense from 0
    bad = (
        t.groupBy("conv_id")
        .agg(F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi"),
             F.count("*").alias("n"))
        .filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1))
    )
    assert bad.count() == 0
    # ts monotone within conversation
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    non_mono = t.withColumn("prev", F.lag("ts").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("ts") <= F.col("prev"))
    )
    assert non_mono.count() == 0
    # some entities have duplicate conversations
    assert labels_of(t).groupBy("entity_id").count().filter("count>1").count() > 0
    t.unpersist()


def test_synth_partitioning_independent(spark):
    a = synth_transcripts(spark, n_entities=25, seed=7, partitions=1)
    b = synth_transcripts(spark, n_entities=25, seed=7, partitions=13)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_normalize_text(spark):
    df = spark.createDataFrame([("  Hello,   WORLD!  ",)], "s string")
    assert df.select(normalize_text(F.col("s")).alias("n")).collect()[0]["n"] == "hello world"


def test_conversation_features(spark):
    t = synth_transcripts(spark, n_entities=20, seed=42).drop("entity_id")
    feats = text_views(conversation_features(t)).cache()
    n_convs = t.select("conv_id").distinct().count()
    assert feats.count() == n_convs
    row = feats.filter(
        F.col(f"`{K.INPUT_RECORD_ID}`") == "conv_00000000_00"
    ).collect()[0]
    # full text = ordered concat of normalized turns; first turn is its prefix
    assert row["full_text_norm"].startswith(row["first_text_norm"])
    assert row["first_prefix"] == row["first_text_norm"][:24]
    assert row["n_turns"] == len(row["turn_texts"])
    assert row["role_tool_sig"].startswith("user|assistant")
    feats.unpersist()


def _corpus_with_long_turn(spark):
    """A synth corpus plus one conversation whose second turn is over 300
    chars, so the 200-char ``turn_texts`` cap really cuts (no synth turn
    reaches it)."""
    import datetime

    t = synth_transcripts(spark, n_entities=20, seed=42).drop("entity_id")
    long_text = " ".join(f"Word{i}, AND more!" for i in range(40))
    assert len(long_text) > 300
    ts = datetime.datetime(2024, 1, 1)
    extra = spark.createDataFrame(
        [
            ("conv_long", 0, "user", "Hello,  THERE!", None, ts),
            ("conv_long", 1, "assistant", long_text, "search", ts),
            ("conv_long", 2, "user", None, None, ts),
        ],
        t.schema,
    )
    return t.unionByName(extra)


def test_text_views_match_the_stored_columns_they_replace(spark):
    """``text_views(conversation_features(t))`` gives the same first-turn,
    full-text and capped per-turn columns the records table used to store,
    here rebuilt inline with the expressions that built them."""
    t = _corpus_with_long_turn(spark).cache()
    rid = F.col(f"`{K.INPUT_RECORD_ID}`")
    views = text_views(conversation_features(t, validate=False)).select(
        rid, "first_text_norm", "full_text_norm", "turn_texts")
    turns = (
        t.groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "text")))
             .alias("turns"))
        .withColumn("turns", F.transform(
            "turns", lambda x: F.struct(normalize_text(x["text"]).alias("n"))))
    )
    stored = turns.select(
        F.col("conv_id").alias(K.INPUT_RECORD_ID),
        F.element_at("turns", 1)["n"].alias("first_text_norm"),
        F.concat_ws(" ", F.transform("turns", lambda x: x["n"]))
        .alias("full_text_norm"),
        F.transform("turns", lambda x: F.substring(x["n"], 1, 200))
        .alias("turn_texts"),
    )
    n_convs = t.select("conv_id").distinct().count()
    assert views.count() == stored.count() == n_convs
    assert views.exceptAll(stored).count() == 0
    assert stored.exceptAll(views).count() == 0
    row = views.filter(rid == "conv_long").collect()[0]
    assert row["first_text_norm"] == "hello there"
    assert [len(x) for x in row["turn_texts"][:2]] == [11, 200]
    assert row["turn_texts"][2] is None
    assert len(row["full_text_norm"]) > 300
    t.unpersist()


def test_turn_norm_holds_every_turn_uncapped(spark):
    """Per-turn text equality (BASELINE.json's per-row invariant):
    ``turn_norm[turn_idx + 1]`` is ``normalize_text(text)`` for every
    ``(conv_id, turn_idx)``, uncapped, and the array has no extra element."""
    t = _corpus_with_long_turn(spark).cache()
    feats = conversation_features(t, validate=False)
    stored = feats.select(
        F.col(f"`{K.INPUT_RECORD_ID}`").alias("conv_id"),
        F.posexplode("turn_norm").alias("turn_idx", "norm"),
    )
    expected = t.select("conv_id", "turn_idx",
                        normalize_text(F.col("text")).alias("norm"))
    assert stored.count() == expected.count()
    assert stored.exceptAll(expected).count() == 0
    assert expected.exceptAll(stored).count() == 0
    assert stored.agg(F.max(F.length("norm"))).collect()[0][0] > 300
    t.unpersist()


def test_duplicate_first_turns_normalize_identically(spark):
    """The per-turn perturbations on copies are normalization-recoverable in
    the first turn — the exact-blocking anchor."""
    t = synth_transcripts(spark, n_entities=30, seed=42)
    firsts = (
        t.filter(F.col("turn_idx") == 0)
        .select("entity_id", normalize_text(F.col("text")).alias("norm"))
        .groupBy("entity_id")
        .agg(F.countDistinct("norm").alias("k"))
    )
    assert firsts.filter("k > 1").count() == 0
