"""Conversation-level feature extraction (schema-alignment analog).

The reference's records contract carries flat attribute columns per record
(``default_schema_alignment.py:40-47`` renames ``Record ID`` ->
``Input Record ID`` and stamps ``Input Record Dataset``).  Our payload is a
*group of rows* per record (one conversation = many turns), so this stage
aggregates turns into one feature row per conversation:

- ordered full-text concatenation (stable (conv_id, turn_idx) ordering —
  the per-row invariant from BASELINE.json),
- normalized first-turn text (lower/trim/punct-strip/space-collapse),
- role/tool signature string,
- turn count, char count.

Everything here is built-in column functions — single shuffle (the groupBy),
whole-stage-codegen eligible, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    INPUT_RECORD_DATASET,
    INPUT_RECORD_ID,
    validate_records,
)


def normalize_text(col: Column) -> Column:
    """Lower, strip punctuation, collapse whitespace, trim.

    Recovers the casing/whitespace/punctuation noise the duplicate generator
    (and real-world transcript copies) introduce; the normalized first turn
    is the exact-blocking anchor (north rule: "normalized first-turn text").
    """
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def conversation_features(
    transcripts: DataFrame,
    dataset_name: str = "transcripts",
    prefix_len: int = 24,
    turn_text_cap: int = 200,
    validate: bool = True,
) -> DataFrame:
    """Aggregate turns -> one records-contract row per conversation.

    Output columns: the records contract key (`Input Record Dataset`,
    `Input Record ID`) plus feature attributes used by blocking and scoring:
    ``first_text_norm``, ``first_prefix``, ``full_text_norm``,
    ``role_tool_sig``, ``n_turns``, ``n_chars``, ``turn_texts`` (ordered
    array of normalized per-turn texts, for turn-alignment scoring).
    """
    # The expensive per-turn work (two regexp_replace passes over every
    # text) runs AFTER the groupBy, inside F.transform on the reduce side:
    # the reduce side always has shuffle.partitions of parallelism, while
    # the map side is capped at the SCAN's partition count — a corpus laid
    # out as many small files bin-packs into few scan partitions and would
    # cap normalization at that width no matter how many cores the cluster
    # has (measured: the records stage scaled 1.36x at 4x cores with
    # map-side regex, ~3x with reduce-side).  The shuffle moves the same
    # turn bytes either way.
    turn = F.struct(
        F.col("turn_idx"),
        F.col("text"),
        F.col("role"),
        F.coalesce(F.col("tool"), F.lit("")).alias("tool"),
    )
    agg = (
        transcripts.groupBy("conv_id")
        .agg(
            F.sort_array(F.collect_list(turn)).alias("turns_raw"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
    )
    agg = agg.withColumn(
        "turns",
        F.transform(
            "turns_raw",
            lambda t: F.struct(
                t["turn_idx"].alias("turn_idx"),
                normalize_text(t["text"]).alias("text_norm"),
                t["role"].alias("role"),
                t["tool"].alias("tool"),
            ),
        ),
    )
    first = F.element_at(F.col("turns"), 1)
    feats = agg.select(
        F.lit(dataset_name).alias(INPUT_RECORD_DATASET),
        F.col("conv_id").alias(INPUT_RECORD_ID),
        first["text_norm"].alias("first_text_norm"),
        F.substring(first["text_norm"], 1, prefix_len).alias("first_prefix"),
        F.concat_ws(" ", F.transform("turns", lambda t: t["text_norm"])).alias(
            "full_text_norm"
        ),
        F.concat_ws(
            "|",
            F.transform(
                "turns",
                lambda t: F.concat_ws(
                    ":", t["role"], F.when(t["tool"] != "", t["tool"])
                ),
            ),
        ).alias("role_tool_sig"),
        F.col("n_turns").cast("int").alias("n_turns"),
        F.col("n_chars").cast("long").alias("n_chars"),
        # per-turn texts capped for the O(len^2) turn-alignment Levenshtein;
        # the first `turn_text_cap` chars carry the alignment signal, and the
        # cap bounds comparator cost per pair at scale
        F.transform(
            "turns", lambda t: F.substring(t["text_norm"], 1, turn_text_cap)
        ).alias("turn_texts"),
    )
    if validate:
        return validate_records(feats)
    return feats
