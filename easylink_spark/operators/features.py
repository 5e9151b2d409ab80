"""Conversation-level feature extraction (schema-alignment analog).

The reference's records contract carries flat attribute columns per record
(``default_schema_alignment.py:40-47`` renames ``Record ID`` ->
``Input Record ID`` and stamps ``Input Record Dataset``).  Our payload is a
*group of rows* per record (one conversation = many turns), so this stage
aggregates turns into one feature row per conversation:

- the ordered, uncapped array of normalized turn texts (stable
  (conv_id, turn_idx) ordering — the per-row invariant from BASELINE.json),
- the normalized first-turn prefix (the exact-blocking key),
- role/tool signature string,
- turn count, char count.

The normalized text is stored once.  ``text_views`` derives the columns the
comparators and the LSH rule read (first turn, full text, capped per-turn
texts) from that array when a stage reads the records, so the checkpointed
records table never holds the same text twice.

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
    validate: bool = True,
) -> DataFrame:
    """Aggregate turns -> one records-contract row per conversation.

    Output columns: the records contract key (`Input Record Dataset`,
    `Input Record ID`) plus ``turn_norm`` (ordered array of
    ``normalize_text`` over every turn, uncapped), ``first_prefix`` (the
    first ``prefix_len`` chars of the normalized first turn),
    ``role_tool_sig``, ``n_turns`` and ``n_chars``.  Apply ``text_views``
    to get the text columns scoring and LSH blocking compare.
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
            F.sort_array(F.collect_list(turn)).alias("turns"),
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
    )
    agg = agg.withColumn(
        "turn_norm", F.transform("turns", lambda t: normalize_text(t["text"]))
    )
    feats = agg.select(
        F.lit(dataset_name).alias(INPUT_RECORD_DATASET),
        F.col("conv_id").alias(INPUT_RECORD_ID),
        F.substring(F.element_at("turn_norm", 1), 1, prefix_len).alias(
            "first_prefix"
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
        F.col("turn_norm"),
    )
    if validate:
        return validate_records(feats)
    return feats


def text_views(records: DataFrame, turn_text_cap: int = 200) -> DataFrame:
    """Add the text columns the comparators and LSH blocking read, derived
    from ``turn_norm`` (records as built by ``conversation_features``):

    - ``first_text_norm``: the normalized first turn;
    - ``full_text_norm``: the normalized turns joined by single spaces;
    - ``turn_texts``: each normalized turn capped at ``turn_text_cap``
      chars, for the O(len^2) turn-alignment Levenshtein — the first chars
      carry the alignment signal, and the cap bounds comparator cost per
      pair at scale.

    Projections only: column pruning still reaches the records scan, so a
    plan that reads none of these columns does not read ``turn_norm``.
    """
    norm = F.col("turn_norm")
    return records.withColumns({
        "first_text_norm": F.element_at(norm, 1),
        "full_text_norm": F.concat_ws(" ", norm),
        "turn_texts": F.transform(
            norm, lambda t: F.substring(t, 1, turn_text_cap)
        ),
    })
