"""Pairwise string comparators (SURVEY.md F6-F10).

The reference delegates comparison levels to splink comparison library calls
(``cl.ExactMatch``, ``cl.LevenshteinAtThresholds``, ``cl.NameComparison`` —
steps/splink/splink_evaluating_pairs.py:28-35) and fastLink's ``stringdist``
(steps/fastLink/fastLink_evaluating_pairs.R:62-66).  Here:

- exact / levenshtein / token-set Jaccard / turn-alignment similarity are
  **pure built-in column expressions** (whole-stage codegen, zero Python);
- Jaro-Winkler has no Spark built-in, so it is an **Arrow-batched pandas
  UDF** (the north rule's "batched Jaro-Winkler ... no per-row Python" —
  rows cross the JVM/Python boundary once per Arrow batch, not per row).

All similarity functions return doubles in [0,1], null-safe (null/null -> 1
treated by callers via gamma levels; null/value -> 0).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


# ---------------------------------------------------------------------------
# Built-in-composed comparators (JVM-side)
# ---------------------------------------------------------------------------
def exact_match(l: Column, r: Column) -> Column:
    """1.0 iff equal and non-null (F6)."""
    return F.when(l.isNotNull() & r.isNotNull() & (l == r), 1.0).otherwise(0.0)


def levenshtein_similarity(l: Column, r: Column) -> Column:
    """1 - lev(l, r) / max(len) via the built-in (F7)."""
    denom = F.greatest(F.length(l), F.length(r))
    sim = F.lit(1.0) - F.levenshtein(l, r) / denom
    return F.when(l.isNull() | r.isNull(), 0.0).otherwise(
        F.when(denom == 0, 1.0).otherwise(sim)
    )


def token_set_jaccard(l: Column, r: Column) -> Column:
    """|tokens(l) ∩ tokens(r)| / |tokens(l) ∪ tokens(r)| — built-ins only."""
    lt = F.array_distinct(F.split(l, " "))
    rt = F.array_distinct(F.split(r, " "))
    inter = F.size(F.array_intersect(lt, rt))
    union = F.size(F.array_union(lt, rt))
    return F.when(l.isNull() | r.isNull(), 0.0).otherwise(
        F.when(union == 0, 1.0).otherwise(inter / union)
    )


def turn_alignment_similarity(l_turns: Column, r_turns: Column) -> Column:
    """Positional turn alignment over two ordered arrays of turn texts.

    mean over aligned positions of (1 - lev/maxlen), discounted by the
    length ratio of the shorter to longer conversation.  zip_with truncates
    to the shorter array; the discount charges the missing turns.
    Entirely built-in (zip_with + levenshtein), JVM-side.
    """
    n_short = F.least(F.size(l_turns), F.size(r_turns))
    n_long = F.greatest(F.size(l_turns), F.size(r_turns))
    # zip_with pads the shorter array with nulls; slice both to the shorter
    # length so every aligned position is non-null.
    per_turn = F.zip_with(
        F.slice(l_turns, 1, n_short),
        F.slice(r_turns, 1, n_short),
        lambda a, b: F.when(
            F.greatest(F.length(a), F.length(b)) == 0, 1.0
        ).otherwise(
            F.lit(1.0) - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))
        ),
    )
    mean_sim = F.aggregate(per_turn, F.lit(0.0), lambda acc, x: acc + x) / n_short
    return F.when(
        l_turns.isNull() | r_turns.isNull() | (n_short == 0), 0.0
    ).otherwise(mean_sim * (n_short / n_long))


# ---------------------------------------------------------------------------
# Jaro-Winkler: Arrow-batched pandas UDF (no Spark built-in exists)
# ---------------------------------------------------------------------------
def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    flags1 = [False] * len1
    flags2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = True
                flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(len1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    # INTEGER halving of the mismatch count, matching rapidfuzz / DuckDB
    # jaro_similarity (the implementation behind the reference's
    # splink-on-DuckDB name comparisons); float halving scores e.g.
    # ("Dolores", "Carol") 0.5095 where DuckDB scores 0.5651
    t = transpositions // 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def _jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    # prefix boost gated on jaro > 0.7, matching rapidfuzz / DuckDB
    # jaro_winkler_similarity
    jaro = _jaro(s1, s2)
    if jaro > 0.7:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a == b:
                prefix += 1
            else:
                break
        jaro += prefix * prefix_weight * (1.0 - jaro)
    return jaro


try:  # C-implemented JW when available (same algorithm, ~50x faster)
    from rapidfuzz.distance.JaroWinkler import similarity as _rf_jw  # type: ignore

    _HAVE_RAPIDFUZZ = True
except Exception:  # pragma: no cover - sandbox has no rapidfuzz
    _HAVE_RAPIDFUZZ = False


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(l: pd.Series, r: pd.Series) -> pd.Series:
    """Batched Jaro-Winkler similarity (F8).  One Arrow transfer per batch
    of spark.sql.execution.arrow.maxRecordsPerBatch rows.

    Batch-level fast paths (blocked candidate pairs are duplicate-heavy):
    - equal strings score 1.0 with a vectorized numpy compare, no Python
      string loop (most near-duplicate pairs agree exactly on the compared
      field);
    - the remaining rows are deduplicated to UNIQUE (l, r) value pairs
      before the O(len^2) inner loop, then scattered back — common values
      (boilerplate first turns, frequent names) are scored once per batch.

    Marked non-deterministic below (it IS deterministic) so the optimizer
    never duplicates the evaluation around a filter that references a
    UDF-derived column: the two-phase scoring bound filter otherwise plans
    TWO ArrowEvalPython nodes for the one call — every pair crosses the
    Arrow boundary and pays the comparator twice (measured round 6; this
    is the optimization guide's §4.4 pattern exactly).
    """
    lv = l.to_numpy(dtype=object)
    rv = r.to_numpy(dtype=object)
    n = len(lv)
    valid = np.fromiter(
        (isinstance(a, str) and isinstance(b, str) for a, b in zip(lv, rv)),
        dtype=bool, count=n,
    )
    out = np.zeros(n)
    eq = valid & (lv == rv)
    out[eq] = 1.0
    todo = valid & ~eq
    if todo.any():
        pair_index = pd.MultiIndex.from_arrays([lv[todo], rv[todo]])
        codes, uniques = pd.factorize(pair_index)
        fn = _rf_jw if _HAVE_RAPIDFUZZ else _jaro_winkler
        uniq_scores = np.fromiter(
            (fn(a, b) for a, b in uniques), dtype=float, count=len(uniques)
        )
        out[todo] = uniq_scores[codes]
    return pd.Series(out)


# single evaluation per pair — see the docstring's §4.4 note
jaro_winkler_udf = jaro_winkler_udf.asNondeterministic()


def jaro_winkler(l: Column, r: Column) -> Column:
    return jaro_winkler_udf(l, r)


# ---------------------------------------------------------------------------
# Date-of-birth comparison (F9): exact / transposed-digits / within-range.
# Dates in the reference are *strings* (e.g. YYYYMMDD); splink's
# cl.DateOfBirthComparison levels are approximated as:
#   3 exact string match, 2 digit-transposition (lev<=2 on digits),
#   1 within 1 year, 0 else.
# ---------------------------------------------------------------------------
def dob_level(l: Column, r: Column) -> Column:
    digits_l = F.regexp_replace(l, r"[^0-9]", "")
    digits_r = F.regexp_replace(r, r"[^0-9]", "")
    year_l = F.substring(digits_l, 1, 4).cast("int")
    year_r = F.substring(digits_r, 1, 4).cast("int")
    return (
        F.when(l.isNull() | r.isNull(), 0)
        .when(l == r, 3)
        .when(F.levenshtein(digits_l, digits_r) <= 2, 2)
        .when(F.abs(year_l - year_r) <= 1, 1)
        .otherwise(0)
    )
