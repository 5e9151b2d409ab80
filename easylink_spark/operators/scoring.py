"""Pairwise Fellegi-Sunter scoring (SURVEY.md J3, A5-A7, P2).

Reference lifecycle (inside splink_evaluating_pairs.py):
  1. join blocked id-pairs back to records twice (l/r attributes)     :119-131
  2. compute comparison-vector levels (gammas) per comparison         :28-35
  3. estimate u by seeded random pair sampling                        :67
  4. EM-train m (and u) per training rule                             :69-74
  5. match_weight = log2(prior odds) + sum log2(m_k/u_k);
     probability = 1/(1+2^-w); threshold filter                       :133-143

Here each step is a DataFrame transformation: the pair->records double join
is two equi-joins (sort-merge or broadcast as Catalyst decides), gammas are
column expressions over built-in + pandas-UDF comparators, the FS weight is
pure column arithmetic (no shuffle), and u-estimation/EM are seeded
driver-side loops of aggregations (the only iterative aggregation besides
connected components).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    INPUT_RECORD_DATASET,
    INPUT_RECORD_ID,
    LEFT_DATASET,
    LEFT_ID,
    PAIR_COLS,
    PROBABILITY,
    RIGHT_DATASET,
    RIGHT_ID,
    record_key,
    validate_links,
)
from easylink_spark.functions import comparators as C


@dataclass
class Comparison:
    """One comparison column -> gamma levels with m/u probabilities.

    ``gamma`` maps (left_col_expr, right_col_expr) -> IntegerType column of
    the agreement level in [0, n_levels).  ``m``/``u`` are
    P(gamma=k | match) / P(gamma=k | non-match), one per level, summing ~1.

    ``tf_adjustment`` enables splink-style term-frequency-adjusted match
    weights on the top (exact-match) level: agreeing on a RARE value is
    stronger evidence than agreeing on a common one.  The generic u_k
    ("probability two random records agree") is replaced per-pair by the
    term frequency of the shared value v, scaled by ``tf_weight`` in [0,1]:

        weight_k(v) = log2(m_k / u_k) + tf_weight * log2(u_k / tf(v))
                    = log2(m_k / tf(v))                     (at tf_weight=1)

    (reference: splink compute_df_concat_with_tf feeding the predict SQL,
    splink_blocking_and_filtering.py:46-53 / splink_evaluating_pairs.py:
    82-117; splink's tf_adjustment_weight semantics.)
    """

    name: str
    input_col: str
    gamma: Callable[[Column, Column], Column]
    m: list[float]
    u: list[float]
    tf_adjustment: bool = False
    tf_weight: float = 1.0
    #: gamma is plain (null-guarded) equality on ``input_col`` — enables the
    #: EXACT closed-form u (``estimate_u_exact``) instead of pair sampling
    is_exact_equality: bool = False

    @property
    def n_levels(self) -> int:
        return len(self.m)

    def gamma_col(self) -> str:
        return f"gamma_{self.name}"

    def tf_col(self) -> str:
        return f"tf_{self.name}"


def _leveled(
    sim: Callable[[Column, Column], Column],
    cuts: list[float],
    null_level: bool = False,
):
    """Similarity fn + descending threshold cuts -> gamma level expr.
    cuts=[0.94, 0.88] -> sim>=0.94 -> 2; >=0.88 -> 1; else 0.

    ``null_level=True`` adds splink's NULL comparison level: if either input
    is null the gamma is -1, which contributes ZERO match weight (neither
    agreement evidence nor disagreement penalty) and is excluded from m/u
    estimation — mirroring splink ComparisonLevel null_level semantics
    (reference: cl.ExactMatch et al., splink_evaluating_pairs.py:28-35)."""

    def g(l: Column, r: Column) -> Column:
        s = sim(l, r)
        expr = F.lit(0)
        for i, cut in enumerate(reversed(cuts), start=1):
            expr = F.when(s >= F.lit(cut), i).otherwise(expr)
        if null_level:
            expr = F.when(l.isNull() | r.isNull(), F.lit(-1)).otherwise(expr)
        return expr.cast("int")

    return g


def default_transcript_comparisons() -> list[Comparison]:
    """Comparison spec for the transcript payload (north rule: JW on
    normalized first-turn text, token-set Jaccard on full text,
    turn-alignment Levenshtein over ordered turns)."""
    return [
        Comparison(
            "first_jw",
            "first_text_norm",
            _leveled(C.jaro_winkler, [0.94, 0.85]),
            m=[0.02, 0.08, 0.90],
            u=[0.90, 0.08, 0.02],
        ),
        Comparison(
            "full_jaccard",
            "full_text_norm",
            _leveled(C.token_set_jaccard, [0.70, 0.45]),
            m=[0.03, 0.15, 0.82],
            u=[0.94, 0.05, 0.01],
        ),
        Comparison(
            "turn_align",
            "turn_texts",
            _leveled(C.turn_alignment_similarity, [0.80, 0.55]),
            m=[0.05, 0.15, 0.80],
            u=[0.93, 0.05, 0.02],
        ),
        Comparison(
            "role_sig",
            "role_tool_sig",
            _leveled(C.exact_match, [0.5]),
            m=[0.35, 0.65],
            u=[0.85, 0.15],
        ),
    ]


# ---------------------------------------------------------------------------
# Term frequencies (A4) — splink's df_concat_with_tf analog
# ---------------------------------------------------------------------------
def with_term_frequencies(
    records: DataFrame, comparisons: list[Comparison]
) -> DataFrame:
    """Attach ``tf_<name>`` = count(value)/N columns to the records table for
    every tf-adjusted comparison (splink joins term frequencies into the
    concatenated input once, before the pair join — cheaper than joining
    against the much larger pairs table).  The tf table is a groupBy on the
    attribute value; Catalyst broadcasts it when small, shuffles otherwise.
    """
    tf_comps = [c for c in comparisons if c.tf_adjustment]
    if not tf_comps:
        return records
    total = records.agg(F.count(F.lit(1)).alias("_tot"))  # 1 row, broadcast

    out = records
    for c in tf_comps:
        col = f"`{c.input_col}`"
        # count on the value's string cast, as the join below matches on it
        # (the cast is injective for the primitive types used here)
        counts = records.groupBy(F.col(col).cast("string").alias("_v")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        # total joined as a broadcast 1-row frame — NOT a window over the
        # value-count table (whose empty-frame window would funnel every
        # distinct value through one partition at scale)
        tf = counts.join(F.broadcast(total)).select(
            "_v", (F.col("_n") / F.col("_tot")).alias(c.tf_col())
        )
        out = out.join(tf, out[col].cast("string") == tf["_v"], "left").drop("_v")
    return out


# ---------------------------------------------------------------------------
# Pairs -> attribute join -> gammas (J3)
# ---------------------------------------------------------------------------
def attach_pair_attributes(
    pairs: DataFrame,
    records: DataFrame,
    cols: list[str],
    partitions: int | None = None,
) -> DataFrame:
    """Join candidate pairs to the records table twice, materializing
    ``<col>_l`` / ``<col>_r`` attribute columns (reference J3:
    compute_comparison_vector_values_from_id_pairs joins, lifecycle §3.3).

    ``partitions`` (``None``: the default parallelism) hash-partitions both
    sides of both joins to that many tasks, so the comparators computed
    over the result run in that many tasks.  Comparator cost scales with
    pairs x text length, not bytes; a byte-small pairs table would
    otherwise land on one input split, or be coalesced by AQE, and score
    on a single task.  Spark raises a count below
    ``spark.sql.shuffle.partitions`` to it: a join whose sides are all
    shuffles takes the shuffle width as its minimum."""
    par = partitions or pairs.sparkSession.sparkContext.defaultParallelism

    def by(df: DataFrame, ds: str, rid: str) -> DataFrame:
        return df.repartition(par, F.col(f"`{ds}`"), F.col(f"`{rid}`"))

    def side(suffix: str) -> DataFrame:
        # SHUFFLE_HASH: the records table carries fat text/array attribute
        # columns — a driver-built broadcast of it is a measured serial
        # bottleneck, and at 10^11 records it would not fit anyway.  A
        # shuffle-hash join partitions both sides and builds per-partition
        # hash tables (no sort on the fat side).
        return by(records.select(
            F.col(f"`{INPUT_RECORD_DATASET}`").alias(f"_ds_{suffix}"),
            F.col(f"`{INPUT_RECORD_ID}`").alias(f"_id_{suffix}"),
            *[F.col(f"`{c}`").alias(f"{c}_{suffix}") for c in cols],
        ), f"_ds_{suffix}", f"_id_{suffix}").hint("SHUFFLE_HASH")

    out = by(pairs, LEFT_DATASET, LEFT_ID).join(
        side("l"),
        (F.col(f"`{LEFT_DATASET}`") == F.col("_ds_l"))
        & (F.col(f"`{LEFT_ID}`") == F.col("_id_l")),
    )
    return by(out, RIGHT_DATASET, RIGHT_ID).join(
        side("r"),
        (F.col(f"`{RIGHT_DATASET}`") == F.col("_ds_r"))
        & (F.col(f"`{RIGHT_ID}`") == F.col("_id_r")),
    ).drop("_ds_l", "_id_l", "_ds_r", "_id_r")


def compute_gammas(
    pairs_with_attrs: DataFrame, comparisons: list[Comparison]
) -> DataFrame:
    """Add one gamma_<name> int column per comparison."""
    out = pairs_with_attrs
    for c in comparisons:
        out = out.withColumn(
            c.gamma_col(),
            c.gamma(F.col(f"`{c.input_col}_l`"), F.col(f"`{c.input_col}_r`")),
        )
    return out


def comparison_vectors(
    pairs: DataFrame,
    records: DataFrame,
    comparisons: list[Comparison],
    partitions: int | None = None,
) -> DataFrame:
    """Pairs -> comparison-vector table: the pair columns, ``<col>_l`` /
    ``<col>_r`` for every comparison's input column and ``tf_<name>``
    column, and one ``gamma_<name>`` per comparison (reference lifecycle
    steps 1-2).  Term frequencies attach to the records BEFORE the pair
    join (splink's df_concat_with_tf), so the fat pairs table never joins
    a tf table.  ``partitions`` as in :func:`attach_pair_attributes`."""
    cols = sorted({c.input_col for c in comparisons})
    cols += sorted(c.tf_col() for c in comparisons if c.tf_adjustment)
    attrs = attach_pair_attributes(
        pairs, with_term_frequencies(records, comparisons), cols, partitions
    )
    return compute_gammas(attrs, comparisons)


# ---------------------------------------------------------------------------
# FS weight combination (A7) — pure column arithmetic
# ---------------------------------------------------------------------------
def fs_probability(
    gammas: DataFrame, comparisons: list[Comparison], prior: float
) -> DataFrame:
    """match_weight = log2(prior/(1-prior)) + sum_k log2(m_k/u_k);
    Probability = 1/(1+2^-w).  No shuffle: per-row arithmetic only.

    For tf-adjusted comparisons the TOP (exact-match) level's weight is
    shifted by tf_weight * log2(u_k / tf(v)) — per-pair arithmetic over the
    ``tf_<name>_l`` column attached upstream (see Comparison docstring).

    A NEGATIVE gamma (the splink null level, see ``_leveled``) contributes
    zero weight for that comparison."""
    w: Column = F.lit(math.log2(prior / (1.0 - prior)))
    for c in comparisons:
        # map gamma level -> log2(m/u) via chained when (levels are tiny)
        lw = F.lit(math.log2(c.m[0] / c.u[0]))
        for k in range(1, c.n_levels):
            level_w: Column = F.lit(math.log2(c.m[k] / c.u[k]))
            if c.tf_adjustment and k == c.n_levels - 1:
                tf = F.col(f"`{c.tf_col()}_l`")
                adj = F.lit(c.tf_weight) * (
                    F.lit(math.log2(c.u[k])) - F.log2(tf)
                )
                level_w = level_w + F.coalesce(adj, F.lit(0.0))
            lw = F.when(F.col(c.gamma_col()) == k, level_w).otherwise(lw)
        w = w + F.when(F.col(c.gamma_col()) < 0, F.lit(0.0)).otherwise(lw)
    out = gammas.withColumn("match_weight", w).withColumn(
        PROBABILITY, F.lit(1.0) / (F.lit(1.0) + F.pow(F.lit(2.0), -F.col("match_weight")))
    )
    return out


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    comparisons: list[Comparison] | None = None,
    prior: float = 0.01,
    threshold: float = 0.5,
    validate: bool = True,
    expensive_cols: set[str] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """End-to-end scoring: comparison vectors, FS probability, threshold
    filter (P2) -> links contract.

    ``partitions`` is the scoring task count (``None``: the default
    parallelism).  The links do not depend on it.

    ``expensive_cols`` enables TWO-PHASE scoring (splink's "filter on
    match weight before expensive comparisons" idea): phase 1 attaches only
    the other comparisons' attribute columns and computes their gammas; a
    pair is pruned when even the MAXIMUM possible weight of the deferred
    comparisons cannot lift it over the threshold — a sound bound, so the
    surviving link set is byte-identical to single-phase scoring.  Only
    survivors join the deferred columns and pay their comparators.

    ``validate=False`` skips the in-plan contract check — callers that
    checkpoint the result pass ``validate_links`` as the stage validator,
    which checks the stage's cached table once it is materialized (an
    in-plan validator action would otherwise recompute the whole scoring
    plan).
    """
    comparisons = comparisons or default_transcript_comparisons()
    expensive_cols = expensive_cols or set()
    deferred = [c for c in comparisons if c.input_col in expensive_cols]
    cheap = [c for c in comparisons if c.input_col not in expensive_cols]

    if deferred and cheap:
        # The pruning bound below assumes a deferred comparison's weight is
        # capped by max_k log2(m_k/u_k); a tf-adjusted deferred comparison
        # can exceed it by tf_weight*log2(u_k/tf(v)) — unbounded for rare
        # values — which would break the byte-identical guarantee.
        if any(c.tf_adjustment for c in deferred):
            raise ValueError(
                "two-phase scoring (expensive_cols) does not support "
                "tf-adjusted deferred comparisons; score them single-phase"
            )
        # threshold in weight space: p >= t  <=>  w >= log2(t/(1-t))
        w_t = math.log2(threshold / (1.0 - threshold))
        # best case of the deferred comparisons; 0.0 included: the null
        # level (gamma -1) contributes zero weight, which is the max when
        # every level weight is negative
        rest = sum(
            max([math.log2(m / u) for m, u in zip(c.m, c.u)] + [0.0])
            for c in deferred
        )
        partial = fs_probability(
            comparison_vectors(pairs, records, cheap, partitions), cheap, prior
        )
        survivors = partial.filter(
            F.col("match_weight") + F.lit(rest) >= F.lit(w_t)
        ).select(
            *[F.col(f"`{c}`") for c in PAIR_COLS],
            *[F.col(c.gamma_col()) for c in cheap],
            # the scored tf-adjusted comparisons' tf columns feed the final
            # fs_probability
            *[F.col(f"`{c.tf_col()}_l`") for c in cheap if c.tf_adjustment],
        )
        gammas = comparison_vectors(survivors, records, deferred, partitions)
    else:
        gammas = comparison_vectors(pairs, records, comparisons, partitions)
    scored = fs_probability(gammas, comparisons, prior)
    links = scored.filter(F.col(PROBABILITY) >= F.lit(threshold)).select(
        *[F.col(f"`{c}`") for c in PAIR_COLS], F.col(PROBABILITY)
    )
    if validate:
        return validate_links(links)
    return links


def _normalized(counts: list[float], floor: float) -> list[float]:
    """Per-level counts -> probabilities: each share floored at ``floor``
    (no level may get probability 0: its log weight would be infinite),
    then renormalized to sum 1."""
    tot = sum(counts) or 1.0
    p = [max(floor, x / tot) for x in counts]
    s = sum(p)
    return [x / s for x in p]


# ---------------------------------------------------------------------------
# EXACT u for equality comparisons (A5 closed form)
# ---------------------------------------------------------------------------
def estimate_u_exact(
    records: DataFrame,
    comparisons: list[Comparison],
    link_only: bool = False,
    floor: float = 1e-9,
) -> list[Comparison]:
    """Closed-form u for comparisons whose gamma is plain equality
    (``is_exact_equality``): u_1 = P(values equal | random pair, both
    non-null), computed EXACTLY from per-value counts — no pair sampling.

    For a value v with per-dataset non-null counts n_d(v):
      link_only  : matches = sum_v ((sum_d n_d(v))^2 - sum_d n_d(v)^2) / 2
                   total   = ((sum_d N_d)^2 - sum_d N_d^2) / 2
      dedupe     : matches = sum_v n(v)(n(v)-1)/2,  total = N(N-1)/2

    One groupBy per column over (value, dataset) — count-table scale, never
    pairs — deterministic at any parallelism, unlike sampled estimates whose
    noise can flip threshold-marginal patterns.  Every other comparison
    gets its exact u from :func:`estimate_u_by_value_pairs`.  Reference:
    splink estimates the same quantity by random sampling
    (splink_evaluating_pairs.py:67); the closed form is the scale-correct
    replacement for equality levels.
    """
    out = []
    for c in comparisons:
        if not c.is_exact_equality:
            out += estimate_u_by_value_pairs(records, [c], link_only, floor)
            continue
        if c.n_levels != 2:
            raise ValueError(
                f"estimate_u_exact: {c.name} marked exact but has "
                f"{c.n_levels} levels"
            )
        col = F.col(f"`{c.input_col}`")
        counts = (
            records.filter(col.isNotNull())
            .groupBy(col.alias("_v"), F.col(f"`{INPUT_RECORD_DATASET}`").alias("_d"))
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        if link_only:
            row = counts.groupBy("_v").agg(
                F.sum("_n").alias("_t"),
                F.sum(F.col("_n") * F.col("_n")).alias("_sq"),
            ).agg(
                F.sum((F.col("_t") * F.col("_t") - F.col("_sq")) / 2).alias("_m"),
                F.sum("_t").alias("_N"),
            ).collect()[0]
            per_ds = counts.groupBy("_d").agg(F.sum("_n").alias("_n")).collect()
            total = (row["_N"] ** 2 - sum(r["_n"] ** 2 for r in per_ds)) / 2.0
        else:
            row = counts.groupBy("_v").agg(F.sum("_n").alias("_t")).agg(
                F.sum(F.col("_t") * (F.col("_t") - 1) / 2).alias("_m"),
                F.sum("_t").alias("_N"),
            ).collect()[0]
            total = row["_N"] * (row["_N"] - 1) / 2.0
        u1 = max(floor, min(1.0 - floor, (row["_m"] or 0.0) / max(total, 1.0)))
        out.append(replace(c, u=[1.0 - u1, u1]))
    return out


def estimate_u_by_value_pairs(
    records: DataFrame,
    comparisons: list[Comparison],
    link_only: bool = False,
    floor: float = 1e-9,
) -> list[Comparison]:
    """EXACT u for arbitrary single-column comparisons via the weighted
    DISTINCT-VALUE-pair cross product.

    u_k = P(gamma=k | random pair) only depends on the pair's two values, so
    instead of sampling record pairs, enumerate distinct (value_l, value_r)
    combinations weighted by their record-count product:

        u_k = sum_{v1,v2} w(v1,v2) [gamma(v1,v2)=k] / sum w,
        w(v1,v2) = n_{dsA}(v1) * n_{dsB}(v2)   (link_only, per dataset pair)

    Cost is O(V_l x V_r) comparator evaluations on value tables — far below
    record-pair counts for low-cardinality columns (names), deterministic at
    any parallelism, and embarrassingly parallel (the value cross join
    shuffles count-table-sized inputs only).  For columns whose distinct
    cardinality approaches the record count (e.g. identifiers) this
    degrades to the full pair universe — use the sampled
    :func:`estimate_u` there, or an equality gamma with
    :func:`estimate_u_exact`.

    Universes (comparators are symmetric, so unordered pairs are
    enumerated once):

    - ``link_only=True``  — cross-dataset record pairs: per-(value, dataset)
      counts joined on dataset_l < dataset_r, w = n_A(v1) * n_B(v2);
    - ``link_only=False`` — all unordered record pairs (dedupe): per-value
      counts joined on v1 <= v2, w = n(v1) * n(v2) off the diagonal and
      n(v) * (n(v)-1) / 2 on it (same-value record pairs without self-pairs).
    """
    out = []
    for c in comparisons:
        col = F.col(f"`{c.input_col}`")
        # value tables are tiny in bytes but the cross product is comparator
        # CPU-heavy — spread the streamed side across tasks explicitly
        par = records.sparkSession.sparkContext.defaultParallelism
        if link_only:
            counts = (
                records.filter(col.isNotNull())
                .groupBy(col.alias("_v"),
                         F.col(f"`{INPUT_RECORD_DATASET}`").alias("_d"))
                .agg(F.count(F.lit(1)).cast("double").alias("_n"))
            )
            l = counts.select(F.col("_v").alias("_vl"), F.col("_d").alias("_dl"),
                              F.col("_n").alias("_nl")).repartition(par)
            r = counts.select(F.col("_v").alias("_vr"), F.col("_d").alias("_dr"),
                              F.col("_n").alias("_nr"))
            vp = l.join(F.broadcast(r), F.col("_dl") < F.col("_dr")).withColumn(
                "_w", F.col("_nl") * F.col("_nr")
            )
        else:
            counts = (
                records.filter(col.isNotNull())
                .groupBy(col.alias("_v"))
                .agg(F.count(F.lit(1)).cast("double").alias("_n"))
            )
            l = counts.select(F.col("_v").alias("_vl"),
                              F.col("_n").alias("_nl")).repartition(par)
            r = counts.select(F.col("_v").alias("_vr"),
                              F.col("_n").alias("_nr"))
            vp = l.join(F.broadcast(r), F.col("_vl") <= F.col("_vr")).withColumn(
                "_w",
                F.when(F.col("_vl") == F.col("_vr"),
                       F.col("_nl") * (F.col("_nl") - 1) / 2)
                .otherwise(F.col("_nl") * F.col("_nr")),
            )
        vp = vp.withColumn("_g", c.gamma(F.col("_vl"), F.col("_vr")))
        row = vp.agg(
            F.sum("_w").alias("_tot"),
            *[
                F.sum(F.when(F.col("_g") == k, F.col("_w")).otherwise(0.0)).alias(f"_u{k}")
                for k in range(c.n_levels)
            ],
        ).collect()[0]
        u = [row[f"_u{k}"] or 0.0 for k in range(c.n_levels)]
        out.append(replace(c, u=_normalized(u, floor)))
    return out


# ---------------------------------------------------------------------------
# u estimation by seeded random pair sampling (A5)
# ---------------------------------------------------------------------------
def estimate_u(
    records: DataFrame,
    comparisons: list[Comparison],
    max_pairs: int = 1_000_000,
    seed: int = 1234,
    floor: float = 1e-4,
    link_only: bool = False,
) -> list[Comparison]:
    """Estimate u_k = P(gamma=k | non-match) from random record pairs
    (reference: estimate_u_using_random_sampling(max_pairs=5e6, seed=1234),
    splink_evaluating_pairs.py:67).  Sampling is by deterministic hash of the
    record key, not by partition, so results are identical at any
    parallelism (SURVEY §4.2.3).

    ``link_only=True`` restricts the sampled pair universe to CROSS-dataset
    pairs, mirroring splink's link_type="link_only" u estimation — intra-
    dataset pairs would bias u upward when a dataset carries duplicates.
    Null gammas (level -1) are excluded per comparison: u_k is normalized
    over the comparison's non-null sampled pairs only."""
    if link_only:
        counts = [
            r["_n"]
            for r in records.groupBy(F.col(f"`{INPUT_RECORD_DATASET}`"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        ]
        n = sum(counts)
        universe = (n * n - sum(c * c for c in counts)) / 2.0
    else:
        n = records.count()
        universe = n * (n - 1) / 2.0
    if n < 2 or universe <= 0:
        return comparisons
    # fraction so that f^2 * universe ~= max_pairs
    f = min(1.0, math.sqrt(max_pairs / universe))
    cols = sorted({c.input_col for c in comparisons})
    key_hash = F.xxhash64(
        F.col(f"`{INPUT_RECORD_DATASET}`"),
        F.col(f"`{INPUT_RECORD_ID}`"),
        F.lit(seed),
    )
    # deterministic pseudo-uniform in [0,1) from the hash
    u01 = (F.pmod(key_hash, F.lit(1_000_000_007)) / F.lit(1_000_000_007.0))
    sample = records.filter(u01 < F.lit(f)).select(
        F.col(f"`{INPUT_RECORD_DATASET}`"),
        F.col(f"`{INPUT_RECORD_ID}`"),
        *[F.col(f"`{c}`") for c in cols],
    )
    l = sample.select(
        F.col(f"`{INPUT_RECORD_DATASET}`").alias(LEFT_DATASET),
        F.col(f"`{INPUT_RECORD_ID}`").alias(LEFT_ID),
        *[F.col(f"`{c}`").alias(f"{c}_l") for c in cols],
    )
    r = sample.select(
        F.col(f"`{INPUT_RECORD_DATASET}`").alias(RIGHT_DATASET),
        F.col(f"`{INPUT_RECORD_ID}`").alias(RIGHT_ID),
        *[F.col(f"`{c}`").alias(f"{c}_r") for c in cols],
    )
    pairs = l.crossJoin(r).filter(
        F.concat_ws("-", F.col(f"`{LEFT_DATASET}`"), F.col(f"`{LEFT_ID}`"))
        < F.concat_ws("-", F.col(f"`{RIGHT_DATASET}`"), F.col(f"`{RIGHT_ID}`"))
    )
    if link_only:
        pairs = pairs.filter(
            F.col(f"`{LEFT_DATASET}`") != F.col(f"`{RIGHT_DATASET}`")
        )
    gammas = compute_gammas(pairs, comparisons)
    aggs = gammas.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.when(F.col(c.gamma_col()) == k, 1).otherwise(0)).alias(
                f"{c.gamma_col()}_{k}"
            )
            for c in comparisons
            for k in range(c.n_levels)
        ],
    ).collect()[0]
    out = []
    for c in comparisons:
        # per-comparison denominator: non-null sampled pairs only (rows at
        # the null level -1 fall in no k-bucket and must not dilute u)
        u = [aggs[f"{c.gamma_col()}_{k}"] for k in range(c.n_levels)]
        out.append(replace(c, u=_normalized(u, floor)))
    return out


# ---------------------------------------------------------------------------
# EM estimation of m (and optionally u) — A6
# ---------------------------------------------------------------------------
def estimate_m_u_em(
    gammas: DataFrame,
    comparisons: list[Comparison],
    prior: float = 0.01,
    max_iter: int = 20,
    tol: float = 1e-4,
    update_u: bool = False,
    floor: float = 1e-4,
) -> tuple[list[Comparison], float]:
    """Expectation-maximisation over the comparison-vector table
    (reference: estimate_parameters_using_expectation_maximisation,
    splink_evaluating_pairs.py:69-74).

    E-step: per-pair match posterior p from current params;
    M-step: m_k = sum p[gamma=k]/sum p, u_k = sum (1-p)[gamma=k]/sum (1-p);
    prior lambda = mean p.  Null gammas (level -1) contribute a factor of 1
    to the likelihood and are excluded from that comparison's m/u counts
    (splink ComparisonLevel null semantics).

    Implementation: the comparison-vector table is first reduced to PATTERN
    COUNTS — one aggregation over (gamma_1..gamma_K) with map-side combine,
    collecting a table bounded by the observed pattern space (<= prod of
    level counts, typically tens of rows) — then the EM fixpoint runs on
    the driver over that tiny table.  One Spark job total, instead of one
    full-table aggregation per EM iteration; identical math, since the
    posterior depends on the pair only through its pattern.
    """
    import numpy as np

    comps = [replace(c, m=list(c.m), u=list(c.u)) for c in comparisons]
    gcols = [c.gamma_col() for c in comps]
    pat_rows = (
        gammas.groupBy(*[F.col(g) for g in gcols])
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    if not pat_rows:
        return comps, prior
    gv = {g: np.array([r[g] for r in pat_rows]) for g in gcols}
    n = np.array([r["_n"] for r in pat_rows], dtype=np.float64)
    n_total = n.sum() or 1.0

    lam = prior
    for _ in range(max_iter):
        # E-step: posterior per pattern (log space; null level -> factor 1)
        logodds = np.full(len(n), math.log(lam / (1.0 - lam)))
        for c in comps:
            g = gv[c.gamma_col()]
            m_arr = np.ones(len(n))
            u_arr = np.ones(len(n))
            for k in range(c.n_levels):
                m_arr = np.where(g == k, c.m[k], m_arr)
                u_arr = np.where(g == k, c.u[k], u_arr)
            logodds += np.log(m_arr) - np.log(u_arr)
        p = 1.0 / (1.0 + np.exp(-np.clip(logodds, -700, 700)))

        new_lam = float(np.clip((p * n).sum() / n_total, 1e-9, 1 - 1e-9))
        delta = abs(new_lam - lam)
        for c in comps:
            g = gv[c.gamma_col()]
            m_counts = [float((p * n)[g == k].sum()) for k in range(c.n_levels)]
            u_counts = [float(((1 - p) * n)[g == k].sum()) for k in range(c.n_levels)]
            new_m = _normalized(m_counts, floor)
            delta = max(delta, max(abs(a - b) for a, b in zip(new_m, c.m)))
            c.m = new_m
            if update_u:
                new_u = _normalized(u_counts, floor)
                delta = max(delta, max(abs(a - b) for a, b in zip(new_u, c.u)))
                c.u = new_u
        lam = new_lam
        if delta < tol:
            break
    return comps, lam
