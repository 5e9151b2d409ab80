"""Fellegi-Sunter scoring tests (J3, A5-A7, P2)."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.functions import comparators as C
from easylink_spark.operators import scoring as S


def _records(spark, rows):
    """rows: (ds, id, name)"""
    return spark.createDataFrame(
        rows,
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        "name string",
    )


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows,
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string",
    )


def name_comparison():
    return S.Comparison(
        "name", "name", S._leveled(C.exact_match, [0.5]), m=[0.1, 0.9], u=[0.9, 0.1]
    )


def test_fs_probability_math(spark):
    """p = 1/(1+2^-w), w = log2(prior odds) + log2(m/u) at observed level."""
    comp = name_comparison()
    prior = 0.2
    df = spark.createDataFrame([(1,), (0,)], "gamma_name int")
    out = {r["gamma_name"]: r[K.PROBABILITY]
           for r in S.fs_probability(df, [comp], prior).collect()}
    for gamma, (m, u) in {1: (0.9, 0.1), 0: (0.1, 0.9)}.items():
        w = math.log2(prior / (1 - prior)) + math.log2(m / u)
        assert abs(out[gamma] - 1 / (1 + 2 ** -w)) < 1e-12


def test_score_pairs_end_to_end(spark):
    records = _records(
        spark, [("d", "1", "alice"), ("d", "2", "alice"), ("d", "3", "zed")]
    )
    pairs = _pairs(spark, [("d", "1", "d", "2"), ("d", "1", "d", "3")])
    links = S.score_pairs(pairs, records, [name_comparison()], prior=0.5,
                          threshold=0.5)
    got = {(r[K.LEFT_ID], r[K.RIGHT_ID]): r[K.PROBABILITY] for r in links.collect()}
    assert set(got) == {("1", "2")}
    assert got[("1", "2")] > 0.8


def test_attach_pair_attributes(spark):
    records = _records(spark, [("d", "1", "a"), ("d", "2", "b")])
    pairs = _pairs(spark, [("d", "1", "d", "2")])
    row = S.attach_pair_attributes(pairs, records, ["name"]).collect()[0]
    assert row["name_l"] == "a" and row["name_r"] == "b"


def test_estimate_u_deterministic_and_sane(spark):
    rows = [("d", f"{i:04d}", f"name{i % 7}") for i in range(60)]
    records = _records(spark, rows)
    comp = name_comparison()
    out1 = S.estimate_u(records, [comp], max_pairs=500, seed=9)
    out2 = S.estimate_u(records, [comp], max_pairs=500, seed=9)
    assert out1[0].u == out2[0].u  # deterministic
    # ~1/7 of random name pairs agree; u[1] must reflect that, not 0.1 default
    assert 0.05 < out1[0].u[1] < 0.30
    assert abs(sum(out1[0].u) - 1.0) < 1e-9


def test_em_separates_mixture(spark):
    """Two-component mixture over two conditionally-independent binary
    comparisons (a single binary comparison is famously unidentifiable for a
    Bernoulli mixture): EM should learn m/u that separate matches (agree on
    both) from non-matches (rarely agree)."""
    import random

    rng = random.Random(3)
    rows = []
    for _ in range(300):  # non-matches: agree 10% / 15%
        rows.append((1 if rng.random() < 0.10 else 0,
                     1 if rng.random() < 0.15 else 0))
    for _ in range(100):  # matches: agree 95% / 90%
        rows.append((1 if rng.random() < 0.95 else 0,
                     1 if rng.random() < 0.90 else 0))
    gammas = spark.createDataFrame(rows, "gamma_name int, gamma_city int")
    comps = [
        S.Comparison("name", "name", S._leveled(C.exact_match, [0.5]),
                     m=[0.3, 0.7], u=[0.7, 0.3]),
        S.Comparison("city", "city", S._leveled(C.exact_match, [0.5]),
                     m=[0.3, 0.7], u=[0.7, 0.3]),
    ]
    trained, lam = S.estimate_m_u_em(gammas, comps, prior=0.3, update_u=True,
                                     max_iter=60, tol=1e-5)
    assert trained[0].m[1] > 0.80      # matches agree on name
    assert trained[0].u[1] < 0.25      # non-matches rarely agree
    assert 0.1 < lam < 0.5             # learned mixture weight near 0.25


def test_tf_adjusted_weights_common_vs_rare(spark):
    """TF adjustment (A4 full): agreeing on a COMMON value must score lower
    than agreeing on a RARE value; with tf_weight=1 the top-level weight is
    exactly log2(m / tf(v)) (splink df_concat_with_tf semantics)."""
    # 6 records: 4 share name 'smith' (tf=4/6), 2 share 'zorn' (tf=2/6)
    recs = _records(
        spark,
        [("d", "1", "smith"), ("d", "2", "smith"), ("d", "3", "smith"),
         ("d", "4", "smith"), ("d", "5", "zorn"), ("d", "6", "zorn")],
    )
    comp = S.Comparison(
        "name", "name", S._leveled(C.exact_match, [0.5]),
        m=[0.1, 0.9], u=[0.9, 0.1], tf_adjustment=True, tf_weight=1.0,
    )
    pairs = _pairs(spark, [("d", "1", "d", "2"), ("d", "5", "d", "6")])
    recs_tf = S.with_term_frequencies(recs, [comp])
    attrs = S.attach_pair_attributes(pairs, recs_tf, ["name", comp.tf_col()])
    scored = S.fs_probability(S.compute_gammas(attrs, [comp]), [comp], 0.5)
    w = {r[K.LEFT_ID]: r["match_weight"] for r in scored.collect()}
    assert w["5"] > w["1"], "rare-value agreement must outweigh common-value"
    # exact arithmetic: w = log2(prior odds)=0 + log2(m / tf)
    assert abs(w["1"] - math.log2(0.9 / (4 / 6))) < 1e-9
    assert abs(w["5"] - math.log2(0.9 / (2 / 6))) < 1e-9

    # three tf comparisons, one on an int column: each tf_<name> column is
    # count(value) / N over the records
    comps3 = [
        S.Comparison(name, name, S._leveled(C.exact_match, [0.5]),
                     m=[0.1, 0.9], u=[0.9, 0.1], tf_adjustment=True)
        for name in ("name", "parity", "band")
    ]
    rid = F.col(f"`{K.INPUT_RECORD_ID}`")
    recs3 = recs.withColumns({
        "parity": rid.cast("int") % 2,
        "band": F.when(rid == "1", "a").otherwise("b"),
    })
    rows = S.with_term_frequencies(recs3, comps3).collect()
    assert len(rows) == 6
    for c in comps3:
        counts = Counter(r[c.input_col] for r in rows)
        for r in rows:
            assert r[c.tf_col()] == counts[r[c.input_col]] / 6, (c.name, r)


def test_two_phase_scoring_identical_links(spark):
    """Two-phase scoring (cheap gammas -> provable weight bound -> fat
    comparators on survivors only) must produce byte-identical links to
    single-phase — the bound is sound, pruning only pairs that cannot
    reach the threshold."""
    from easylink_spark.operators.blocking import block_on_key
    from easylink_spark.operators.features import (
        conversation_features,
        text_views,
    )
    from easylink_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_entities=60, seed=9).drop("entity_id")
    recs = text_views(
        conversation_features(t, "transcripts", 24, validate=False))
    pairs = block_on_key(recs, F.col("first_prefix"))
    one = S.score_pairs(pairs, recs, prior=0.01, threshold=0.85,
                        validate=False)
    two = S.score_pairs(pairs, recs, prior=0.01, threshold=0.85,
                        validate=False, expensive_cols={"turn_texts"})
    assert {tuple(r) for r in one.collect()} == {tuple(r) for r in two.collect()}
    # single second phase deferring BOTH fat comparators — same guarantee
    three = S.score_pairs(
        pairs, recs, prior=0.01, threshold=0.85, validate=False,
        expensive_cols={"turn_texts", "first_text_norm"})
    assert {tuple(r) for r in one.collect()} == {tuple(r) for r in three.collect()}


def test_value_pairs_u_matches_bruteforce_both_universes(spark):
    """estimate_u_exact vs brute-force u over ALL record pairs of the
    universe, for an equality comparison (closed form) and a leveled one
    (distinct-value-pair enumeration) — link_only (cross-dataset) and
    dedupe (all unordered pairs, no self-pairs) must both agree to float
    precision."""
    import itertools

    from easylink_spark.functions.comparators import _jaro_winkler

    rows = [
        ("a", "1", "smith"), ("a", "2", "smith"), ("a", "3", "smyth"),
        ("a", "4", "jones"), ("b", "5", "smith"), ("b", "6", "jones"),
        ("b", "7", "jonez"), ("b", "8", "smyth"), ("b", "9", "smith"),
    ]
    recs = _records(spark, rows)
    jw = S.Comparison(
        "name", "name", S._leveled(C.jaro_winkler, [0.94, 0.85]),
        m=[0.1, 0.2, 0.7], u=[0.7, 0.2, 0.1],
    )
    eq = S.Comparison(
        "name_eq", "name", S._leveled(C.exact_match, [0.5]),
        m=[0.1, 0.9], u=[0.9, 0.1], is_exact_equality=True,
    )

    def jw_level(v1, v2):
        sim = _jaro_winkler(v1, v2)
        return 2 if sim >= 0.94 else (1 if sim >= 0.85 else 0)

    levels = {"name": jw_level, "name_eq": lambda v1, v2: int(v1 == v2)}
    for link_only in (True, False):
        if link_only:
            universe = [
                (x, y) for x, y in itertools.combinations(rows, 2)
                if x[0] != y[0]
            ]
        else:
            universe = list(itertools.combinations(rows, 2))
        got = S.estimate_u_exact(recs, [jw, eq], link_only=link_only)
        assert [c.name for c in got] == ["name", "name_eq"]
        for c in got:
            counts = [0] * c.n_levels
            for x, y in universe:
                counts[levels[c.name](x[2], y[2])] += 1
            expect = [n / len(universe) for n in counts]
            assert all(
                abs(g - e) < 1e-9 for g, e in zip(c.u, expect)
            ), f"{c.name} link_only={link_only}: {c.u} vs {expect}"
