"""Comparator function tests (F6-F10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from easylink_spark.functions import comparators as C
from easylink_spark.functions.comparators import _jaro_winkler


def _one(spark, expr, rows, schema):
    return spark.createDataFrame(rows, schema).select(expr.alias("v")).collect()[0]["v"]


def test_exact_match(spark):
    assert _one(spark, C.exact_match(F.col("a"), F.col("b")),
                [("x", "x")], "a string, b string") == 1.0
    assert _one(spark, C.exact_match(F.col("a"), F.col("b")),
                [("x", "y")], "a string, b string") == 0.0
    assert _one(spark, C.exact_match(F.col("a"), F.col("b")),
                [(None, "y")], "a string, b string") == 0.0


def test_levenshtein_similarity(spark):
    v = _one(spark, C.levenshtein_similarity(F.col("a"), F.col("b")),
             [("kitten", "sitting")], "a string, b string")
    assert abs(v - (1 - 3 / 7)) < 1e-9
    assert _one(spark, C.levenshtein_similarity(F.col("a"), F.col("b")),
                [("", "")], "a string, b string") == 1.0


def test_token_set_jaccard(spark):
    v = _one(spark, C.token_set_jaccard(F.col("a"), F.col("b")),
             [("a b c", "b c d")], "a string, b string")
    assert abs(v - 2 / 4) < 1e-9
    assert _one(spark, C.token_set_jaccard(F.col("a"), F.col("b")),
                [("a b", "a b")], "a string, b string") == 1.0


def test_turn_alignment(spark):
    schema = "a array<string>, b array<string>"
    # identical 2-turn conversations
    assert _one(spark, C.turn_alignment_similarity(F.col("a"), F.col("b")),
                [(["hi there", "ok"], ["hi there", "ok"])], schema) == 1.0
    # one conversation truncated: discount = 1/2
    v = _one(spark, C.turn_alignment_similarity(F.col("a"), F.col("b")),
             [(["hi there", "ok"], ["hi there"])], schema)
    assert abs(v - 0.5) < 1e-9


# -- Jaro-Winkler: cross-check the plain-python kernel against known values --
@pytest.mark.parametrize(
    "a,b,expected",
    [
        ("MARTHA", "MARHTA", 0.9611),
        ("DIXON", "DICKSONX", 0.8133),
        ("JELLYFISH", "SMELLYFISH", 0.8963),
        ("abc", "abc", 1.0),
        ("abc", "xyz", 0.0),
    ],
)
def test_jaro_winkler_known_values(a, b, expected):
    assert abs(_jaro_winkler(a, b) - expected) < 5e-4


def test_jaro_winkler_udf(spark):
    v = _one(spark, C.jaro_winkler(F.col("a"), F.col("b")),
             [("martha", "marhta")], "a string, b string")
    assert abs(v - 0.9611) < 5e-4
    assert _one(spark, C.jaro_winkler(F.col("a"), F.col("b")),
                [(None, "x")], "a string, b string") == 0.0


def test_dob_level(spark):
    rows = [
        ("19900101", "19900101", 3),  # exact
        ("19900101", "19900110", 2),  # transposed/2-digit edit
        ("19900101", "19910615", 1),  # within a year
        ("19900101", "20150101", 0),
    ]
    df = spark.createDataFrame([(a, b) for a, b, _ in rows], "a string, b string")
    got = [r["v"] for r in df.select(
        C.dob_level(F.col("a"), F.col("b")).alias("v")).collect()]
    assert got == [e for _, _, e in rows]
