"""Text-corpus operator tests (dedup family, text analysis)."""

from __future__ import annotations

from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators import blocking as B
from easylink_spark.operators import textops as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keys(spark):
    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    out = {r["canonical_id"]: r["n_docs"]
           for r in T.exact_dedup_keys(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_simhash_properties(spark):
    df = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),   # near-dup
        (3, "completely different tokens about spark shuffles joins"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),  # exact
    ])
    sh = {r["_id"]: r["simhash"]
          for r in T.simhash_signatures(df, "text", "doc_id").collect()}
    assert sh[1] == sh[4]  # deterministic, equal for equal text
    mask = 0xFFFFFFFFFFFFFFFF  # signed long -> unsigned bit pattern
    ham12 = bin((sh[1] ^ sh[2]) & mask).count("1")
    ham13 = bin((sh[1] ^ sh[3]) & mask).count("1")
    assert ham12 < ham13, (ham12, ham13)


def test_simhash_near_dup_pairs(spark):
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango "
            "uniform victor whiskey xray yankee zulu anchor beacon compass")
    near = base.replace("compass", "drift")  # 1 of 29 tokens changed
    other = ("gear hinge ingot joule kelvin lever magnet nozzle piston "
             "quark rotor spring torque valve watt xenon zinc arc beam cone "
             "disc edge face grid helix iris knot line mesh")
    df = _docs(spark, [(1, base), (2, near), (3, other)])
    pairs = {(r["left_id"], r["right_id"])
             for r in T.simhash_near_dup_pairs(df, "text", "doc_id",
                                               max_hamming=7, bands=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_near_dup(spark):
    import numpy as np

    rng = np.random.default_rng(4)
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.03
    far = rng.standard_normal(16)
    df = spark.createDataFrame(
        [(1, base.tolist()), (2, near.tolist()), (3, far.tolist())],
        "vec_id long, embedding array<double>",
    )
    out = T.embedding_near_dup_pairs(df, "embedding", "vec_id", dim=16,
                                     min_cosine=0.95)
    got = {(r["left_id"], r["right_id"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "el gato que vive en la casa y los perros"),
            (3, "der hund und die katze das ist nicht ein problem"),
            (4, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", T.language_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_quality_features(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps over it"),
                       (2, "x"), (3, "Hello, world!")])
    rows = {r["doc_id"]: r for r in
            T.quality_features(df, "text").collect()}
    assert rows[1]["n_tokens"] == 7
    assert rows[1]["quality_ok"] is True
    assert rows[2]["quality_ok"] is False
    assert 0 < rows[1]["stop_ratio"] < 1
    assert rows[1]["punct_ratio"] == 0.0
    assert rows[3]["punct_ratio"] == round(2 / 13, 6)  # "," and "!"


def test_token_count(spark):
    df = _docs(spark, [(1, "one two three four")])
    r = df.select(T.token_count(F.col("text")).alias("tc")).collect()[0]["tc"]
    assert r["ws_tokens"] == 4
    assert r["bpe_est_tokens"] == 5  # ceil(18/4)


def test_fingerprint_stability(spark):
    df = _docs(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
                       (3, "totally different words here now ok yes")])
    fp = {r["doc_id"]: r["fingerprint"]
          for r in T.fingerprint_minhash(df, "text", "doc_id").collect()}
    assert fp[1] == fp[2] != fp[3]


def test_portable_simhash_matches_python_oracle(spark):
    """The md5-derived 60-bit simhash must equal a pure-Python recompute
    (the same arithmetic any SQL engine runs — the DuckDB oracle's basis)."""
    import hashlib

    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma delta"),
            (3, "totally different words here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["_id"]: r["simhash"]
           for r in T.simhash_signatures(
               df, "text", "doc_id", n_bits=60,
               token_hash=T.portable_token_hash60).collect()}

    def py_simhash(text):
        sums = [0] * 60
        for t in set(text.split(" ")):
            hv = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for i in range(60):
                sums[i] += 1 if (hv >> i) & 1 else -1
        return sum(1 << i for i in range(60) if sums[i] > 0)

    for doc_id, text in rows:
        assert got[doc_id] == py_simhash(text)


def test_hot_bucket_caps_bound_degenerate_corpora(spark):
    """A corpus of thousands of identical docs must not go quadratic: the
    hot-bucket / hot-piece / hot-signature caps drop the degenerate buckets
    (exact dedup owns identical content), so all three LSH paths return
    quickly and emit no pairs."""
    n = 4000
    docs = spark.range(n).selectExpr(
        "id AS doc_id", "'same boilerplate text for everyone' AS text"
    )
    pairs = T.simhash_near_dup_pairs(
        docs, "text", "doc_id", hot_piece_cap=100
    )
    assert pairs.count() == 0

    emb = spark.range(n).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), x -> CAST(1.0 AS FLOAT)) AS embedding",
    )
    epairs = T.embedding_near_dup_pairs(
        emb, "embedding", "vec_id", dim=8, hot_sig_cap=100
    )
    assert epairs.count() == 0

    recs = docs.selectExpr(
        f"'d' AS `{K.INPUT_RECORD_DATASET}`",
        f"CAST(doc_id AS STRING) AS `{K.INPUT_RECORD_ID}`",
        "text",
    )
    lpairs = B.block_minhash_lsh(recs, "text", hot_bucket_cap=100)
    assert lpairs.count() == 0
    # hot_bucket_cap=0 is no cap: a 40-doc slice pairs up in full
    small = recs.filter(F.col(K.INPUT_RECORD_ID).cast("int") < 40)
    assert B.block_minhash_lsh(small, "text", hot_bucket_cap=0).count() == 40 * 39 // 2
