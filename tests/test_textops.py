"""Text-corpus operator tests (dedup family, text analysis, multimodal)."""

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
                       (2, "x")])
    rows = {r["doc_id"]: r for r in
            T.quality_features(df, "text").collect()}
    assert rows[1]["n_tokens"] == 7
    assert rows[1]["quality_ok"] is True
    assert rows[2]["quality_ok"] is False
    assert 0 < rows[1]["stop_ratio"] < 1


def test_token_count(spark):
    df = _docs(spark, [(1, "one two three four")])
    r = df.select(T.token_count(F.col("text")).alias("tc")).collect()[0]["tc"]
    assert r["ws_tokens"] == 4
    assert r["bpe_est_tokens"] == 5  # ceil(18/4)


def test_fingerprint_stability(spark):
    df = _docs(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
                       (3, "totally different words here now ok yes")])
    fp = {r["_id"]: r["fingerprint"]
          for r in T.fingerprint_minhash(df, "text", "doc_id").collect()}
    assert fp[1] == fp[2] != fp[3]


def test_multimodal_plumbing(spark):
    from easylink_spark.operators import multimodal as M

    rows = [
        ("m1", "image", bytearray(b"imgbytes1"), ("image/png", 64, 48, None, None)),
        ("m2", "audio", bytearray(b"audiobytes"), ("audio/wav", None, None, 16000, 2000)),
        ("m3", "video", bytearray(b"videobytes"), ("video/mp4", 320, 240, None, 2500)),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = M.extract_features(media).collect()
    assert len(feats) == 3
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id["m1"]["feature"]) == M.FEATURE_DIM
    assert by_id["m1"]["n_bytes"] == 9
    # deterministic: same payload -> same features
    feats2 = {r["media_id"]: r["feature"]
              for r in M.extract_features(media).collect()}
    assert feats2["m2"] == by_id["m2"]["feature"]

    frames = M.sample_video_frames(media, every_ms=1000).collect()
    assert {r["frame_ts_ms"] for r in frames} == {0, 1000, 2000}

    import pytest

    # video real-decode genuinely needs ffmpeg: raised from the executor
    with pytest.raises(Exception, match="NotImplementedError"):
        M.extract_features(
            media.filter("kind = 'video'"), decode="real"
        ).collect()


def test_sample_video_frames_matches_explode_semantics(spark):
    """Round-6: the frame expansion moved inside the mapInPandas kernel so
    the video payload crosses the Arrow boundary once per VIDEO instead of
    once per FRAME.  Pin the output against the former explode formulation
    (same timestamps incl. the null-duration -> single-frame case, same
    per-frame digests)."""
    import hashlib

    from easylink_spark.operators import multimodal as M

    rows = [
        ("v1", "video", bytearray(b"payload-one"), ("video/mp4", 1, 1, None, 3500)),
        ("v2", "video", bytearray(b"payload-two"), ("video/mp4", 1, 1, None, 3000)),
        ("v3", "video", bytearray(b"payload-nul"), ("video/mp4", 1, 1, None, None)),
        ("x1", "image", bytearray(b"not-a-video"), ("image/png", 1, 1, None, 9999)),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = sorted(
        (r["media_id"], r["frame_ts_ms"], bytes(r["frame"]))
        for r in M.sample_video_frames(media, every_ms=1000).collect()
    )
    # former plan: explode(sequence(0, greatest(duration_ms - 1, 0), step))
    # per video row (greatest ignores the null duration -> [0]), then
    # sha256(payload + ts-le64) per exploded row
    expected = []
    for mid, payload, dur in [("v1", b"payload-one", 3500),
                              ("v2", b"payload-two", 3000),
                              ("v3", b"payload-nul", None)]:
        stop = max(dur - 1, 0) if dur is not None else 0
        for t in range(0, stop + 1, 1000):
            expected.append((mid, t, hashlib.sha256(
                payload + t.to_bytes(8, "little")).digest()))
    assert got == sorted(expected)


def _wav_bytes(freq=440.0, rate=8000, sec=0.25, amp=0.5):
    import io
    import wave

    import numpy as np

    t = np.arange(int(rate * sec)) / rate
    x = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def _ppm_bytes(w=12, h=9):
    import numpy as np

    px = (np.arange(w * h * 3) % 256).astype("u1")
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def test_multimodal_real_decode_end_to_end(spark):
    """decode="real" runs the pure-Python WAV + PPM codecs through the
    distributed mapInPandas kernel: generated fixtures in, physically
    meaningful features out (audio rms/duration, image dims/channel
    means) — the plumbing flag is gone for these kinds."""
    import numpy as np

    from easylink_spark.operators import multimodal as M

    wav, ppm = _wav_bytes(), _ppm_bytes()
    rows = [
        ("a1", "audio", bytearray(wav), ("audio/wav", None, None, 8000, 250)),
        ("i1", "image", bytearray(ppm), ("image/x-ppm", 12, 9, None, None)),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    by_id = {r["media_id"]: r["feature"]
             for r in M.extract_features(media, decode="real").collect()}
    # audio: [duration_s, rate_khz, rms, peak, zcr, dc] + fft bands
    dur, khz, rms = by_id["a1"][0], by_id["a1"][1], by_id["a1"][2]
    assert abs(dur - 0.25) < 1e-6 and khz == 8.0
    assert abs(rms - 0.5 / np.sqrt(2)) < 0.01  # 0.5-amp sine
    # image: [width, height, mean r,g,b, std r,g,b] + gray histogram
    assert by_id["i1"][0] == 12.0 and by_id["i1"][1] == 9.0
    assert len(by_id["i1"]) == M.FEATURE_DIM

    # real resize through the kernel: P6 re-encoded at the target dims
    out = M.resize_images(media, 4, 3).filter("media_id = 'i1'").collect()[0]
    assert M.decode_ppm(bytes(out["payload"])).shape == (3, 4, 3)


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
