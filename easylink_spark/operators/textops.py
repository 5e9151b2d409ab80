"""Text-corpus operators for large-scale training-data pipelines.

Beyond the reference's ER operators, a 100 TB text/transcript pipeline needs
corpus hygiene primitives.  All are built-in-function compositions (JVM-side,
whole-stage-codegen) unless noted:

- ``exact_dedup_keys``      : md5-hash grouping (exact duplicate removal)
- ``simhash_signatures``    : n-bit SimHash over token hashes (near-dup)
- ``simhash_near_dup_pairs``: Hamming-ball candidate pairs via band rotation
- ``embedding_near_dup_pairs``: cosine near-duplicates via random-hyperplane
  LSH bucketing + in-bucket verification
- ``language_id``           : deterministic stopword-profile language guess
- ``quality_features``      : length/punct/stopword-ratio quality features
- ``token_count``           : whitespace + BPE-ish subword estimate
- ``fingerprint_minhash``   : min-md5 shingle fingerprint (winnowing-style)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from easylink_spark.operators.blocking import bucket_self_join

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup_keys(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(text_hash, n_docs, canonical_id=min id) — the exact-duplicate groups."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(id_col).alias("canonical_id"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def portable_token_hash60(col: Column) -> Column:
    """60-bit token hash every SQL engine can reproduce: the first 15 hex
    chars of md5, parsed as an integer (DuckDB:
    ``CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)``).  Used by the
    oracle-checked portable simhash; the default engine hash is xxhash64
    (faster, JVM-native)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int = 64,
    token_hash: "callable | None" = None,
) -> DataFrame:
    """(id, simhash) — n-bit SimHash: bit i of the result = 1 iff the sum
    over distinct tokens of (+1 if bit i of hash(token) else -1) > 0.

    Explode -> simple-aggregates layout: one row per (doc, token), n
    trivially-codegen'd conditional sums with map-side partial
    aggregation, then the signature assembled from the sums with literal
    shifts.  Unweighted (term frequency 1 per distinct token).
    ``token_hash`` defaults to xxhash64; pass :func:`portable_token_hash60`
    (with ``n_bits=60``) for a signature any SQL engine can recompute.
    """
    token_hash = token_hash or F.xxhash64
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    # Spread the CPU-heavy part across the cluster (round 6): the n_bits
    # conditional sums run in the groupBy's MAP-SIDE partial aggregation,
    # whose parallelism is the scan's file-split count — a byte-small
    # corpus lands on 1-2 tasks and serializes ~n_bits x tokens condition
    # evaluations.  Work scales with rows x tokens, not bytes, so
    # file-size-based partitioning under-parallelizes it.
    par = df.sparkSession.sparkContext.defaultParallelism
    exploded = df.select(
        F.col(id_col).alias("_id"), F.explode(toks).alias("_t")
    ).repartition(par, "_id").select("_id", token_hash(F.col("_t")).alias("_h"))
    sums = exploded.groupBy("_id").agg(*[
        F.sum(
            F.when(F.shiftright("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(n_bits)
    ])
    sig = None
    for i in range(n_bits):
        # bit 63 of a signed long is the sign bit: its set-value is MIN_LONG
        bit_val = -(1 << 63) if i == 63 else (1 << i)
        term = F.when(
            F.col(f"s{i}") > 0, F.lit(bit_val).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return sums.select("_id", sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    n_bits: int = 64,
    token_hash: "callable | None" = None,
    hot_piece_cap: int = 2000,
) -> DataFrame:
    """Near-duplicate id pairs with Hamming(simhash) <= max_hamming.

    Banding: split the n-bit hash into ``bands`` pieces; by pigeonhole any
    pair within Hamming distance bands-1 shares >= one exact band, so an
    equi-join per band finds all candidates for max_hamming <= bands-1;
    in-bucket verification filters by true distance.  (This is the standard
    Manku/Jain/Sarma simhash dedup layout.)

    Degenerate-corpus defense: a (band, piece) bucket larger than
    ``hot_piece_cap`` (millions of identical/boilerplate docs sharing a
    signature piece) would go quadratic; such buckets are dropped by
    ``blocking.bucket_self_join``, the same banded self-join as
    ``block_minhash_lsh``.  Exact-dedup owns genuinely identical text.
    """
    bits_per = n_bits // bands
    sh = simhash_signatures(df, text_col, id_col, n_bits, token_hash).select(
        "_id", F.col("simhash").alias("_sh")
    )
    banded = sh.select(
        "_id", "_sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("_sh", b * bits_per)
                .bitwiseAND(F.lit((1 << bits_per) - 1))
                .alias("piece"),
            )
            for b in range(bands)
        ])).alias("_bp"),
    ).select("_id", "_sh", "_bp.band", "_bp.piece")
    pairs = bucket_self_join(
        banded, ["band", "piece"], "_id", hot_piece_cap,
        [
            F.col("l._id").alias("left_id"),
            F.col("r._id").alias("right_id"),
            hamming64(F.col("l._sh"), F.col("r._sh")).alias("hamming"),
        ],
    )
    return (
        pairs.filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["left_id", "right_id"])
    )


# ---------------------------------------------------------------------------
# Embedding near-dup: random-hyperplane LSH + cosine verify
# ---------------------------------------------------------------------------
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (no numpy on
    executors needed — plain constants folded into the plan)."""
    import hashlib
    import struct

    out = []
    for i in range(dim):
        h = hashlib.sha256(f"{seed}:{i}".encode()).digest()[:8]
        (v,) = struct.unpack("<q", h)
        out.append(v / float(1 << 63))
    return out


def embedding_lsh_sign(vec: Column, dim: int, n_planes: int = 16,
                       seed: int = 7) -> Column:
    """n_planes-bit sign signature of ``vec`` against fixed hyperplanes.

    Round-6 note: an unrolled element_at(vec,i)*literal sum (64 terms x 64
    planes in one projection) was tried to escape the interpreted
    higher-order-function path and measured 10x SLOWER (5.4 s -> 52 s for
    embedding_near_dup at sf0.1) — the 4096-term expression tree defeats
    whole-stage codegen entirely and the deep interpreted Add chain costs
    more than the lambda fold it replaced.  The aggregate/zip_with form
    below is the measured-fastest JVM-only shape; kept."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = _hyperplane(seed * 1000 + p, dim)
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in plane]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(0)
        )
    return sig


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    min_cosine: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 4,
    hot_sig_cap: int = 2000,
) -> DataFrame:
    """Cosine-near-duplicate pairs: candidates from ``n_tables`` independent
    sign-LSH tables (equi-join on signature), verified by exact cosine.
    Candidate recall for cosine c per table ~= (1 - acos(c)/pi)^n_planes;
    multiple tables union.  At 100 TB each table join is a shuffle on an
    8-byte key — the verification join carries the vectors only for
    colliding pairs.

    Degenerate-corpus defense: a (table, sig) bucket larger than
    ``hot_sig_cap`` (e.g. millions of zero/identical embeddings) is dropped
    by ``blocking.bucket_self_join``, bounding the self-join at
    quadratic-bucket inputs (exact dedup owns identical vectors)."""
    # Spread the hyperplane-dot computation (n_tables x n_planes x dim
    # interpreted lambda steps per row) across the cluster: a byte-small
    # embeddings table is 1-2 file splits, which serialized the measured
    # bulk of this operator's wall (round 6).
    par = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).repartition(par, "_id")
    tagged = base.select(
        "_id", "_v",
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("table"),
                embedding_lsh_sign(F.col("_v"), dim, n_planes, seed=7 + t).alias("sig"),
            )
            for t in range(n_tables)
        ])).alias("_ts"),
    ).select("_id", "_v", "_ts.table", "_ts.sig")
    cand = bucket_self_join(
        tagged, ["table", "sig"], "_id", hot_sig_cap,
        [
            F.col("l._id").alias("left_id"),
            F.col("r._id").alias("right_id"),
            F.col("l._v").alias("_lv"),
            F.col("r._v").alias("_rv"),
        ],
    ).dropDuplicates(["left_id", "right_id"])
    return (
        cand.withColumn("cosine", cosine(F.col("_lv"), F.col("_rv")))
        .filter(F.col("cosine") >= min_cosine)
        .select("left_id", "right_id", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Language ID (deterministic stopword-profile heuristic)
# ---------------------------------------------------------------------------
_LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
}


def language_id(text: Column) -> Column:
    """argmax over language stopword-hit counts; 'und' (undetermined) when
    no profile hits.  Ties break by language code order (deterministic).

    Round-6 note: a rewrite that materialized the four counts into an
    array and took the argmax with array_max + array_position (to avoid
    the apparent double evaluation of each filter subtree in greatest +
    the tie-break whens) was measured and REJECTED: warm A/B at sf0.1
    noop-sink showed the when-chain form at 0.23-0.26 s vs 0.62-0.87 s
    for the array form — whole-stage codegen's subexpression elimination
    already shares the repeated filter subtrees, and the array
    construction + position scan is pure added work.  Kept as-is."""
    toks = F.split(F.lower(text), " ")

    def hits(words: list[str]):
        # closure factory: a default-arg lambda would be mistaken for
        # Spark's two-argument (element, index) higher-order lambda
        return lambda t: t.isin(words)

    scores = [
        (lang, F.size(F.filter(toks, hits(words))))
        for lang, words in sorted(_LANG_PROFILES.items())
    ]
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):  # earlier langs win ties
        expr = F.when((s == best_score) & (best_score > 0), lang).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Quality scoring + token counting
# ---------------------------------------------------------------------------
_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(_STOP)))
    mean_tok_len = F.when(n_tokens > 0,
                          (n_chars - n_tokens + 1) / n_tokens).otherwise(0.0)
    return df.withColumns({
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "stop_ratio": F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6),
        "mean_token_len": F.round(mean_tok_len, 6),
        "quality_ok": (n_tokens >= 5)
        & (mean_tok_len.between(2.0, 12.0)),
    })


def token_count(text: Column, bpe_chars_per_token: float = 4.0) -> Column:
    """Whitespace token count and a BPE-ish subword estimate
    (ceil(chars / ~4), the common chars-per-token heuristic)."""
    return F.struct(
        F.size(F.split(text, " ")).alias("ws_tokens"),
        F.ceil(F.length(text) / F.lit(bpe_chars_per_token)).cast("long").alias(
            "bpe_est_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------
def fingerprint_minhash(df: DataFrame, text_col: str, id_col: str,
                        shingle_tokens: int = 5) -> DataFrame:
    """(id, fingerprint) — per-document fingerprint: min md5 over token
    shingles (stable, engine-independent — same value computable in any SQL
    engine).

    array_min over the per-row shingle-hash array instead of explode +
    groupBy(min): one document's min needs no data movement, so the
    rows x shingles intermediate and the aggregation exchange disappear and
    the plan is one scan+project (1.7 s -> 0.2 s at sf0.1, 1 -> 0
    Exchanges).  Same values: array_min = MIN(h) GROUP BY doc over the same
    md5 strings (identical UTF8 ordering, no nulls)."""
    toks = F.split(F.col(text_col), " ")
    n = F.greatest(F.size(toks) - (shingle_tokens - 1), F.lit(1))
    return df.select(
        id_col,
        F.array_min(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(toks, i, shingle_tokens))
                ),
            )
        ).alias("fingerprint"),
    )
