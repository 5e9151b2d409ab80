"""Data contracts: the reference's validated inter-step schemas as Spark checks.

The reference enforces six named relational contracts between pipeline steps,
each via a pandas validator in
``/root/reference/src/easylink/utilities/validation_utils.py``:

- dataset         (validation_utils.py:164-189)
- datasets dir    (validation_utils.py:192-219)
- records         (validation_utils.py:361-382)
- blocks/pairs    (validation_utils.py:385-491)
- links           (validation_utils.py:247-335)
- clusters        (validation_utils.py:222-244)
- ids_to_remove   (validation_utils.py:338-358)

Here each contract is (a) a set of required columns and (b) a validator that
runs as DataFrame aggregations — a single Spark job per validation, no
collect() of data rows (only violation counts / small samples come back to
the driver).  Extra columns always pass through, mirroring the reference's
required-subset check (validation_utils.py:43-75).

Canonical pair ordering (left dataset <= right dataset; left id < right id
when datasets equal) is load-bearing in the reference — validated
(validation_utils.py:294-335) and enforced by column swaps
(steps/splink/splink_blocking_and_filtering.py:109-137).  ``canonicalize_pairs``
in operators/blocking.py is the enforcing transform; ``validate_pairs`` /
``validate_links`` here are the checks.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Column-name constants (the reference's exact contract column names).
# ---------------------------------------------------------------------------
RECORD_ID = "Record ID"
INPUT_RECORD_DATASET = "Input Record Dataset"
INPUT_RECORD_ID = "Input Record ID"
LEFT_DATASET = "Left Record Dataset"
LEFT_ID = "Left Record ID"
RIGHT_DATASET = "Right Record Dataset"
RIGHT_ID = "Right Record ID"
PROBABILITY = "Probability"
CLUSTER_ID = "Cluster ID"

PAIR_COLS = [LEFT_DATASET, LEFT_ID, RIGHT_DATASET, RIGHT_ID]
RECORD_KEY_COLS = [INPUT_RECORD_DATASET, INPUT_RECORD_ID]

# Surrogate-key separator, as in the reference
# (splink_blocking_and_filtering.py:93-103, splink_links_to_clusters.py:21-26).
KEY_SEP = "-__-"


class ContractViolation(AssertionError):
    """Raised when a DataFrame fails a contract validator."""


def _validation_enabled() -> bool:
    """Validators run by default; set EASYLINK_VALIDATE=0 to skip (bench
    path — each validator costs one or more Spark jobs)."""
    import os

    return os.environ.get("EASYLINK_VALIDATE", "1") != "0"


@dataclass
class Contract:
    name: str
    required_columns: list[str] = field(default_factory=list)


DATASET = Contract("dataset", [RECORD_ID])
RECORDS = Contract("records", RECORD_KEY_COLS)
PAIRS = Contract("pairs", PAIR_COLS)
LINKS = Contract("links", PAIR_COLS + [PROBABILITY])
CLUSTERS = Contract("clusters", RECORD_KEY_COLS + [CLUSTER_ID])
IDS_TO_REMOVE = Contract("ids_to_remove", [INPUT_RECORD_ID])


def record_key(dataset_col: str | Column, id_col: str | Column) -> Column:
    """Flatten the composite record key to the reference's string surrogate.

    Mirrors ``"-__-".join(...)`` at splink_blocking_and_filtering.py:93-103.
    """
    d = F.col(dataset_col) if isinstance(dataset_col, str) else dataset_col
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.concat_ws(KEY_SEP, d, i.cast("string"))


def split_record_key(key_col: str | Column) -> tuple[Column, Column]:
    """Inverse of :func:`record_key` (split on first separator only,
    mirroring update_clusters_by_connected_components.py:106-110)."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    parts = F.split(k, KEY_SEP, 2)
    return parts.getItem(0), parts.getItem(1)


# ---------------------------------------------------------------------------
# Validation primitives
# ---------------------------------------------------------------------------
def _require_columns(df: DataFrame, contract: Contract) -> None:
    missing = [c for c in contract.required_columns if c not in df.columns]
    if missing:
        raise ContractViolation(
            f"{contract.name}: missing required columns {missing}; "
            f"have {df.columns}"
        )


def _assert_empty(df: DataFrame, message: str) -> None:
    """Assert a violations-DataFrame is empty; report a small sample if not."""
    bad = df.limit(5).collect()
    if bad:
        raise ContractViolation(f"{message}; sample: {bad}")


def assert_unique(df: DataFrame, keys: list[str], context: str) -> None:
    """No duplicate key tuples (ref: validation_utils.py:95-122)."""
    dupes = df.groupBy(*[F.col(f"`{k}`") for k in keys]).count().filter("count > 1")
    _assert_empty(dupes, f"{context}: duplicate keys on {keys}")


# ---------------------------------------------------------------------------
# Contract validators (one per reference validator)
# ---------------------------------------------------------------------------
def validate_dataset(df: DataFrame) -> DataFrame:
    """`dataset`: Record ID present + unique (validation_utils.py:164-189)."""
    if not _validation_enabled():
        return df
    _require_columns(df, DATASET)
    _assert_empty(
        df.filter(F.col(f"`{RECORD_ID}`").isNull()), "dataset: null Record ID"
    )
    assert_unique(df, [RECORD_ID], "dataset")
    return df


def validate_records(df: DataFrame) -> DataFrame:
    """`records`: (dataset, id) unique (validation_utils.py:361-382)."""
    if not _validation_enabled():
        return df
    _require_columns(df, RECORDS)
    assert_unique(df, RECORD_KEY_COLS, "records")
    return df


def _canonical_violation(df: DataFrame) -> Column:
    """Rows violating canonical pair order (validation_utils.py:294-335):
    left dataset must sort <= right dataset; when datasets are equal the left
    id must sort strictly < right id (this also bans self-pairs).  Ids are
    compared on their native type — integer ids numerically, mirroring the
    reference's astype(int) validation (validation_utils._validate_pairs)."""
    lds, rds = F.col(f"`{LEFT_DATASET}`"), F.col(f"`{RIGHT_DATASET}`")
    lid, rid = F.col(f"`{LEFT_ID}`"), F.col(f"`{RIGHT_ID}`")
    return (lds > rds) | ((lds == rds) & (lid >= rid))


def validate_pairs(df: DataFrame, records: DataFrame | None = None) -> DataFrame:
    """`blocks` pairs: canonical order, unique, no self-pair, and (optionally)
    pairs ⊆ records (validation_utils.py:385-491)."""
    if not _validation_enabled():
        return df
    _require_columns(df, PAIRS)
    _assert_empty(
        df.filter(_canonical_violation(df)),
        "pairs: non-canonical ordering (left must sort before right)",
    )
    assert_unique(df, PAIR_COLS, "pairs")
    if records is not None:
        keys = records.select(
            F.col(f"`{INPUT_RECORD_DATASET}`").alias("_ds"),
            F.col(f"`{INPUT_RECORD_ID}`").alias("_id"),
        )
        for side_ds, side_id in ((LEFT_DATASET, LEFT_ID), (RIGHT_DATASET, RIGHT_ID)):
            orphans = df.join(
                keys,
                (F.col(f"`{side_ds}`") == F.col("_ds"))
                & (F.col(f"`{side_id}`") == F.col("_id")),
                "left_anti",
            )
            _assert_empty(orphans, f"pairs: ({side_ds},{side_id}) not in records")
    return df


def validate_links(df: DataFrame) -> DataFrame:
    """`links`: pairs contract + Probability in [0,1]
    (validation_utils.py:247-335, :288-291)."""
    if not _validation_enabled():
        return df
    _require_columns(df, LINKS)
    _assert_empty(
        df.filter(_canonical_violation(df)), "links: non-canonical ordering"
    )
    assert_unique(df, PAIR_COLS, "links")
    p = F.col(f"`{PROBABILITY}`")
    _assert_empty(
        df.filter(p.isNull() | (p < 0) | (p > 1)),
        "links: Probability outside [0,1]",
    )
    return df


def validate_clusters(df: DataFrame) -> DataFrame:
    """`clusters`: (dataset, id) unique, Cluster ID non-null
    (validation_utils.py:222-244)."""
    if not _validation_enabled():
        return df
    _require_columns(df, CLUSTERS)
    assert_unique(df, RECORD_KEY_COLS, "clusters")
    _assert_empty(
        df.filter(F.col(f"`{CLUSTER_ID}`").isNull()), "clusters: null Cluster ID"
    )
    return df


def validate_transcripts(df: DataFrame) -> DataFrame:
    """Input transcripts contract (BASELINE.json input_hint): required
    columns present, (conv_id, turn_idx) unique — the analog of the
    reference's `dataset` Record-ID-unique contract
    (validation_utils.py:164-189) for the turn-grained payload."""
    if not _validation_enabled():
        return df
    required = ["conv_id", "turn_idx", "role", "text"]
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise ContractViolation(
            f"transcripts: missing required columns {missing}; have {df.columns}"
        )
    assert_unique(df, ["conv_id", "turn_idx"], "transcripts")
    return df


def validate_ids_to_remove(df: DataFrame) -> DataFrame:
    """`ids_to_remove`: unique (validation_utils.py:338-358)."""
    if not _validation_enabled():
        return df
    _require_columns(df, IDS_TO_REMOVE)
    assert_unique(df, [INPUT_RECORD_ID], "ids_to_remove")
    return df

