"""Reference-shaped two-dataset person linkage (contract-parity plan).

Mirrors the reference's dummy/tutorial pipeline shape
(/root/reference/src/easylink/steps/rl-dummy/input_data/*.parquet — person
records with first/middle/last name, date_of_birth-as-string, ssn;
pipeline: schema alignment -> blocking -> splink scoring (NameComparison,
DateOfBirthComparison, LevenshteinAtThresholds — splink_evaluating_pairs.py:28-35)
-> links -> clusters), re-expressed with this engine's operators:

- schema alignment: rename `Record ID` -> `Input Record ID`, stamp
  `Input Record Dataset` (P1, default_schema_alignment.py:40-47)
- blocking: exact key on (soundex-ish last-name prefix + dob year) union
  dob exact — the OR-of-rules semantics (J1)
- scoring: Jaro-Winkler name comparison (F8), date-of-birth levels (F9),
  exact ssn (F6), Fellegi-Sunter combination (A7)
- clustering: links_to_clusters (G1) or one-to-many into a no-duplicates
  dataset (G6)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    INPUT_RECORD_DATASET,
    INPUT_RECORD_ID,
    RECORD_ID,
    validate_records,
)
from easylink_spark.functions import comparators as C
from easylink_spark.operators import blocking as B
from easylink_spark.operators import clustering as G
from easylink_spark.operators import scoring as S


def align_person_schema(datasets: dict[str, DataFrame]) -> DataFrame:
    """Datasets-dir -> records contract: rename Record ID, stamp dataset name,
    union by name with missing columns null (P1 + U1)."""
    aligned = []
    for name, df in sorted(datasets.items()):
        aligned.append(
            df.withColumnRenamed(RECORD_ID, INPUT_RECORD_ID).withColumn(
                INPUT_RECORD_DATASET, F.lit(name)
            )
        )
    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return validate_records(out)


def person_comparisons() -> list[S.Comparison]:
    def dob_gamma(l, r):
        return C.dob_level(l, r)

    return [
        S.Comparison(
            "first_name", "first_name",
            S._leveled(C.jaro_winkler, [0.92, 0.80]),
            m=[0.05, 0.15, 0.80], u=[0.90, 0.08, 0.02],
        ),
        S.Comparison(
            "last_name", "last_name",
            S._leveled(C.jaro_winkler, [0.92, 0.80]),
            m=[0.05, 0.15, 0.80], u=[0.92, 0.06, 0.02],
        ),
        S.Comparison(
            "date_of_birth", "date_of_birth", dob_gamma,
            m=[0.03, 0.07, 0.15, 0.75], u=[0.90, 0.06, 0.03, 0.01],
        ),
        S.Comparison(
            "ssn", "ssn", S._leveled(C.levenshtein_similarity, [0.99, 0.80]),
            m=[0.05, 0.25, 0.70], u=[0.97, 0.025, 0.005],
        ),
    ]


@dataclass
class PersonLinkageConfig:
    prior: float = 0.01
    threshold: float = 0.9
    no_duplicates_dataset: str | None = None  # set -> one-to-many clustering


# ---------------------------------------------------------------------------
# Reference golden-fixture pipeline: the splink-dummy e2e configuration
# (tests/specifications/e2e/pipeline_splink_dummy.yaml): blocking rule
# "l.last_name == r.last_name" (link_and_dedupe over both datasets),
# comparisons "first_name:exact,last_name:exact", prior 0.01, threshold 0.1.
# Golden output: tests/e2e/pipeline_splink_dummy_results.csv — 19 two-record
# clusters, Cluster ID = min record key (label-EXACT reproducible).
# ---------------------------------------------------------------------------
def splink_dummy_comparisons() -> list[S.Comparison]:
    """Exact/exact name comparisons.  Default m/u are fixed deterministic
    values in the regime the reference's EM training lands in (agreement on
    a name is strong evidence; chance agreement is rare on these fixtures);
    the e2e criterion is cluster-partition equality, which is invariant
    across this whole regime — pairs agreeing on BOTH names clear the 0.1
    threshold, pairs agreeing on last name alone do not."""
    mk = lambda name: S.Comparison(  # noqa: E731
        name, name, S._leveled(C.exact_match, [0.5]),
        m=[0.05, 0.95], u=[0.98, 0.02],
    )
    return [mk("first_name"), mk("last_name")]


def run_splink_dummy_pipeline(
    spark: SparkSession,
    datasets: dict[str, DataFrame],
    prior: float = 0.01,
    threshold: float = 0.1,
    estimate: bool = False,
) -> DataFrame:
    """block(last_name) -> score(exact first+last) -> threshold ->
    links_to_clusters, mirroring the reference splink-dummy pipeline shape
    (splink_blocking_and_filtering.py + splink_evaluating_pairs.py +
    splink_links_to_clusters.py).  ``estimate=True`` additionally runs the
    engine's seeded u-estimation + EM instead of the fixed m/u."""
    records = align_person_schema(
        {k: v.select("Record ID", "first_name", "last_name")
         for k, v in datasets.items()}
    )
    pairs = B.block_on_key(records, F.col("last_name"))
    comparisons = splink_dummy_comparisons()
    if estimate:
        comparisons = S.estimate_u(records, comparisons, seed=1234)
        gammas = S.comparison_vectors(pairs, records, comparisons).persist()
        comparisons, _ = S.estimate_m_u_em(gammas, comparisons, prior)
        gammas.unpersist()
    links = S.score_pairs(pairs, records, comparisons,
                          prior=prior, threshold=threshold)
    return G.links_to_clusters(links, threshold)


def run_person_linkage(
    spark: SparkSession,
    datasets: dict[str, DataFrame],
    config: PersonLinkageConfig | None = None,
) -> DataFrame:
    cfg = config or PersonLinkageConfig()
    records = align_person_schema(datasets)

    # Blocking rules (OR semantics): last-name prefix + birth year | exact dob
    rule1 = B.block_on_key(
        records,
        F.concat_ws(
            "|",
            F.upper(F.substring("last_name", 1, 4)),
            F.substring(F.regexp_replace("date_of_birth", r"[^0-9]", ""), 1, 4),
        ),
    )
    rule2 = B.block_on_key(records, F.col("date_of_birth"))
    pairs = B.union_blocking_rules([rule1, rule2])

    links = S.score_pairs(
        pairs, records, person_comparisons(),
        prior=cfg.prior, threshold=cfg.threshold,
    )
    if cfg.no_duplicates_dataset:
        return G.one_to_many_links_to_clusters(
            links, cfg.no_duplicates_dataset, cfg.threshold
        )
    return G.links_to_clusters(links, cfg.threshold)
