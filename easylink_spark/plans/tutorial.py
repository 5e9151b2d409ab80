"""Tutorial main-schema pipeline compositions (reference e2e parity).

Re-expresses the reference's full main-schema demo pipelines —
`docs/source/tutorial/pipeline_demo_naive.yaml`,
`pipeline_demo_improved.yaml`, `pipeline_demo_improved_cascade.yaml` —
as one Spark composition over this engine's operators, graded against the
reference's own golden outputs (`tests/e2e/pipeline_naive_results.csv`
15,816 rows; `pipeline_improved_results.csv`;
`pipeline_improved_cascade_results.csv`) under the reference's
cluster-partition-equality criterion
(tests/e2e/test_pipelines_main_schema.py:147-182).

Stage-by-stage parity map (reference step -> here):

- default_determining_exclusions / default_removing_records (per-dataset
  clones; no-ops on an empty known-clusters table,
  default_determining_exclusions.py:63-67) -> empty-clusters guard +
  identity
- middle_name_to_initial pre-processing clone
  (example/middle_name_to_initial.py:60) -> :func:`middle_name_to_initial`
- default_schema_alignment (concat + dataset stamp + Record ID rename,
  default_schema_alignment.py:40-47) -> person_linkage.align_person_schema
- default_clusters_to_links (default_clusters_to_links.py:30-61) ->
  clustering.clusters_to_links (empty input -> empty links)
- splink_blocking_and_filtering with LINK_ONLY + OR-of-rules
  (splink_blocking_and_filtering.py:20-91) -> blocking.block_on_key(
  link_only=True) x rules + union_blocking_rules
- splink_evaluating_pairs (estimate_u seed=1234 max_pairs=5e6 ->
  EM per training rule with u fixed -> averaged m -> Fellegi-Sunter
  predict at PROBABILITY_TWO_RANDOM_RECORDS_MATCH,
  splink_evaluating_pairs.py:67-150) -> scoring.comparison_vectors +
  scoring.estimate_u_exact(link_only=True) (exact, not sampled u) +
  scoring.estimate_m_u_em per session + scoring.fs_probability
- one_to_many_links_to_clusters @ THRESHOLD_MATCH_PROBABILITY
  (cascading/one_to_many_links_to_clusters.py) ->
  clustering.one_to_many_links_to_clusters
- default_updating_clusters (identity on empty known clusters) /
  update_clusters_by_connected_components (cascade) ->
  clustering.update_clusters
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from easylink_spark.contracts import PAIR_COLS, PROBABILITY
from easylink_spark.functions import comparators as C
from easylink_spark.operators import blocking as B
from easylink_spark.operators import clustering as G
from easylink_spark.operators import scoring as S
from easylink_spark.plans.person_linkage import align_person_schema

TUTORIAL_DIR = "/root/reference/docs/source/tutorial"
NAIVE_COMPARISONS = "ssn:exact,first_name:exact,middle_initial:exact,last_name:exact"
IMPROVED_COMPARISONS = "ssn:levenshtein,first_name:name,middle_initial:exact,last_name:name"


# ---------------------------------------------------------------------------
# splink comparison-library analogs ("col:method" spec strings, reference
# splink_evaluating_pairs.py:26-37), all with the NULL level (gamma -1).
# ---------------------------------------------------------------------------
def _exact_gamma(l: Column, r: Column) -> Column:
    return (
        F.when(l.isNull() | r.isNull(), -1)
        .when(l == r, 1)
        .otherwise(0)
        .cast("int")
    )


def _levenshtein_gamma(l: Column, r: Column) -> Column:
    """cl.LevenshteinAtThresholds defaults: exact / lev<=1 / lev<=2 / else."""
    lev = F.levenshtein(l, r)
    return (
        F.when(l.isNull() | r.isNull(), -1)
        .when(l == r, 3)
        .when(lev <= 1, 2)
        .when(lev <= 2, 1)
        .otherwise(0)
        .cast("int")
    )


def _name_gamma(l: Column, r: Column) -> Column:
    """cl.NameComparison defaults: exact / JW>=0.92 / >=0.88 / >=0.70 / else."""
    jw = C.jaro_winkler(l, r)
    return (
        F.when(l.isNull() | r.isNull(), -1)
        .when(l == r, 4)
        .when(jw >= 0.92, 3)
        .when(jw >= 0.88, 2)
        .when(jw >= 0.70, 1)
        .otherwise(0)
        .cast("int")
    )


def comparisons_from_spec(spec: str) -> list[S.Comparison]:
    """Parse the reference's COMPARISONS env string ("col:method,...").

    The m values are EM initializers only (training overwrites them); u
    values are overwritten by random-pair sampling before any scoring."""
    out: list[S.Comparison] = []
    for enc in spec.split(","):
        column, method = enc.strip().split(":")
        if method == "exact":
            out.append(S.Comparison(
                column, column, _exact_gamma, m=[0.1, 0.9], u=[0.99, 0.01],
                is_exact_equality=True))
        elif method == "levenshtein":
            out.append(S.Comparison(
                column, column, _levenshtein_gamma,
                m=[0.05, 0.05, 0.1, 0.8], u=[0.96, 0.01, 0.02, 0.01]))
        elif method == "name":
            # splink cl.NameComparison applies TERM-FREQUENCY adjustment on
            # its exact-match level (the reference pipeline's
            # compute_df_concat_with_tf exists for this): agreeing on a
            # RARE name outweighs agreeing on a common one.  Empirically
            # decisive — with tf the improved-2030 golden partition
            # reproduces EXACTLY; without it 104 rare-name links at the
            # threshold-marginal pattern are lost.
            out.append(S.Comparison(
                column, column, _name_gamma,
                m=[0.02, 0.02, 0.03, 0.05, 0.88],
                u=[0.95, 0.02, 0.01, 0.01, 0.01],
                tf_adjustment=True, tf_weight=1.0))
        elif method == "dob":
            out.append(S.Comparison(
                column, column,
                S._leveled(lambda l, r: C.dob_level(l, r) / 3.0,
                           [0.99, 0.6, 0.3], null_level=True),
                m=[0.03, 0.07, 0.15, 0.75], u=[0.90, 0.06, 0.03, 0.01]))
        else:
            raise ValueError(f"Unknown comparison method {method}")
    return out


# ---------------------------------------------------------------------------
# pre-processing
# ---------------------------------------------------------------------------
def middle_name_to_initial(df: DataFrame) -> DataFrame:
    """middle_initial = first character of middle_name
    (example/middle_name_to_initial.py:60; pandas .str[0] maps empty/None
    to null, mirrored here)."""
    initial = F.when(
        F.length(F.col("middle_name")) > 0, F.substring("middle_name", 1, 1)
    )
    return df.withColumn("middle_initial", initial)


def load_tutorial_inputs(
    spark: SparkSession, base: str = TUTORIAL_DIR, year: str = "2020"
) -> tuple[dict[str, DataFrame], DataFrame]:
    """(datasets, known_clusters) per docs/source/tutorial/
    input_data_demo.yaml (year="2020") / input_data_demo_2030.yaml
    (year="2030")."""
    datasets = {
        name: spark.read.parquet(f"{base}/{year}/{name}.parquet")
        for name in ("input_file_ssa", "input_file_w2")
    }
    known = spark.read.parquet(f"{base}/known_clusters.parquet")
    return datasets, known


# ---------------------------------------------------------------------------
# linkage configuration (the yaml's configuration keys)
# ---------------------------------------------------------------------------
@dataclass
class TutorialLinkageConfig:
    comparisons: str = NAIVE_COMPARISONS
    blocking_rules: tuple[str, ...] = ("first_name", "last_name")
    training_rules: tuple[str, ...] = ("first_name", "last_name")
    prior: float = 1e-4          # PROBABILITY_TWO_RANDOM_RECORDS_MATCH
    threshold: float = 0.996     # THRESHOLD_MATCH_PROBABILITY
    no_duplicates_dataset: str = "input_file_ssa"
    preprocess_middle_initial: tuple[str, ...] = ("input_file_ssa",)
    accept_all: bool = False     # cascading/accept_all_pairs.py: prob 1.0


def _blocking_key(cols: tuple[str, ...]) -> Column:
    """AND-of-equalities blocking rule as a composite key; SQL equality
    semantics — any NULL participant joins nothing."""
    key = F.concat_ws("\x1f", *[F.col(f"`{c}`") for c in cols])
    isnull = F.lit(False)
    for c in cols:
        isnull = isnull | F.col(f"`{c}`").isNull()
    return F.when(~isnull, key)


def run_tutorial_linkage(
    spark: SparkSession,
    datasets: dict[str, DataFrame],
    known_clusters: DataFrame | None = None,
    config: TutorialLinkageConfig | None = None,
) -> DataFrame:
    """One iteration of the main-schema clustering step: pre-process ->
    align -> LINK_ONLY block -> train (u sample + EM sessions) -> score ->
    one-to-many cluster.  Returns the clusters contract."""
    cfg = config or TutorialLinkageConfig()

    # pre-processing clones (middle_name -> middle_initial where configured)
    datasets = {
        name: middle_name_to_initial(df)
        if name in cfg.preprocess_middle_initial else df
        for name, df in datasets.items()
    }

    # schema alignment on the linkage-relevant columns (accept_all needs no
    # comparison columns — cascading/accept_all_pairs.py scores nothing)
    comps = [] if cfg.accept_all else comparisons_from_spec(cfg.comparisons)
    cols = sorted(
        {c.input_col for c in comps}
        | {c for rule in cfg.blocking_rules for c in rule.split("+")}
    )
    records = align_person_schema(
        {n: df.select("Record ID", *cols) for n, df in datasets.items()}
    )

    # LINK_ONLY blocking: OR of AND-of-equality rules ("a+b" = a AND b)
    rules = [
        B.block_on_key(
            records, _blocking_key(tuple(rule.split("+"))), link_only=True
        )
        for rule in cfg.blocking_rules
    ]
    pairs = B.union_blocking_rules(rules) if len(rules) > 1 else rules[0]

    if cfg.accept_all:
        links = pairs.select(
            *[F.col(f"`{c}`") for c in PAIR_COLS],
            F.lit(1.0).alias(PROBABILITY),
        )
        return G.one_to_many_links_to_clusters(
            links, cfg.no_duplicates_dataset, cfg.threshold
        )

    # comparison vectors, computed once and shared by training + predict
    gammas = S.comparison_vectors(pairs, records, comps).persist()
    try:
        # u: EXACT — closed form for equality comparisons, weighted
        # distinct-value-pair enumeration for leveled ones.  Deterministic
        # at any parallelism, unlike splink's seeded sampling
        # (splink_evaluating_pairs.py:67), whose noise can flip
        # threshold-marginal patterns; on these fixtures the exact values
        # reproduce the reference's golden decisions.
        comps = S.estimate_u_exact(records, comps, link_only=True)

        # one EM session per training rule: pairs = candidates whose rule
        # column agrees exactly (equivalent to re-blocking on the rule, since
        # every rule is also a prediction blocking rule here); the rule's own
        # comparison is deactivated; u stays fixed (splink
        # fix_u_probabilities=True default). m for a comparison = mean over
        # the sessions that trained it (splink's multi-estimate averaging).
        m_estimates: dict[str, list[list[float]]] = {c.name: [] for c in comps}
        for rule in cfg.training_rules:
            rule_cols = set(rule.split("+"))
            active = [c for c in comps if c.input_col not in rule_cols]
            session_filter = F.lit(True)
            for c in comps:
                if c.input_col in rule_cols:
                    session_filter = session_filter & (
                        F.col(c.gamma_col()) == c.n_levels - 1
                    )
            trained, _lam = S.estimate_m_u_em(
                gammas.filter(session_filter), active, prior=cfg.prior,
                max_iter=100, tol=1e-8,
            )
            for c in trained:
                m_estimates[c.name].append(c.m)
        final = []
        for c in comps:
            ms = m_estimates[c.name]
            if ms:
                avg = [sum(col) / len(ms) for col in zip(*ms)]
                final.append(replace(c, m=avg))
            else:
                final.append(c)

        scored = S.fs_probability(gammas, final, cfg.prior)
        links = scored.filter(
            F.col(PROBABILITY) >= F.lit(cfg.threshold)
        ).select(*[F.col(f"`{c}`") for c in PAIR_COLS], F.col(PROBABILITY))
        # one-to-many consumes links twice (best-link window + tie counting);
        # materialize the scored links once
        links = links.persist()
        clusters = G.one_to_many_links_to_clusters(
            links, cfg.no_duplicates_dataset, cfg.threshold
        )
        # force materialization before unpersisting upstream
        clusters = clusters.persist()
        clusters.count()
        # clusters is materialized — release the intermediate now, not at
        # session end (repeated runs otherwise accumulate storage blocks)
        links.unpersist()
    finally:
        gammas.unpersist()
    return clusters


def run_tutorial_pipeline(
    spark: SparkSession,
    datasets: dict[str, DataFrame] | None = None,
    known_clusters: DataFrame | None = None,
    config: TutorialLinkageConfig | None = None,
) -> DataFrame:
    """The full naive/improved demo pipeline on the reference's 2020 w2/ssa
    fixtures: empty known clusters -> exclusions are no-ops
    (default_determining_exclusions.py:63-67), clusters_to_links is empty,
    and updating_clusters passes the new clusters through
    (default_updating_clusters.py:52-56)."""
    if datasets is None:
        datasets, known_clusters = load_tutorial_inputs(spark)
    if known_clusters is not None and known_clusters.limit(1).count() > 0:
        raise ValueError(
            "default determining_exclusions/updating_clusters passed a "
            "non-empty set of known clusters"
        )
    return run_tutorial_linkage(spark, datasets, known_clusters, config)


def improved_config() -> TutorialLinkageConfig:
    return TutorialLinkageConfig(comparisons=IMPROVED_COMPARISONS)


def run_cascade_pipeline(
    spark: SparkSession,
    datasets: dict[str, DataFrame] | None = None,
    config: TutorialLinkageConfig | None = None,
) -> DataFrame:
    """pipeline_demo_improved_cascade.yaml: two LoopStep iterations.

    Pass 1: exact blocking on ssn AND first_name AND last_name, LINK_ONLY,
    accept_all_pairs (probability 1.0), one-to-many @ 0.9.
    Pass 2: exclude w2 records already clustered in pass 1
    (cascading/exclude_clustered.py), re-run the improved linkage on the
    remainder, then merge the two cluster sets transitively
    (update_clusters_by_connected_components)."""
    if datasets is None:
        datasets, _ = load_tutorial_inputs(spark)
    cfg2 = config or improved_config()

    pass1 = run_tutorial_linkage(
        spark, datasets, config=TutorialLinkageConfig(
            blocking_rules=("ssn+first_name+last_name",),
            accept_all=True, threshold=0.9,
            preprocess_middle_initial=(),
        ),
    ).persist()

    # exclusions: drop w2 records clustered (cluster size > 1) in pass 1
    ids_rm = G.exclude_clustered(pass1, datasets["input_file_w2"], "input_file_w2")
    datasets2 = dict(datasets)
    datasets2["input_file_w2"] = G.remove_records(
        datasets["input_file_w2"], ids_rm
    )

    pass2 = run_tutorial_linkage(spark, datasets2, config=cfg2)
    merged = G.update_clusters(pass1, pass2).persist()
    merged.count()  # materialize before releasing the per-pass caches
    pass1.unpersist()
    pass2.unpersist()
    return merged
