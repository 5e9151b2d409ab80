"""Config-file-driven pipelines: YAML spec -> configured pipeline run.

The reference's primary UX is a YAML pipeline specification with layered
defaults and validation (configuration.py:278-328 loads {pipeline,
input_data, environment}; pipeline_schema.py:74-156 validates the step
configuration against the schema and rejects unknown/missing keys).  This
module is the engine-native equivalent:

    pipeline: dedup        # dedup | splink_dummy | person_linkage |
                           # tutorial | tutorial_cascade
    input:
      transcripts: /path/to/parquet    # slot name -> table path
    checkpoint_dir: /tmp/ckpt          # dedup only
    output: /path/to/clusters          # optional sink
    config:                            # overrides of the plan's dataclass
      threshold: 0.85                  # defaults (layered defaults)
      use_lsh: true
    spark:
      cores: 8
      shuffle_partitions: 8

Validation mirrors the reference's strictness: unknown top-level keys and
unknown ``config`` keys raise SpecError (the reference errors on
unrecognized pipeline config, pipeline_schema.py:103-130).

Entry point: ``python -m easylink_spark run spec.yaml`` (cli in
easylink_spark/__main__.py; reference: cli.py:153-221 `easylink run`).
"""

from __future__ import annotations

import dataclasses
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from easylink_spark.sources.readers import read_table


class SpecError(ValueError):
    """Invalid pipeline specification."""


_TOP_KEYS = {"pipeline", "input", "checkpoint_dir", "output", "config", "spark"}
_PIPELINES = ("dedup", "splink_dummy", "person_linkage", "tutorial",
              "tutorial_cascade")


def load_spec(path: str | Path) -> dict:
    """Parse + validate a YAML (or JSON — YAML superset) spec file."""
    import yaml

    raw = yaml.safe_load(Path(path).read_text())
    if not isinstance(raw, dict):
        raise SpecError(f"spec must be a mapping, got {type(raw).__name__}")
    unknown = set(raw) - _TOP_KEYS
    if unknown:
        raise SpecError(f"unknown spec keys {sorted(unknown)}; "
                        f"allowed: {sorted(_TOP_KEYS)}")
    if raw.get("pipeline") not in _PIPELINES:
        raise SpecError(
            f"pipeline must be one of {_PIPELINES}, got {raw.get('pipeline')!r}"
        )
    if not isinstance(raw.get("input"), dict) or not raw["input"]:
        raise SpecError("input: must map slot names to table paths")
    return raw


def _configure(dc_type, overrides: dict):
    """Layered defaults: dataclass defaults ⊕ spec overrides, unknown keys
    rejected (reference: layered config configuration.py:102-106 + schema
    validation pipeline_schema.py:103-130)."""
    field_names = {f.name for f in dataclasses.fields(dc_type)}
    unknown = set(overrides) - field_names
    if unknown:
        raise SpecError(
            f"unknown config keys {sorted(unknown)} for {dc_type.__name__}; "
            f"allowed: {sorted(field_names)}"
        )
    return dc_type(**overrides)


def run_spec(spec: dict, spark: SparkSession | None = None) -> DataFrame:
    """Execute a validated spec; returns the clusters DataFrame (and writes
    it to ``output`` if set)."""
    from easylink_spark.session import get_spark

    if spark is None:
        sp_cfg = spec.get("spark") or {}
        spark = get_spark(
            f"easylink_spark:{spec['pipeline']}",
            cores=sp_cfg.get("cores"),
            shuffle_partitions=sp_cfg.get("shuffle_partitions"),
        )
    # dedup takes its input as a path; every other pipeline takes
    # DataFrames (each read is one schema-inference job, so only they read)
    inputs = {} if spec["pipeline"] == "dedup" else {
        name: read_table(spark, path) for name, path in spec["input"].items()
    }
    cfg = spec.get("config") or {}

    if spec["pipeline"] == "dedup":
        from easylink_spark.plans.dedup import DedupConfig, run_dedup

        if "transcripts" not in spec["input"]:
            raise SpecError("dedup pipeline needs input slot 'transcripts'")
        ckpt = spec.get("checkpoint_dir")
        if not ckpt:
            raise SpecError("dedup pipeline needs checkpoint_dir")
        # spec inputs are paths to durable tables — hand the PATH through so
        # the input stage checkpoints by reference instead of copying it
        clusters = run_dedup(
            spark, str(spec["input"]["transcripts"]), ckpt,
            _configure(DedupConfig, cfg)
        )
    elif spec["pipeline"] == "splink_dummy":
        from easylink_spark.plans.person_linkage import run_splink_dummy_pipeline

        clusters = run_splink_dummy_pipeline(spark, inputs, **cfg)
    elif spec["pipeline"] in ("tutorial", "tutorial_cascade"):
        # The reference's main-schema demo composition (LINK_ONLY blocking,
        # per-rule EM training, one-to-many @ threshold into a
        # no-duplicates dataset, optional cascade) — every knob of
        # pipeline_demo_{naive,improved,improved_cascade}.yaml is a
        # TutorialLinkageConfig field
        from easylink_spark.plans.tutorial import (
            TutorialLinkageConfig,
            run_cascade_pipeline,
            run_tutorial_pipeline,
        )

        cfg = {k: tuple(v) if isinstance(v, list) else v
               for k, v in cfg.items()}
        tcfg = _configure(TutorialLinkageConfig, cfg)
        if spec["pipeline"] == "tutorial_cascade":
            clusters = run_cascade_pipeline(spark, inputs or None, tcfg)
        else:
            clusters = run_tutorial_pipeline(spark, inputs or None,
                                             config=tcfg)
    else:  # person_linkage
        from easylink_spark.plans.person_linkage import (
            PersonLinkageConfig,
            run_person_linkage,
        )

        clusters = run_person_linkage(
            spark, inputs, _configure(PersonLinkageConfig, cfg)
        )

    out = spec.get("output")
    if out:
        clusters.write.mode("overwrite").parquet(str(out))
        clusters = spark.read.parquet(str(out))
    return clusters


def spec_pipeline_graph(pipeline: str):
    """Stage/slot dataflow skeleton of a named spec pipeline, for
    ``python -m easylink_spark dag`` rendering (reference
    ``easylink generate-dag``, runner.py:338-357 — which renders the rule
    graph, not executable code; likewise these are declarative skeletons
    mirroring the run_* compositions, with contracts shown on edges).
    Returns (Pipeline, source_slots)."""
    from easylink_spark import contracts as K
    from easylink_spark.plans.framework import Pipeline, Slot, Stage

    def st(name, ins, outs):
        return Stage(name, lambda _ins: {}, ins, outs)

    if pipeline == "dedup":
        stages = [
            st("features", [Slot("transcripts", K.validate_transcripts)],
               [Slot("records")]),
            st("blocking", [Slot("records", K.validate_records)],
               [Slot("pairs")]),
            st("scoring", [Slot("pairs", K.validate_pairs), Slot("records")],
               [Slot("links")]),
            st("clustering", [Slot("links", K.validate_links)],
               [Slot("clusters", K.validate_clusters)]),
        ]
        return Pipeline(stages), {"transcripts"}
    if pipeline in ("splink_dummy", "person_linkage", "tutorial"):
        stages = [
            st("pre_processing", [Slot("input_datasets")],
               [Slot("prepared_datasets")]),
            st("schema_alignment", [Slot("prepared_datasets")],
               [Slot("records")]),
            st("blocking_link_only", [Slot("records", K.validate_records)],
               [Slot("pairs")]),
            st("em_training", [Slot("pairs", K.validate_pairs),
                               Slot("records")],
               [Slot("model")]),
            st("evaluating_pairs", [Slot("pairs"), Slot("records"),
                                    Slot("model")],
               [Slot("links")]),
            st("links_to_clusters", [Slot("links", K.validate_links)],
               [Slot("new_clusters")]),
            st("updating_clusters", [Slot("new_clusters"),
                                     Slot("known_clusters")],
               [Slot("clusters", K.validate_clusters)]),
        ]
        return Pipeline(stages), {"input_datasets", "known_clusters"}
    if pipeline == "tutorial_cascade":
        stages = [
            st("pass1_exact_linkage", [Slot("input_datasets")],
               [Slot("pass1_clusters")]),
            st("determining_exclusions",
               [Slot("pass1_clusters"), Slot("input_datasets")],
               [Slot("ids_to_remove")]),
            st("removing_records",
               [Slot("input_datasets"), Slot("ids_to_remove")],
               [Slot("remaining_datasets")]),
            st("pass2_improved_linkage", [Slot("remaining_datasets")],
               [Slot("pass2_clusters")]),
            st("updating_clusters",
               [Slot("pass1_clusters"), Slot("pass2_clusters")],
               [Slot("clusters", K.validate_clusters)]),
        ]
        return Pipeline(stages), {"input_datasets"}
    raise SpecError(f"no dag skeleton for pipeline {pipeline!r}; "
                    f"have {_PIPELINES}")
