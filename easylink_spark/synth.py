"""Deterministic synthetic transcript corpus (the engine's primary payload).

Schema per BASELINE.json input_hint:
    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

plus a truth table ``labels(conv_id string, entity_id long)`` used only by
tests and the F1 metric (analog of the reference fixtures' ``simulant_id``
truth column in /root/reference/steps/rl-dummy/input_data/*.parquet).

Design constraints:

- **Deterministic independent of partitioning.** Every conversation is
  generated by an RNG seeded by ``(seed, entity_id, copy)`` alone, inside
  ``mapInPandas`` over a ``spark.range`` of entity ids.  Running at local[8]
  vs local[32] yields byte-identical data.
- **Distributed.** No driver-side generation: at bench scale (millions of
  turns) generation parallelizes across executors.
- **Labelled structure.** Entity ``e`` produces 1 base conversation + k
  perturbed duplicates (k deterministic per entity).  Duplicates perturb
  non-first turns by bounded token drop/swap/truncation and the first turn
  by casing/whitespace/punctuation noise only, so normalized-first-turn
  blocking has full recall and comparator scores separate cleanly.
- **Hard negatives.** Entities share first-turn *templates*
  (template = entity_id % n_templates), so different entities collide on the
  blocking key and the scorer must tell them apart — that makes blocks
  skewed on purpose (hot templates), exercising the salting path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, entity_id long"
)

_VOCAB = [
    # fixed 160-word vocabulary; index = word id
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "amber", "basil", "cedar", "dune", "ember",
    "fjord", "grove", "harbor", "isle", "jade", "knoll", "lagoon", "mesa",
    "nectar", "oasis", "pine", "quartz", "ridge", "summit", "thicket",
    "upland", "vale", "willow", "zenith", "anchor", "beacon", "compass",
    "drift", "eddy", "flare", "gale", "haven", "inlet", "jetty", "keel",
    "lantern", "mast", "nautical", "orbit", "prow", "quay", "rudder", "sail",
    "tide", "umbra", "vessel", "wake", "yacht", "zephyr", "atlas", "bison",
    "condor", "dingo", "egret", "falcon", "gecko", "heron", "ibis", "jackal",
    "koala", "lemur", "marmot", "newt", "ocelot", "puffin", "quail", "raven",
    "stork", "tapir", "urchin", "vole", "walrus", "yak", "zebra", "apex",
    "bolt", "crank", "diode", "emitter", "flux", "gear", "hinge", "ingot",
    "joule", "kelvin", "lever", "magnet", "nozzle", "ohm", "piston", "quark",
    "rotor", "spring", "torque", "valve", "watt", "xenon", "yield", "zinc",
    "arc", "beam", "cone", "disc", "edge", "face", "grid", "helix", "iris",
    "knot", "line", "mesh", "node", "oval", "plane", "quad", "ring", "slope",
    "torus", "unit", "vertex", "wedge", "axis", "base", "curve", "dome",
    "ellipse", "focus", "graph", "height", "input", "joint", "kernel",
    "lattice", "matrix", "norm",
]
_TOOLS = ["search", "browse", "calc", "db_query", "code_run", "fetch",
          "summarize", "translate"]
_ROLES = ["user", "assistant", "tool"]
_BASE_EPOCH = np.datetime64("2025-01-01T00:00:00")


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n)]


def _template_phrase(template_id: int, n_templates: int) -> str:
    """Deterministic 8-word phrase for a first-turn template."""
    rng = np.random.default_rng([7919, template_id % max(n_templates, 1)])
    return " ".join(_words(rng, 8))


def _perturb_first_turn(text: str, rng: np.random.Generator) -> str:
    """Casing / whitespace / punctuation noise only — normalization-recoverable."""
    out = []
    for tok in text.split(" "):
        r = rng.random()
        if r < 0.15:
            tok = tok.upper()
        elif r < 0.30:
            tok = tok.capitalize()
        out.append(tok)
        if rng.random() < 0.10:
            out.append("")  # double space
    s = " ".join(out)
    if rng.random() < 0.3:
        s = s + "."
    if rng.random() < 0.2:
        s = "  " + s
    return s


def _perturb_body(tokens: list[str], rng: np.random.Generator) -> list[str]:
    """Bounded perturbation: <=20% token drop/swap + possible tail truncation."""
    toks = list(tokens)
    n = len(toks)
    n_edits = int(rng.integers(0, max(1, n // 5) + 1))
    for _ in range(n_edits):
        op = rng.random()
        i = int(rng.integers(0, len(toks))) if toks else 0
        if not toks:
            break
        if op < 0.4 and len(toks) > 3:
            toks.pop(i)  # drop
        elif op < 0.8 and len(toks) > 1:
            j = int(rng.integers(0, len(toks)))
            toks[i], toks[j] = toks[j], toks[i]  # swap
        else:
            toks[i] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]  # substitute
    if rng.random() < 0.15 and len(toks) > 6:
        toks = toks[: len(toks) - int(rng.integers(1, 3))]  # truncate
    return toks


def _gen_entity(
    entity_id: int, seed: int, n_templates: int
) -> list[tuple[str, int, str, str, str | None, np.datetime64, int]]:
    """All rows (turns of all copies) for one entity. Pure function of args."""
    rng = np.random.default_rng([seed, entity_id])
    n_turns = int(rng.integers(2, 13))
    template = _template_phrase(entity_id, n_templates)
    ent_rng = np.random.default_rng([seed, entity_id, 104729])
    entity_slot = " ".join(_words(ent_rng, 3))  # entity-specific suffix words
    first_turn = f"{template} {entity_slot}"
    body: list[list[str]] = [
        _words(np.random.default_rng([seed, entity_id, 1000 + t]), int(rng.integers(8, 25)))
        for t in range(1, n_turns)
    ]
    roles = [_ROLES[t % 2] for t in range(n_turns)]  # user/assistant alternate
    tool_rng = np.random.default_rng([seed, entity_id, 777])
    tools = [
        _TOOLS[int(tool_rng.integers(0, len(_TOOLS)))]
        if (roles[t] == "assistant" and tool_rng.random() < 0.4)
        else None
        for t in range(n_turns)
    ]
    # number of duplicate copies: 0..3, biased toward 1-2
    k = int(np.random.default_rng([seed, entity_id, 31337]).choice(
        [0, 1, 1, 2, 2, 3]))
    rows = []
    for copy in range(k + 1):
        conv_id = f"conv_{entity_id:08d}_{copy:02d}"
        crng = np.random.default_rng([seed, entity_id, 50021 + copy])
        base_off = int(entity_id) * 97 + copy * 13
        if copy == 0:
            texts = [first_turn] + [" ".join(b) for b in body]
        else:
            texts = [_perturb_first_turn(first_turn, crng)] + [
                " ".join(_perturb_body(b, crng)) for b in body
            ]
        for t in range(n_turns):
            ts = _BASE_EPOCH + np.timedelta64(base_off * 60 + t * 7, "s")
            rows.append(
                (conv_id, t, roles[t], texts[t], tools[t], ts, entity_id)
            )
    return rows


def synth_transcripts(
    spark: SparkSession,
    n_entities: int = 200,
    seed: int = 42,
    n_templates: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic transcript generator.

    Returns a DataFrame with the transcript schema + ``entity_id`` truth
    column (callers ``drop("entity_id")`` for the engine input and
    ``select("conv_id", "entity_id").distinct()`` for labels).
    """
    n_templates = n_templates or max(1, n_entities // 4)
    # four waves of generator tasks (entity cost varies with turns/copies
    # drawn per entity; one wave per core ends on the slowest batch).  Tied
    # to the default parallelism, not the shuffle width, so a corpus keeps
    # its file count whatever the session's shuffle setting.
    n_parts = partitions or 4 * spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for eid in pdf["id"]:
                rows.extend(_gen_entity(int(eid), seed, n_templates))
            if not rows:
                continue
            out = pd.DataFrame(
                rows,
                columns=["conv_id", "turn_idx", "role", "text", "tool",
                         "ts", "entity_id"],
            )
            out["turn_idx"] = out["turn_idx"].astype("int32")
            yield out

    ids = spark.range(0, n_entities, 1, n_parts)
    return ids.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)


def labels_of(transcripts_with_entity: DataFrame) -> DataFrame:
    """Truth table conv_id -> entity_id."""
    return transcripts_with_entity.select("conv_id", "entity_id").distinct()
