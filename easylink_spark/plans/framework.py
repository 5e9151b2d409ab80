"""Pipeline framework: typed stages with validated slots (SURVEY.md §2.12).

The reference's core framework contribution is a step graph with validated
data contracts on every edge (Step/slots: step.py:41-134; validators as
edges: rule.py:215-253), plus graph operators that expand to a flat DAG:
LoopStep (step.py:1102-1218), CloneableStep (:1221-1289), ChoiceStep
(:1675-1825), HierarchicalStep (:546-821), AutoParallelStep (:1291-1570).

This module is the in-process Spark equivalent:

- ``Stage``: a named task with named input/output slots, each slot carrying
  an optional contract validator that runs at the boundary (the reference's
  InputValidationRule analog);
- ``Pipeline.run``: topological execution over a slot-name dataflow, with
  optional StageRunner checkpointing per stage output;
- graph operators as plain combinators: ``loop`` (LoopStep: N serial copies
  with output->input self-edge), ``clone`` (CloneableStep: N parallel copies
  + union aggregator), ``choice`` (ChoiceStep: config-keyed variant pick).
  AutoParallelStep needs no analog — Spark partitioning subsumes splitter/
  aggregator chunking (SURVEY §2.12 / rule.py:257-406).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame

Validator = Callable[[DataFrame], DataFrame]
StageFn = Callable[[dict[str, DataFrame]], dict[str, DataFrame]]


@dataclass
class Slot:
    name: str
    validator: Validator | None = None

    def validate(self, df: DataFrame) -> DataFrame:
        return self.validator(df) if self.validator else df


@dataclass
class Stage:
    """A unit task: named validated inputs -> named validated outputs."""

    name: str
    fn: StageFn
    inputs: list[Slot] = field(default_factory=list)
    outputs: list[Slot] = field(default_factory=list)

    def run(self, env: dict[str, DataFrame]) -> dict[str, DataFrame]:
        missing = [s.name for s in self.inputs if s.name not in env]
        if missing:
            raise KeyError(f"stage {self.name}: missing input slots {missing}")
        ins = {s.name: s.validate(env[s.name]) for s in self.inputs}
        outs = self.fn(ins)
        produced = {}
        for s in self.outputs:
            if s.name not in outs:
                raise KeyError(f"stage {self.name}: did not produce slot {s.name}")
            produced[s.name] = s.validate(outs[s.name])
        return produced


class PipelineGraphError(ValueError):
    """Raised on dataflow cycles, missing producers, or duplicate slots."""


@dataclass
class Pipeline:
    stages: list[Stage]

    def _topo_order(self, source_slots: set[str]) -> list[Stage]:
        """Topologically order stages by slot dataflow (Kahn).  The
        reference flattens nested step graphs and rejects cycles in
        pipeline_graph.py:164-300; a caller-ordered list would silently
        mis-run a shuffled stage list instead.

        Rules: each slot has at most one producer; a stage is runnable when
        every input slot is a source or already produced; ties keep the
        caller's original order (deterministic)."""
        producer: dict[str, Stage] = {}
        for st in self.stages:
            for s in st.outputs:
                if s.name in producer:
                    raise PipelineGraphError(
                        f"slot {s.name!r} produced by both "
                        f"{producer[s.name].name!r} and {st.name!r}"
                    )
                producer[s.name] = st
        missing = [
            (st.name, s.name)
            for st in self.stages
            for s in st.inputs
            if s.name not in source_slots and s.name not in producer
        ]
        if missing:
            raise PipelineGraphError(f"input slots with no producer: {missing}")

        available = set(source_slots)
        remaining = list(self.stages)
        ordered: list[Stage] = []
        while remaining:
            ready = [
                st for st in remaining
                if all(s.name in available for s in st.inputs)
            ]
            if not ready:
                cyc = [st.name for st in remaining]
                raise PipelineGraphError(f"dataflow cycle among stages {cyc}")
            for st in ready:
                ordered.append(st)
                available.update(s.name for s in st.outputs)
            remaining = [st for st in remaining if st not in ready]
        return ordered

    def to_dot(self, sources: set[str] | None = None, name: str = "pipeline") -> str:
        """Render the stage/slot dataflow as graphviz dot TEXT (the
        reference's ``easylink generate-dag``, runner.py:338-357, which
        shells out to ``snakemake --dag | dot``; here the graph is already
        in-process, so no graphviz binary is needed — pipe the string to
        ``dot -Tsvg`` if an image is wanted).

        Source slots render as dashed ellipses, stages as boxes, dataflow
        edges carry the slot name, and a slot validator is shown on its
        edge in brackets (validators-as-edges, rule.py:215-253).  Output is
        deterministic: stages in topological order, slots sorted."""
        sources = set(sources or ())
        # _topo_order also validates the graph (cycles, missing producers)
        ordered = self._topo_order(sources)
        producer: dict[str, str] = {}
        for st in ordered:
            for s in st.outputs:
                producer[s.name] = st.name
        consumed: set[str] = set()
        lines = [
            f"digraph {name} {{",
            "  rankdir=TB;",
            '  node [shape=box, fontname="Helvetica"];',
        ]
        for slot in sorted(sources):
            lines.append(
                f'  "src:{slot}" [label="{slot}", shape=ellipse, style=dashed];'
            )
        for st in ordered:
            lines.append(f'  "{st.name}";')
        for st in ordered:
            for s in sorted(st.inputs, key=lambda s: s.name):
                consumed.add(s.name)
                label = s.name
                if s.validator is not None:
                    vname = getattr(s.validator, "__name__", "validator")
                    label += f"\\n[{vname}]"
                origin = (
                    f'"{producer[s.name]}"'
                    if s.name in producer
                    else f'"src:{s.name}"'
                )
                lines.append(f'  {origin} -> "{st.name}" [label="{label}"];')
        # terminal outputs: produced but never consumed
        for st in ordered:
            for s in sorted(st.outputs, key=lambda s: s.name):
                if s.name not in consumed:
                    label = s.name
                    if s.validator is not None:
                        vname = getattr(s.validator, "__name__", "validator")
                        label += f"\\n[{vname}]"
                    lines.append(
                        f'  "out:{s.name}" [label="{s.name}", shape=ellipse];'
                    )
                    lines.append(
                        f'  "{st.name}" -> "out:{s.name}" [label="{label}"];'
                    )
        lines.append("}")
        return "\n".join(lines)

    def run(
        self,
        sources: dict[str, DataFrame],
        runner=None,
    ) -> dict[str, DataFrame]:
        """Execute stages in topological slot-dataflow order (caller order
        need not be sorted; cycles raise PipelineGraphError).  With a
        StageRunner, each produced slot checkpoints as ``<stage>__<slot>``
        with lineage on the stage's input slots."""
        env = dict(sources)
        produced_by: dict[str, str] = {}
        for st in self._topo_order(set(sources)):
            outs = st.run(env)
            if runner is not None:
                for slot, df in outs.items():
                    deps = [produced_by[s.name] for s in st.inputs
                            if s.name in produced_by]
                    outs[slot] = runner.stage(
                        f"{st.name}__{slot}", lambda d=df: d, inputs=deps
                    )
                    produced_by[slot] = f"{st.name}__{slot}"
            env.update(outs)
        if runner is not None:
            # Durability barrier: every slot write above may still be on a
            # daemon thread — a caller that exits right after run() must not
            # lose half-written tables.
            runner.flush()
        return env


# ---------------------------------------------------------------------------
# Graph operators as combinators
# ---------------------------------------------------------------------------
def loop(stage: Stage, n: int, carry_slot: str) -> Stage:
    """LoopStep: unroll n serial copies; the carry slot chains output->input
    (step.py:1102-1218; cascading self-edge main.py:430-437)."""

    def fn(ins: dict[str, DataFrame]) -> dict[str, DataFrame]:
        env = dict(ins)
        for _ in range(n):
            outs = stage.fn(env)
            env[carry_slot] = outs[carry_slot]
            env.update(outs)
        return {s.name: env[s.name] for s in stage.outputs}

    return Stage(f"{stage.name}_x{n}", fn, stage.inputs, stage.outputs)


def clone(stage: Stage, param_sets: list[dict], out_slot: str) -> Stage:
    """CloneableStep: N parallel copies over param variants, results
    union-by-name aggregated (step.py:1221-1289; aggregator
    aggregator_utils.py:16-29)."""

    def fn(ins: dict[str, DataFrame]) -> dict[str, DataFrame]:
        results = []
        for params in param_sets:
            outs = stage.fn({**ins, **params})
            results.append(outs[out_slot])
        merged = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), results
        )
        return {out_slot: merged}

    return Stage(f"{stage.name}_clone{len(param_sets)}", fn, stage.inputs,
                 [s for s in stage.outputs if s.name == out_slot])


def choice(variants: dict[str, Stage], key: str) -> Stage:
    """ChoiceStep: pick one sub-graph variant by config key
    (step.py:1675-1825)."""
    if key not in variants:
        raise ValueError(f"unknown choice {key!r}; have {sorted(variants)}")
    return variants[key]


def subpipeline(
    name: str,
    inner: Pipeline,
    inputs: list[Slot],
    outputs: list[Slot],
) -> Stage:
    """HierarchicalStep (step.py:546-821): a whole Pipeline wrapped as ONE
    Stage of an outer pipeline.  The inner pipeline runs with the stage's
    validated input slots as its sources (itself topologically ordered,
    cycles rejected), and the declared output slots are plucked from its
    final environment — nested step graphs compose to any depth."""

    def fn(ins: dict[str, DataFrame]) -> dict[str, DataFrame]:
        env = inner.run(ins)
        missing = [s.name for s in outputs if s.name not in env]
        if missing:
            raise KeyError(
                f"subpipeline {name}: inner pipeline never produced {missing}"
            )
        return {s.name: env[s.name] for s in outputs}

    return Stage(name, fn, inputs, outputs)
