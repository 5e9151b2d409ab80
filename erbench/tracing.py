"""Span tracing around the public entry points, from outside the package.

``instrument(tracer)`` wraps, for the duration of a ``with`` block:

- ``StageRunner.stage`` / ``source`` / ``flush`` (one span per checkpointed
  stage, named after the layer that stage runs);
- the operator calls ``run_dedup``, ``incremental_foreachBatch`` and
  ``update_clusters`` make (features, blocking, scoring, clustering);
- the micro-batch function ``incremental_foreachBatch`` hands to Spark;
- the Jaro-Winkler comparator UDF, replaced by an identical UDF that adds
  its per-batch process CPU to a Spark accumulator.

Each span records name, layer, start, end and parent, and sets the Spark
job group to its layer while it is open, so event-log task metrics can be
attributed to layers (see ``eventlog.py``).  Nothing under
``easylink_spark/`` is edited; the originals are restored on exit.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import pandas as pd  # pandas_udf resolves the timed UDF's type hints here

GROUP_KEY = "spark.jobGroup.id"

# checkpointed stage name -> the layer (module) that computes it
STAGE_LAYER = {
    "transcripts": "checkpoint",
    "records": "features",
    "pairs": "blocking",
    "links": "scoring",
    "clusters": "clustering",
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    thread: str
    start: float
    end: float | None = None

    @property
    def seconds(self) -> float:
        return (self.end or time.time()) - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(next(self._ids), stack[-1].id if stack else None, name,
                  layer, threading.current_thread().name, time.time())
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, layer)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(sp)

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s.seconds for s in self.spans if s.name == name)

    def layer_seconds(self, layer: str) -> float:
        """Wall of the outermost spans of ``layer``; a nested span of the
        same layer lies inside its parent's interval and is not re-added."""
        by_id = {s.id: s for s in self.spans}
        return sum(
            s.seconds for s in self.spans
            if s.layer == layer
            and (s.parent is None or by_id[s.parent].layer != layer)
        )

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def _timed_udf(fn, acc):
    """Same pandas UDF body, plus its process CPU added to ``acc``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    def timed(l: pd.Series, r: pd.Series) -> pd.Series:
        t0 = time.process_time()
        out = fn(l, r)
        acc.add(time.process_time() - t0)
        return out

    # the original is marked non-deterministic so the optimizer evaluates
    # it once per pair; keep that
    return F.pandas_udf(timed, DoubleType()).asNondeterministic()


@contextmanager
def foreach_batch_decorated(decorate):
    """Inside the block, every function handed to
    ``DataStreamWriter.foreachBatch`` is first passed through ``decorate``."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig = DataStreamWriter.foreachBatch
    DataStreamWriter.foreachBatch = lambda self, func: orig(self, decorate(func))
    try:
        yield
    finally:
        DataStreamWriter.foreachBatch = orig


@contextmanager
def instrument(tracer: Tracer):
    """Install the wrappers listed in the module docstring; yields the
    accumulator of comparator UDF CPU seconds."""
    from easylink_spark.functions import comparators
    from easylink_spark.operators import blocking, clustering, scoring
    from easylink_spark.plans import dedup
    from easylink_spark.sources.checkpoint import StageRunner

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr: str, new) -> None:
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(owner, attr: str, layer: str) -> None:
        patch(owner, attr, _wrap(tracer, getattr(owner, attr),
                                 f"{layer}.{attr}", layer))

    stage_orig = StageRunner.stage
    source_orig = StageRunner.source

    def stage(self, name, *args, **kwargs):
        layer = STAGE_LAYER.get(name, "checkpoint")
        with tracer.span(f"stage.{name}", layer):
            return stage_orig(self, name, *args, **kwargs)

    def source(self, name, *args, **kwargs):
        with tracer.span(f"stage.{name}", "checkpoint"):
            return source_orig(self, name, *args, **kwargs)

    patch(StageRunner, "stage", stage)
    patch(StageRunner, "source", source)
    patch(StageRunner, "flush",
          _wrap(tracer, StageRunner.flush, "checkpoint.flush", "checkpoint"))
    wrap(dedup, "conversation_features", "features")
    for attr in ("block_on_key", "block_minhash_lsh", "union_blocking_rules"):
        wrap(blocking, attr, "blocking")
    wrap(scoring, "score_pairs", "scoring")
    wrap(clustering, "links_to_clusters", "clustering")
    wrap(clustering, "update_clusters", "clustering")

    cc_orig = clustering.connected_components

    def connected_components(*args, stats=None, **kwargs):
        stats = {} if stats is None else stats
        with tracer.span("clustering.connected_components", "clustering"):
            out = cc_orig(*args, stats=stats, **kwargs)
        tracer.counts["clustering.rounds"] += stats.get("rounds", 0)
        return out

    patch(clustering, "connected_components", connected_components)

    acc = tracer.sc.accumulator(0.0)
    patch(comparators, "jaro_winkler_udf",
          _timed_udf(comparators.jaro_winkler_udf.func, acc))

    def traced(merge_batch):
        def batch(df, batch_id):
            with tracer.span("incremental.batch", "incremental"):
                merge_batch(df, batch_id)

        return batch

    try:
        with foreach_batch_decorated(traced):
            yield acc
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
