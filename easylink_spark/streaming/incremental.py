"""Cascading / incremental entity resolution (the reference's LoopStep).

The reference's main-schema loop (pipeline_schema_constants/main.py:430-437;
docs 'Census PVS pattern', concepts/pipeline_schema/index.rst:559-608):

    for each pass i:
      1. determining_exclusions: records already in a size>1 cluster ->
         ids_to_remove                       (exclude_clustered.py:63-77)
      2. removing_records: drop them         (default_removing_records.py:55)
      3. link remaining records -> new clusters (any linkage sub-pipeline)
      4. updating_clusters: merge known+new clusters transitively
         (update_clusters_by_connected_components.py)

Here the loop is plain driver control flow over DataFrames
(``cascade_passes``), and ``incremental_foreachBatch`` adapts the same
update to a Structured Streaming micro-batch sink: each arriving batch of
links is merged into the running cluster state.  Steps 3 and 4 are one
call there, ``links_to_clusters(batch, known=state)``: on small graphs one
bounded Arrow collect of the batch's links and the state's record->cluster
edges and a union-find on the driver; the collect sizes its own input, so
no count job or footer read comes first.  The merged state comes back in
one partition and is written as one file: two Spark jobs per batch.  A
missing state means the first batch; a state that exists but cannot be
read fails the batch.  The reference has no streaming operators; this is
the batch-incremental semantics it does have, exposed on Spark's streaming
runtime.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from easylink_spark.contracts import (
    CLUSTER_ID,
    INPUT_RECORD_DATASET,
    INPUT_RECORD_ID,
    RECORD_ID,
)
from easylink_spark.operators import clustering as G

# A linkage pass: records-in -> clusters-out (e.g. a configured
# blocking+scoring+clustering sub-pipeline).
LinkagePass = Callable[[DataFrame], DataFrame]

# The clusters contract as links_to_clusters emits it: all three columns
# are strings (record ids come out of the split record key).
CLUSTERS_SCHEMA = (
    f"`{INPUT_RECORD_DATASET}` string, `{INPUT_RECORD_ID}` string, "
    f"`{CLUSTER_ID}` string"
)


def cascade_passes(
    spark: SparkSession,
    dataset: DataFrame,
    dataset_name: str,
    passes: list[LinkagePass],
    known_clusters: DataFrame | None = None,
) -> DataFrame:
    """Run linkage passes in sequence, each excluding already-clustered
    records and merging its new clusters into the accumulated state
    (LoopStep unrolling, step.py:1102-1218 -> plain Python loop)."""
    empty_clusters = spark.createDataFrame([], CLUSTERS_SCHEMA)
    state = known_clusters if known_clusters is not None else empty_clusters
    remaining = dataset
    for i, link in enumerate(passes):
        if i > 0:
            ids = G.exclude_clustered(state, remaining, dataset_name)
            remaining = G.remove_records(remaining, ids)
        new_clusters = link(remaining)
        new_clusters = new_clusters.withColumn(
            CLUSTER_ID, F.col(f"`{CLUSTER_ID}`").cast("string")
        )
        state = G.update_clusters(state, new_clusters)
        # materialize the loop state so pass i+1 does not recompute passes
        # 0..i (driver-loop analog of the reference's per-step parquet files)
        state = state.localCheckpoint()
    return state


def merge_batch(
    batch_df: DataFrame, batch_id: int, state_path: str, threshold: float
) -> None:
    """Merge one batch of links into the parquet cluster state at
    ``state_path`` (the ``incremental_foreachBatch`` micro-batch body)."""
    # Crash recovery: a crash between the two swap renames below leaves
    # the state under __old_<id> with state_path absent — restore the
    # newest such snapshot instead of silently restarting from empty.
    if not os.path.exists(state_path):
        leftovers = sorted(
            glob.glob(f"{state_path}.__old_*"),
            key=lambda p: int(p.rsplit("_", 1)[-1]),
        )
        if leftovers:
            os.rename(leftovers[-1], state_path)
            for p in leftovers[:-1]:
                shutil.rmtree(p, ignore_errors=True)
    # An existence check, not a try/except around the read: a state that
    # exists but fails to read must fail the batch, never be replaced by
    # this one batch's clusters.
    if os.path.exists(state_path):
        # A crash after merged.write to __new_<id> that is never retried
        # with the same batch id would orphan that temp dir forever; once a
        # valid state exists, any __new_* leftover is garbage by definition
        # (the swap either completed — state_path IS the new data — or the
        # batch will be retried and rewrites its own temp dir).
        for p in glob.glob(f"{state_path}.__new_*"):
            shutil.rmtree(p, ignore_errors=True)
        # the schema merge_batch writes; stating it skips Spark's one-task
        # schema-inference job, and a state of another shape fails the read
        known = batch_df.sparkSession.read.schema(CLUSTERS_SCHEMA).parquet(
            state_path
        )
    else:
        known = None
    # One connected-components call over the batch's links and the known
    # state (a driver-side union-find on small graphs).  Called through
    # the module so instrumentation that wraps G.links_to_clusters sees it.
    merged = G.links_to_clusters(batch_df, threshold, known=known)
    # Never overwrite the path the plan is still reading: an in-place
    # overwrite relies on cached blocks surviving until the write ends —
    # eviction mid-write would recompute against deleted files and corrupt
    # the state.  Write to a versioned temp path, then atomically swap
    # directories (rename is atomic on a POSIX filesystem; on an object
    # store use a pointer file / Iceberg snapshot instead).
    tmp_path = f"{state_path}.__new_{batch_id}"
    merged.write.mode("overwrite").parquet(tmp_path)
    old_path = f"{state_path}.__old_{batch_id}"
    # a retried batch may find its own old_path from a crash after the
    # first rename — clear it or the rename below fails ENOTEMPTY
    shutil.rmtree(old_path, ignore_errors=True)
    if os.path.exists(state_path):
        os.rename(state_path, old_path)
    os.rename(tmp_path, state_path)
    shutil.rmtree(old_path, ignore_errors=True)


def incremental_foreachBatch(
    links_stream,
    checkpoint_dir: str,
    state_path: str,
    threshold: float = 0.85,
):
    """Structured Streaming sink: merge each micro-batch of links into the
    persisted cluster state (foreachBatch driving the same batch-incremental
    operators — SURVEY §2.10's 'optional' streaming path).

    ``links_stream`` is a streaming DataFrame with the links contract.
    State is a parquet table of the clusters contract at ``state_path``.
    """
    return (
        links_stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: merge_batch(
                batch_df, batch_id, state_path, threshold
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
