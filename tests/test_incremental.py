"""Cascading passes (LoopStep semantics), streaming foreachBatch merge,
and 1:1 assignment (G5)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators import clustering as G
from easylink_spark.operators.assignment import one_to_one_assignment
from easylink_spark.streaming.incremental import (
    cascade_passes,
    incremental_foreachBatch,
    merge_batch,
)


def _clusters(spark, rows):
    return spark.createDataFrame(
        rows,
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )


def partition_of(clusters):
    comps = {}
    for r in clusters.collect():
        key = (r[K.INPUT_RECORD_DATASET], str(r[K.INPUT_RECORD_ID]))
        comps.setdefault(r[K.CLUSTER_ID], set()).add(key)
    return {frozenset(v) for v in comps.values()}


def test_cascade_two_passes(spark):
    """Pass 1 clusters {1,2}; pass 2 runs on the remaining records and
    clusters {3,4}; state accumulates both."""
    dataset = spark.createDataFrame(
        [(i, f"r{i}") for i in range(1, 6)], f"`{K.RECORD_ID}` long, attr string"
    )

    def pass1(records):
        return _clusters(spark, [("d", "1", "a"), ("d", "2", "a")])

    def pass2(records):
        # the exclusion must have removed records 1 and 2
        ids = {r[K.RECORD_ID] for r in records.collect()}
        assert ids == {3, 4, 5}, ids
        return _clusters(spark, [("d", "3", "b"), ("d", "4", "b")])

    final = cascade_passes(spark, dataset, "d", [pass1, pass2])
    assert partition_of(final) == {
        frozenset({("d", "1"), ("d", "2")}),
        frozenset({("d", "3"), ("d", "4")}),
    }


def test_incremental_foreach_batch(spark, tmp_ckpt):
    """Two micro-batches of links; state after both = transitive merge."""
    src_dir = tempfile.mkdtemp(prefix="elspark_stream_src_")
    state = tmp_ckpt + "/state"
    links_schema = (
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
        f"`{K.PROBABILITY}` double"
    )
    batch1 = spark.createDataFrame([("d", "1", "d", "2", 0.9)], links_schema)
    batch1.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(links_schema).parquet(src_dir)
    q = incremental_foreachBatch(stream, tmp_ckpt + "/chk", state).start()
    q.awaitTermination(120)

    got1 = partition_of(spark.read.parquet(state))
    assert got1 == {frozenset({("d", "1"), ("d", "2")})}

    # second batch links 2-3: must merge transitively into {1,2,3}
    batch2 = spark.createDataFrame([("d", "2", "d", "3", 0.95)], links_schema)
    batch2.write.mode("append").parquet(src_dir)
    q2 = incremental_foreachBatch(stream, tmp_ckpt + "/chk", state).start()
    q2.awaitTermination(120)

    got2 = partition_of(spark.read.parquet(state))
    assert got2 == {frozenset({("d", "1"), ("d", "2"), ("d", "3")})}
    shutil.rmtree(src_dir, ignore_errors=True)


LINKS_SCHEMA = (
    f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
    f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
    f"`{K.PROBABILITY}` double"
)


def _stream_batches(spark, src_dir, batches):
    """Write one parquet file per batch, so maxFilesPerTrigger=1 makes one
    micro-batch (batch ids 0, 1, ...) per file."""
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, LINKS_SCHEMA).coalesce(1).write.parquet(
            f"{src_dir}/b{i}"
        )
        for f in os.listdir(f"{src_dir}/b{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{src_dir}/b{i}/{f}", f"{src_dir}/part-{i:03d}.parquet")
        shutil.rmtree(f"{src_dir}/b{i}")
    return (
        spark.readStream.schema(LINKS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_restores_state_after_crash_between_renames(
    spark, tmp_ckpt, monkeypatch
):
    """A crash after ``state -> state.__old_<id>`` but before
    ``__new_<id> -> state`` leaves no state at ``state_path``; the retried
    batch restores the old state and merges into it."""
    src_dir = f"{tmp_ckpt}/src"
    state, chk = f"{tmp_ckpt}/state", f"{tmp_ckpt}/chk"
    batches = [
        [("d", "1", "d", "2", 0.9)],
        [("d", "2", "d", "3", 0.95), ("d", "4", "d", "5", 0.2)],
    ]
    stream = _stream_batches(spark, src_dir, batches)
    real_rename = os.rename

    def crashing_rename(src, dst):
        if src == f"{state}.__new_1":
            raise OSError("injected crash between the two renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    q = incremental_foreachBatch(stream, chk, state).start()
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    assert not os.path.exists(state)
    assert os.path.exists(f"{state}.__old_1")
    assert partition_of(spark.read.parquet(f"{state}.__old_1")) == {
        frozenset({("d", "1"), ("d", "2")})
    }

    monkeypatch.setattr(os, "rename", real_rename)
    q = incremental_foreachBatch(stream, chk, state).start()
    q.awaitTermination(120)
    assert partition_of(spark.read.parquet(state)) == {
        frozenset({("d", "1"), ("d", "2"), ("d", "3")}),
        frozenset({("d", "4")}),
        frozenset({("d", "5")}),
    }
    assert sorted(os.listdir(tmp_ckpt)) == ["chk", "src", "state"]


def test_incremental_retried_batch_id_is_idempotent(spark, tmp_ckpt):
    """Deleting the last commit makes the restarted query run that batch
    again on top of the state it already wrote; the end state still equals
    one batch ``links_to_clusters`` over every link."""
    src_dir = f"{tmp_ckpt}/src"
    state, chk = f"{tmp_ckpt}/state", f"{tmp_ckpt}/chk"
    batches = [
        [("d", "1", "d", "2", 0.9), ("e", "7", "d", "8", 0.3)],
        [("d", "2", "d", "3", 0.95), ("d", "4", "e", "5", 0.99)],
        [("d", "3", "e", "5", 0.88), ("d", "6", "d", "9", 0.1)],
    ]
    stream = _stream_batches(spark, src_dir, batches)
    q = incremental_foreachBatch(stream, chk, state).start()
    q.awaitTermination(120)
    first = _rows(spark.read.parquet(state))

    for f in ("2", ".2.crc"):  # the commit and its checksum sidecar
        os.remove(f"{chk}/commits/{f}")
    q = incremental_foreachBatch(stream, chk, state).start()
    q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [2]
    every_link = spark.createDataFrame(
        [row for rows in batches for row in rows], LINKS_SCHEMA
    )
    assert _rows(spark.read.parquet(state)) == first == _rows(
        G.links_to_clusters(every_link, 0.85)
    )


def test_incremental_unreadable_state_fails_the_batch(spark, tmp_ckpt):
    """A state that exists but cannot be read raises; it is never replaced
    by the batch's own clusters."""
    state = f"{tmp_ckpt}/state"
    os.makedirs(state)
    with open(f"{state}/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    batch = spark.createDataFrame([("d", "1", "d", "2", 0.9)], LINKS_SCHEMA)
    # Spark's read inside the bounded collect that sizes the graph
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
        merge_batch(batch, 0, state, 0.85)
    assert os.listdir(state) == ["part-00000.parquet"]
    assert sorted(os.listdir(tmp_ckpt)) == ["state"]


def test_merge_batch_writes_one_state_file(spark, tmp_ckpt):
    """A small state is rewritten as ONE parquet file per batch, not one
    per split of the default parallelism (which multiplies write_amp)."""
    state = f"{tmp_ckpt}/state"
    for batch_id, rows in enumerate([
        [("d", str(i), "d", str(i + 1), 0.9) for i in range(0, 60, 3)],
        [("d", str(i), "e", str(i), 0.95) for i in range(0, 60, 2)],
    ]):
        merge_batch(spark.createDataFrame(rows, LINKS_SCHEMA), batch_id,
                    state, 0.85)
        assert len(glob.glob(f"{state}/part-*.parquet")) == 1


def test_merge_batch_empty_batch_keeps_state(spark, tmp_ckpt):
    """An empty batch leaves the state's rows unchanged."""
    state = f"{tmp_ckpt}/state"
    first = [("d", "1", "d", "2", 0.9), ("d", "10", "d", "3", 0.95),
             ("d", "4", "e", "5", 0.2)]
    merge_batch(spark.createDataFrame(first, LINKS_SCHEMA), 0, state, 0.85)
    before = _rows(spark.read.parquet(state))
    assert len(before) == 6
    merge_batch(spark.createDataFrame([], LINKS_SCHEMA), 1, state, 0.85)
    assert _rows(spark.read.parquet(state)) == before


def test_one_to_one_assignment(spark):
    links = spark.createDataFrame(
        [
            ("a", "1", "b", "x", 0.9, 0),
            ("a", "1", "b", "y", 0.8, 0),  # 1 already matched to x
            ("a", "2", "b", "x", 0.85, 0),  # x already matched to 1
            ("a", "2", "b", "y", 0.6, 0),  # best remaining for 2
            ("a", "9", "b", "z", 0.7, 1),  # separate block
        ],
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
        f"`{K.PROBABILITY}` double, block_id long",
    )
    out = one_to_one_assignment(links, "block_id")
    got = {(r[K.LEFT_ID], r[K.RIGHT_ID]) for r in out.collect()}
    # optimal 1:1 (both greedy and Hungarian agree here):
    assert got == {("1", "x"), ("2", "y"), ("9", "z")}
    # each left and right key used at most once
    assert out.groupBy(f"`{K.LEFT_ID}`").count().filter("count>1").count() == 0
    assert out.groupBy(f"`{K.RIGHT_ID}`").count().filter("count>1").count() == 0
