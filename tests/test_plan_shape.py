"""Physical-plan regression tests — the scale properties the prose claims.

The 100 TB arguments in ARCHITECTURE.md rest on specific Catalyst plan
shapes: no cartesian products anywhere in pair generation, column pruning
reaching the parquet scan, hash (not nested-loop) joins in the scoring
attach, and broadcast of the tiny hot-key tables.  A refactor can silently
lose any of these while every row-level test stays green — these tests pin
the plan text itself.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from easylink_spark import contracts as K
from easylink_spark.operators import blocking as B
from easylink_spark.operators import clustering as G
from easylink_spark.operators import scoring as S
from easylink_spark.operators import textops as T
from easylink_spark.operators.features import conversation_features, text_views
from easylink_spark.streaming.incremental import merge_batch
from easylink_spark.synth import synth_transcripts


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def records(spark, tmp_path_factory):
    """Records read from PARQUET (not an in-memory frame) so scan-level
    pushdown/pruning is actually observable in the plan, with the derived
    text columns on top, as ``run_dedup``'s blocking and scoring see them."""
    d = str(tmp_path_factory.mktemp("plan") / "records")
    t = synth_transcripts(spark, n_entities=60, seed=5).drop("entity_id")
    conversation_features(t, validate=False).write.parquet(d)
    return text_views(spark.read.parquet(d))


def test_blocking_has_no_cartesian_product(spark, records):
    pairs = B.union_blocking_rules([
        B.block_on_key(records, F.col("first_prefix")),
        B.block_minhash_lsh(records, "full_text_norm"),
    ])
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocking_prunes_record_columns(spark, records):
    """The pairs plan must not drag the fat per-turn array through the
    blocking shuffles: the parquet scans feeding pair generation read only
    the key + id columns — neither the stored ``turn_norm`` nor the text
    columns derived from it."""
    pairs = B.block_on_key(records, F.col("first_prefix"))
    plan = _plan(pairs)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "turn_texts" not in line, line
            assert "full_text_norm" not in line, line
            assert "turn_norm" not in line, line


def test_scoring_attach_uses_hash_join(spark, records):
    """Pairs x records attribute attach must be a hash join (shuffled hash
    per the explicit hint, or broadcast if Catalyst sizes it so) — never a
    sort-merge of the fat side at scale, and never a nested loop."""
    pairs = B.block_on_key(records, F.col("first_prefix"))
    gammas = S.attach_pair_attributes(
        pairs, records, ["first_text_norm", "n_turns"]
    )
    plan = _plan(gammas)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("ShuffledHashJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_filter_pushdown_reaches_scan(spark, records):
    flt = records.filter(F.col("n_turns") > 3).select("n_turns")
    plan = _plan(flt)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(n_turns)" in plan or "GreaterThan(n_turns,3)" in plan


def test_lsh_hot_cap_shares_the_self_join_exchange(spark, records):
    """The hot-bucket cap is a window over the self-join's own bucket
    partitioning, so after execution the second join side reads the first
    side's bucket-keyed exchange (a ``ReusedExchange`` of
    ``hashpartitioning(<first bucket key>, ...)`` in the AQE final plan)
    instead of re-planning the banded signature subtree — for all three
    LSH operators."""
    docs = records.select(
        F.col("`Input Record ID`").alias("doc_id"), "full_text_norm"
    )
    vecs = spark.range(200).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 8), x -> CAST((id * x) % 7 + 1 AS FLOAT)) AS v",
    )
    callers = [
        ("block_minhash_lsh", "band",
         B.block_minhash_lsh(records, "full_text_norm")),
        ("simhash_near_dup_pairs", "band",
         T.simhash_near_dup_pairs(docs, "full_text_norm", "doc_id")),
        ("embedding_near_dup_pairs", "table",
         T.embedding_near_dup_pairs(vecs, "v", "vec_id", dim=8)),
    ]
    for name, first_key, df in callers:
        df.collect()  # runs df's own query execution -> AQE final plan
        reused = [ln for ln in _plan(df).splitlines() if "ReusedExchange" in ln]
        assert any(f"hashpartitioning({first_key}#" in ln for ln in reused), (
            name, reused)


def test_operator_task_count_reaches_the_exchange(spark, records):
    """The CPU-heavy operators' explicit ``partitions`` is the partition
    count of their exchanges, not the session's shuffle width.  MinHash
    signatures keep any count.  Scoring runs all four attribute-join
    exchanges at the count; a join side below the shuffle width is raised
    to it by Spark's planner (a join whose sides are all shuffles takes
    ``spark.sql.shuffle.partitions`` as their minimum), hence a count above
    the width here.  The width is read, never set: other tests' sessions
    share this conf."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sigs = B.minhash_signatures(records, "full_text_norm", partitions=3)
    assert re.search(r"hashpartitioning\(_rk#\w+, 3\)", _plan(sigs))
    pairs = B.block_on_key(records, F.col("first_prefix"))
    n = width + 4
    plan = _plan(S.score_pairs(pairs, records, validate=False, partitions=n))
    by_num = re.findall(r"hashpartitioning\([^()]*, (\d+)\), REPARTITION_BY_NUM",
                        plan)
    assert by_num == [str(n)] * 4, (width, by_num)


def test_minhash_signatures_are_one_projection_per_record(spark, records):
    """A per-record min needs no other record's rows: after execution the
    signature plan holds the repartition's one exchange and projections, no
    aggregate, join or Generate (explode) node.  The shingle array is built
    once, in a Project below the per-hash ``array_min`` columns."""
    sigs = B.minhash_signatures(records, "full_text_norm", partitions=3)
    sigs.collect()
    final = _plan(sigs).split("== Initial Plan ==")[0]
    lines = final.splitlines()
    exchanges = [ln for ln in lines if re.search(r"\bExchange ", ln)]
    assert len(exchanges) == 1, exchanges
    assert re.search(r"hashpartitioning\(_rk#\w+, 3\)", exchanges[0])
    for node in ("Aggregate", "Join", "Generate"):
        assert node not in final, node
    assert final.count("array_distinct") == 1
    shingles = next(i for i, ln in enumerate(lines) if "array_distinct" in ln)
    hashes = next(i for i, ln in enumerate(lines) if "array_min" in ln)
    assert hashes < shingles
    assert "array_min" not in lines[shingles]


def test_no_operator_reads_the_shuffle_width():
    """Task counts are parameters: no engine module sizes its tasks by
    reading ``spark.sql.shuffle.partitions`` from the session conf."""
    root = pathlib.Path(K.__file__).parent
    readers = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if 'conf.get("spark.sql.shuffle.partitions' in line
    ]
    assert readers == []


def test_small_graph_clustering_runs_no_python_or_single_partition_exchange(
    spark, monkeypatch
):
    """On the small-graph path the union-find runs on the driver: the
    plan text of the bounded collect and of the returned DataFrame holds
    no Python-evaluation node and no ``Exchange SinglePartition`` — with
    and without ``known``.  Only plan text is checked: on a multi-partition
    input the collect is a ``CollectLimit``, whose own shuffle into one
    partition is accepted and is not an Exchange node."""
    links = spark.createDataFrame(
        [("d", str(i), "d", str(i + 7), 0.6 + (i % 4) / 10) for i in range(0, 80, 4)],
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
        f"`{K.PROBABILITY}` double",
    )
    known = spark.createDataFrame(
        [("d", str(i), f"d-__-{i - i % 2}") for i in range(40)],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    )
    collected = []
    to_arrow = type(links).toArrow

    def recording_to_arrow(df):
        table = to_arrow(df)
        collected.append(_plan(df))
        return table

    monkeypatch.setattr(type(links), "toArrow", recording_to_arrow)
    for k in (None, known):
        clusters = G.links_to_clusters(links, 0.85, known=k)
        clusters.collect()
        plans = collected + [_plan(clusters)]
        collected.clear()
        assert len(plans) == 2, plans
        for plan in plans:
            for node in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
                         "BatchEvalPython", "Exchange SinglePartition"):
                assert node not in plan, (node, plan)


def test_stream_merge_job_count(spark, tmp_path, monkeypatch):
    """One streaming merge of a ~100-link batch into a small state, state
    write included, runs at most 2 Spark jobs: the one bounded collect
    that sizes the graph and feeds the driver-side union-find, and the one
    write.  The two-pass merge (``links_to_clusters`` with its own count
    probe, then ``update_clusters`` on an inferred-schema state read) ran
    9."""
    monkeypatch.setenv("EASYLINK_VALIDATE", "0")  # validators add their own jobs
    state, links_dir = str(tmp_path / "state"), str(tmp_path / "links")
    spark.createDataFrame(
        [("d", str(i), f"d-__-{i - i % 3}") for i in range(300)],
        f"`{K.INPUT_RECORD_DATASET}` string, `{K.INPUT_RECORD_ID}` string, "
        f"`{K.CLUSTER_ID}` string",
    ).write.parquet(state)
    spark.createDataFrame(
        [("d", str(i), "d", str(i + 7), 0.6 + (i % 4) / 10) for i in range(0, 400, 4)],
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
        f"`{K.PROBABILITY}` double",
    ).write.parquet(links_dir)
    batch = spark.read.parquet(links_dir)
    expected = sorted(G.update_clusters(
        spark.read.parquet(state), G.links_to_clusters(batch, 0.85)
    ).collect())

    sc = spark.sparkContext
    sc.setJobGroup("stream_merge_jobs", "one merge_batch")
    try:
        merge_batch(batch, 0, state, 0.85)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("stream_merge_jobs")
    assert 0 < len(jobs) <= 2, sorted(jobs)
    assert sorted(spark.read.parquet(state).collect()) == expected


def test_links_to_clusters_on_parquet_runs_one_job(spark, tmp_path):
    """Over a multi-file parquet links table, ``links_to_clusters`` runs
    exactly one Spark job: the bounded collect that both sizes the graph
    and feeds the driver-side union-find."""
    links_dir = str(tmp_path / "links")
    spark.createDataFrame(
        [("d", str(i), "d", str(i + 7), 0.6 + (i % 4) / 10) for i in range(0, 400, 4)],
        f"`{K.LEFT_DATASET}` string, `{K.LEFT_ID}` string, "
        f"`{K.RIGHT_DATASET}` string, `{K.RIGHT_ID}` string, "
        f"`{K.PROBABILITY}` double",
    ).repartition(3).write.parquet(links_dir)
    assert len(list(pathlib.Path(links_dir).glob("*.parquet"))) == 3
    links = spark.read.parquet(links_dir)  # schema inference runs here

    sc = spark.sparkContext
    sc.setJobGroup("links_to_clusters_jobs", "one links_to_clusters")
    try:
        clusters = G.links_to_clusters(links, 0.85, validate=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("links_to_clusters_jobs")
    assert len(jobs) == 1, sorted(jobs)
    assert clusters.count() == 200
