"""The benchmark's workloads, each driving the public API end to end.

A workload prepares its inputs from the seed (outside any timed window),
then runs *units*: one unit is one complete job on fresh state —
``run_dedup`` over the corpus for ``batch_dedup``, one closed-loop stream
of K link files through ``incremental_foreachBatch`` for ``stream_merge``.
Truth labels never reach the engine; they are kept here for the checks.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from probes import dir_bytes, tree_cpu
from tracing import foreach_batch_decorated

THRESHOLD = 0.85  # DedupConfig().threshold; the stream merges at the same cut
RID = "Input Record ID"
CID = "Cluster ID"
LINK_COLS = ["Left Record Dataset", "Left Record ID", "Right Record Dataset",
             "Right Record ID", "Probability"]
LINKS_SCHEMA = ", ".join(
    f"`{c}` {'double' if c == 'Probability' else 'string'}" for c in LINK_COLS)


@dataclass
class Unit:
    tag: str
    wall: float
    cpu: float
    batches: list[float]
    bytes_written: int
    checksum: int
    clusters: pd.DataFrame
    path: str  # checkpoint dir (dedup) or unit dir (stream)
    state_bytes: int = 0  # stream: final state table


def checksum(df) -> int:
    """Order-independent cluster-table checksum (the one bench.py uses)."""
    from pyspark.sql import functions as F

    return df.agg(
        F.coalesce(
            F.bit_xor(F.xxhash64("`Input Record Dataset`", "`Input Record ID`",
                                 "`Cluster ID`")),
            F.lit(0),
        ).alias("h")
    ).collect()[0]["h"]


def _n_pairs(sizes: pd.Series) -> int:
    s = sizes.to_numpy(dtype=np.int64)
    return int((s * (s - 1) // 2).sum())


def pairwise_scores(clusters: pd.DataFrame, labels: pd.DataFrame) -> dict:
    """Pairwise precision / recall / F1 of a clustering against the truth.

    Records missing from ``clusters`` are singletons: their true pairs
    count as missed."""
    m = clusters.merge(labels, left_on=RID, right_on="conv_id")
    tp = _n_pairs(m.groupby([CID, "entity_id"]).size())
    predicted = _n_pairs(clusters.groupby(CID).size())
    true = _n_pairs(labels.groupby("entity_id").size())
    return {
        "precision": tp / predicted if predicted else 1.0,
        "recall": tp / true if true else 1.0,
        "f1": 2 * tp / (predicted + true) if predicted + true else 1.0,
    }


def true_matches(pairs: pd.DataFrame, labels: pd.DataFrame) -> int:
    """Number of (Left, Right) record pairs that are the same entity."""
    ent = labels.set_index("conv_id")["entity_id"]
    left = pairs["Left Record ID"].map(ent)
    right = pairs["Right Record ID"].map(ent)
    return int((left == right).sum())


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )


class Workload:
    name = ""

    def __init__(self, spark, work: str, cores: int, seed: int):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.seed = seed
        self.info: dict = {}

    def _corpus(self, n_entities: int, path: str | None = None) -> None:
        """Generate the labelled corpus once: keep the truth labels here and,
        when ``path`` is given, write the engine input there (transcripts
        without the truth column)."""
        from easylink_spark.synth import synth_transcripts

        truth = synth_transcripts(self.spark, n_entities=n_entities,
                                  seed=self.seed)
        if path is not None:
            truth = truth.cache()
            truth.drop("entity_id").write.parquet(path)
        per_conv = truth.groupBy("conv_id", "entity_id").count().toPandas()
        truth.unpersist()
        self.labels = per_conv[["conv_id", "entity_id"]]
        self.turns = int(per_conv["count"].sum())
        self.info.update(entities=n_entities, turns=self.turns,
                         conversations=len(self.labels))

    def scores(self, u: Unit) -> dict:
        return pairwise_scores(u.clusters, self.labels)

    def _finish(self, tag, wall, cpu, clusters_df, **kw) -> Unit:
        return Unit(tag=tag, wall=wall, cpu=cpu,
                    checksum=checksum(clusters_df),
                    clusters=clusters_df.select(RID, CID).toPandas(), **kw)

    def _cluster_metrics(self, u: Unit, tracer) -> dict:
        sizes = u.clusters.groupby(CID).size()
        return {
            "clustering.s": tracer.layer_seconds("clustering"),
            "clustering.rounds": tracer.counts["clustering.rounds"],
            "clustering.clusters": len(sizes),
            "clustering.max_cluster": int(sizes.max()) if len(sizes) else 0,
        }


class BatchDedup(Workload):
    """``run_dedup`` with the default ``DedupConfig`` on a default-template
    corpus: the north-rule job, every dedup layer busy."""

    name = "batch_dedup"
    ENTITIES_PER_CORE = 100
    RESUMES = 5

    def prepare(self, resumes: int) -> None:
        self.corpus = os.path.join(self.work, "corpus")
        self._corpus(self.ENTITIES_PER_CORE * self.cores, self.corpus)
        self.input_bytes = dir_bytes(self.corpus)

    def _run(self, ckpt: str):
        from easylink_spark.plans.dedup import DedupConfig, run_dedup

        clusters = run_dedup(self.spark, self.corpus, ckpt, DedupConfig())
        clusters.count()
        return clusters

    def unit(self, tag: str) -> Unit:
        ckpt = os.path.join(self.work, f"ckpt-{tag}")
        cpu0 = tree_cpu()["total"]
        t0 = time.time()
        clusters = self._run(ckpt)
        wall = time.time() - t0
        cpu = tree_cpu()["total"] - cpu0
        return self._finish(tag, wall, cpu, clusters, batches=[wall],
                            bytes_written=dir_bytes(ckpt), path=ckpt)

    def resume(self, u: Unit, i: int) -> tuple[float, bool]:
        """Re-run on the complete checkpoint dir: (seconds, same output)."""
        t0 = time.time()
        clusters = self._run(u.path)
        return time.time() - t0, checksum(clusters) == u.checksum

    def extra_checks(self, u: Unit) -> dict[str, bool]:
        return {}

    def layer_metrics(self, u: Unit, tracer, py_cpu_s: float) -> dict:
        from pyspark.sql import functions as F

        from easylink_spark.plans.dedup import DedupConfig

        cfg = DedupConfig()

        def read(stage: str):
            return self.spark.read.parquet(os.path.join(u.path, stage))

        records = read("records")
        n_records = records.count()
        block_sizes = records.groupBy("first_prefix").count()
        blocks = block_sizes.agg(
            F.max("count").alias("max_block"),
            F.sum((F.col("count") > cfg.hot_block_threshold).cast("int"))
            .alias("hot_keys"),
        ).collect()[0]
        pairs = read("pairs").select("Left Record ID", "Right Record ID",
                                     "match_key").toPandas()
        links = read("links").toPandas()
        true_pairs = _n_pairs(self.labels.groupby("entity_id").size())
        input_wait_s = 0.0
        for name in os.listdir(u.path):
            if name.endswith("._manifest.json"):
                with open(os.path.join(u.path, name)) as f:
                    input_wait_s += json.load(f).get("input_wait_sec", 0.0)
        return {
            **self._cluster_metrics(u, tracer),
            "features.s": tracer.layer_seconds("features"),
            "features.records": n_records,
            "blocking.s": tracer.layer_seconds("blocking"),
            "blocking.key_pairs": int((pairs["match_key"] == 0).sum()),
            "blocking.lsh_pairs": int((pairs["match_key"] == 1).sum()),
            "blocking.pairs": len(pairs),
            "blocking.pairs_per_record": len(pairs) / max(n_records, 1),
            "blocking.max_block": blocks["max_block"] or 0,
            "blocking.hot_keys": blocks["hot_keys"] or 0,
            "blocking.recall": true_matches(pairs, self.labels)
            / max(true_pairs, 1),
            "scoring.s": tracer.layer_seconds("scoring"),
            "scoring.pairs_in": len(pairs),
            "scoring.links": len(links),
            "scoring.yield": len(links) / max(len(pairs), 1),
            "scoring.precision": true_matches(links, self.labels)
            / max(len(links), 1),
            "scoring.py_cpu_s": py_cpu_s,
            "clustering.edges": int((links["Probability"] >= cfg.threshold).sum()),
            "checkpoint.flush_s": tracer.seconds("checkpoint.flush"),
            "checkpoint.bytes": u.bytes_written,
            "checkpoint.input_wait_s": input_wait_s,
        }


class StreamMerge(Workload):
    """Seed the cluster state from half of a corpus's links, then merge the
    other half as K parquet files through ``incremental_foreachBatch``, one
    file per trigger, in a closed loop (each trigger starts when the
    previous batch has committed).  A few more files are held back for the
    resume measurement: each restarts the query on its checkpoint with one
    new file waiting."""

    name = "stream_merge"
    ENTITIES_PER_CORE = 250
    FILES_PER_CORE = 4
    RESUMES = 3

    def prepare(self, resumes: int) -> None:
        """``resumes`` files are held back for ``resume``; every other link
        is in the seed or the K streamed files."""
        from easylink_spark.operators import clustering as G

        self._corpus(self.ENTITIES_PER_CORE * self.cores)
        self.k_files = max(2, round(self.FILES_PER_CORE * self.cores))
        n_files = self.k_files + resumes
        links = self._links()
        part = np.random.default_rng([self.seed, 2]).integers(
            0, 2 * n_files, len(links))
        self.links_dir = os.path.join(self.work, "links")
        self.held_dir = os.path.join(self.work, "held_links")
        self.seed_dir = os.path.join(self.work, "seed_links")
        for d in (self.links_dir, self.held_dir, self.seed_dir):
            os.makedirs(d)
        _write_links(links[part < n_files],
                     os.path.join(self.seed_dir, "part-000.parquet"))
        for i in range(n_files):
            target = self.links_dir if i < self.k_files else self.held_dir
            _write_links(links[part == n_files + i],
                         os.path.join(target, f"part-{i:03d}.parquet"))
        self.input_bytes = dir_bytes(self.links_dir)
        self.seed_state = os.path.join(self.work, "seed_state")
        G.links_to_clusters(self.spark.read.parquet(self.seed_dir), THRESHOLD,
                            validate=False).write.parquet(self.seed_state)
        self.info.update(links=len(links), stream_files=self.k_files,
                         seed_links=int((part < n_files).sum()))

    def _links(self) -> pd.DataFrame:
        """Links a perfect scorer would emit: every within-entity pair above
        the threshold, plus one below-threshold near miss between
        neighbouring entities (kept as singletons unless linked)."""
        rng = np.random.default_rng([self.seed, 1])
        groups = self.labels.sort_values(["entity_id", "conv_id"]) \
            .groupby("entity_id")["conv_id"].apply(list)
        left, right, prob = [], [], []
        prev = None
        for convs in groups:
            for i, a in enumerate(convs):
                for b in convs[i + 1:]:
                    left.append(a)
                    right.append(b)
                    prob.append(rng.uniform(THRESHOLD + 0.01, 1.0))
            if prev is not None:
                a, b = sorted((prev, convs[0]))
                left.append(a)
                right.append(b)
                prob.append(rng.uniform(0.05, THRESHOLD - 0.05))
            prev = convs[0]
        n = len(left)
        return pd.DataFrame({
            "Left Record Dataset": ["transcripts"] * n,
            "Left Record ID": left,
            "Right Record Dataset": ["transcripts"] * n,
            "Right Record ID": right,
            "Probability": prob,
        })

    def _writer(self, unit_dir: str, state: str, written: list[int]):
        from easylink_spark.streaming.incremental import incremental_foreachBatch

        stream = (
            self.spark.readStream.schema(LINKS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.links_dir)
        )

        def counting(merge_batch):
            # every batch rewrites the whole state table: count those bytes
            def batch(df, batch_id):
                merge_batch(df, batch_id)
                written.append(dir_bytes(state))

            return batch

        with foreach_batch_decorated(counting):
            return incremental_foreachBatch(
                stream, os.path.join(unit_dir, "chk"), state, THRESHOLD)

    def unit(self, tag: str) -> Unit:
        unit_dir = os.path.join(self.work, f"stream-{tag}")
        state = os.path.join(unit_dir, "state")
        shutil.copytree(self.seed_state, state)
        written: list[int] = []
        writer = self._writer(unit_dir, state, written)
        cpu0 = tree_cpu()["total"]
        t0 = time.time()
        q = writer.start()
        q.awaitTermination()
        wall = time.time() - t0
        cpu = tree_cpu()["total"] - cpu0
        batches = [p.durationMs["triggerExecution"] / 1000.0
                   for p in q.recentProgress if p.numInputRows > 0]
        return self._finish(tag, wall, cpu, self.spark.read.parquet(state),
                            batches=batches, path=unit_dir,
                            bytes_written=sum(written)
                            + dir_bytes(os.path.join(unit_dir, "chk")),
                            state_bytes=dir_bytes(state))

    def resume(self, u: Unit, i: int) -> tuple[float, bool]:
        """Restart the finished query on its checkpoint with held-back file
        ``i`` newly arrived: (seconds, exactly that one batch ran)."""
        name = f"part-{self.k_files + i:03d}.parquet"
        shutil.move(os.path.join(self.held_dir, name),
                    os.path.join(self.links_dir, name))
        writer = self._writer(u.path, os.path.join(u.path, "state"), [])
        t0 = time.time()
        q = writer.start()
        q.awaitTermination()
        dt = time.time() - t0
        return dt, sum(p.numInputRows > 0 for p in q.recentProgress) == 1

    def extra_checks(self, u: Unit) -> dict[str, bool]:
        """The incremental end state equals one batch ``links_to_clusters``
        over every link it has merged (seed + streamed)."""
        from easylink_spark.operators import clustering as G

        batch = G.links_to_clusters(
            self.spark.read.parquet(self.links_dir, self.seed_dir),
            THRESHOLD, validate=False)
        state = self.spark.read.parquet(os.path.join(u.path, "state"))
        return {"stream_equals_batch": checksum(batch) == checksum(state),
                "one_batch_per_file": len(u.batches) == self.k_files}

    def scores(self, u: Unit) -> dict:
        """Scores of the current state, which includes resumed batches."""
        state = self.spark.read.parquet(os.path.join(u.path, "state"))
        return pairwise_scores(state.select(RID, CID).toPandas(), self.labels)

    def layer_metrics(self, u: Unit, tracer, py_cpu_s: float) -> dict:
        streamed = pd.read_parquet(self.links_dir)
        return {
            **self._cluster_metrics(u, tracer),
            "clustering.edges": int((streamed["Probability"] >= THRESHOLD).sum()),
            "checkpoint.bytes": dir_bytes(os.path.join(u.path, "chk")),
            "incremental.batch_s": statistics.median(u.batches),
            "incremental.state_rows": len(u.clusters),
            "incremental.state_bytes": u.state_bytes,
        }


WORKLOADS = {w.name: w for w in (BatchDedup, StreamMerge)}


def _write_links(df: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df[LINK_COLS], preserve_index=False),
                   path)
