"""Task counts: a session without a known core count runs one wave, and
the CPU-heavy operators' rows do not depend on the task count they are
given."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from easylink_spark.operators import blocking as B
from easylink_spark.operators import scoring as S
from easylink_spark.operators.features import conversation_features, text_views
from easylink_spark.synth import synth_transcripts

_PROBE = """
from easylink_spark.session import get_spark
# no class-data-sharing archive: the probe must not build the user's cache
s = get_spark("width_probe",
              extra_conf={"spark.driver.defaultJavaOptions": "-Xshare:auto"})
print("ONE_WAVE", s.conf.get("spark.sql.shuffle.partitions"),
      s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.codegen.cache.maxEntries"))
s.stop()
s = get_spark("width_probe", extra_conf={"spark.sql.shuffle.partitions": "3"})
print("CHOSEN", s.conf.get("spark.sql.shuffle.partitions"))
s.stop()
"""


def test_session_without_cores_matches_width_to_parallelism():
    """``get_spark()`` with no core count (``local[*]``, or the master a
    spark-submit gives) sets the shuffle width to the default parallelism,
    not Spark's 200, and keeps a width the submitter chose.  Runs in a
    fresh process: the test session already has its width."""
    root = str(pathlib.Path(__file__).resolve().parents[1])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_SUBMIT")}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([sys.executable, "-c", _PROBE], env=env, cwd=root,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = {ln.split()[0]: ln.split()[1:] for ln in out.stdout.splitlines()
             if ln.startswith(("ONE_WAVE", "CHOSEN"))}
    width, parallelism, codegen_cache = lines["ONE_WAVE"]
    assert width == parallelism
    assert codegen_cache == "1000"
    assert lines["CHOSEN"] == ["3"]


@pytest.fixture(scope="module")
def records(spark):
    t = synth_transcripts(spark, n_entities=60, seed=9).drop("entity_id")
    recs = text_views(
        conversation_features(t, "transcripts", 24, validate=False)).cache()
    yield recs
    recs.unpersist()


def test_minhash_lsh_pairs_independent_of_partitions(records):
    runs = [
        sorted(B.block_minhash_lsh(records, "full_text_norm",
                                   partitions=n).collect())
        for n in (1, 4, 16)
    ]
    assert runs[0]
    assert runs[0] == runs[1] == runs[2]


def test_score_pairs_links_independent_of_partitions(records):
    pairs = B.block_on_key(records, F.col("first_prefix")).cache()
    runs = [
        sorted(S.score_pairs(pairs, records, prior=0.01, threshold=0.85,
                             validate=False, expensive_cols={"turn_texts"},
                             partitions=n).collect())
        for n in (1, 4, 16)
    ]
    pairs.unpersist()
    assert runs[0]
    assert runs[0] == runs[1] == runs[2]
