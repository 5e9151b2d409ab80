"""Session start from a class-data-sharing archive (``session.get_spark``).

Each case that starts a JVM does so in a fresh process, with the archive
cache in a temp dir (``XDG_CACHE_HOME``) and a 1g driver heap."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from easylink_spark import session

ROOT = str(pathlib.Path(__file__).resolve().parents[1])

# one job, then what the launch chose; the test reads the tagged lines
_JOB = """
import os
from easylink_spark.session import _maps_archive, get_spark
s = get_spark("cds_probe", cores=1)
conf = s.sparkContext.getConf()
print("SHARED", _maps_archive(s))
print("OPTS", conf.get("spark.driver.defaultJavaOptions", "-"))
print("CONF_DIR", os.environ.get("SPARK_CONF_DIR", "-"))
print("PROBE", conf.get("spark.easylink.probe", "-"))
print("SUM", s.range(100).selectExpr("sum(id)").collect()[0][0])
"""

# one job through Python workers: the process then has an accumulator
# server, which must be down before the exit stops the JVM
_ARROW_JOB = _JOB + """
print("ARROW", s.range(10).mapInPandas(
    lambda bs: (b + 1 for b in bs), "id long").count())
"""

# a JVM started to dump its classes is killed at exit: stdin closed, then
# SIGKILL; the build's promotion step then sees its exit code
_KILLED = """
import os, signal, sys, time
from pyspark import SparkContext
from easylink_spark import session
part, archive = sys.argv[1:]
s = session.get_spark("cds_probe", cores=1, extra_conf={
    "spark.driver.defaultJavaOptions":
        f"-XX:ArchiveClassesAtExit={part} {session._CDS_LOG}"})
print("SUM", s.range(100).selectExpr("sum(id)").collect()[0][0])
gateway = SparkContext._gateway
gateway.proc.stdin.close()
time.sleep(0.5)
os.kill(gateway.proc.pid, signal.SIGKILL)
session._promote(gateway, part, archive)
"""


def _conf_dir_is_empty() -> bool:
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    return not os.path.isdir(conf) or all(
        n.endswith(".template") for n in os.listdir(conf))


needs_cds = pytest.mark.skipif(
    not _conf_dir_is_empty() or session._cds_key(_find_spark_home()) is None,
    reason="Spark conf dir holds config files, or no JDK / Spark jars found")


def _run(script: str, cache: pathlib.Path, *args: str,
         **env_over) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_SUBMIT",
                        "SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env.update(PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_DRIVER_MEMORY="1g", XDG_CACHE_HOME=str(cache), **env_over)
    out = subprocess.run([sys.executable, "-c", script, *args], env=env, cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    # the JVM shares stdout: a dump or a rejected archive must not print
    assert not [ln for ln in lines if "[cds" in ln or "[warning]" in ln], lines
    tags = dict(ln.split(" ", 1) for ln in lines if " " in ln)
    assert tags["SUM"] == "4950"
    tags["STDERR"] = out.stderr
    return tags


def _cds(cache: pathlib.Path) -> pathlib.Path:
    return cache / "easylink_spark" / "cds"


@needs_cds
def test_cold_process_builds_archive_warm_process_maps_it(tmp_path):
    """A miss starts normally and, at exit, builds exactly one
    ``<key>.jsa`` in another process; other keys' archives and old build
    dirs are dropped.  The next process starts from the archive.  The
    miss exits without a traceback, after a job through Python workers."""
    cache = tmp_path / "cache"
    cds = _cds(cache)
    (cds / "0ldkey.build").mkdir(parents=True)
    (cds / "0ldkey.jsa").write_bytes(b"old")
    cold = _run(_ARROW_JOB, cache)
    key = session._cds_key(_find_spark_home())
    assert cold["ARROW"] == "10"
    assert "Traceback" not in cold["STDERR"], cold["STDERR"][-2000:]
    assert cold["OPTS"] == "-"
    assert cold["CONF_DIR"] == "-"
    assert {p.name for p in cds.iterdir()} == {"conf", f"{key}.jsa"}
    assert not list((cds / "conf").iterdir())
    built = (cds / f"{key}.jsa").stat()
    warm = _run(_JOB, cache)
    assert warm["OPTS"].startswith(f"-XX:SharedArchiveFile={cds}/{key}.jsa ")
    assert warm["SHARED"] == "True"
    assert warm["CONF_DIR"] == "-"  # restored after the launch
    assert {p.name for p in cds.iterdir()} == {"conf", f"{key}.jsa"}
    kept = (cds / f"{key}.jsa").stat()  # a valid hit keeps its archive
    assert (kept.st_ino, kept.st_mtime_ns) == (built.st_ino, built.st_mtime_ns)


@needs_cds
def test_garbage_archive_or_unwritable_cache_starts_normally(tmp_path):
    """A rejected archive gives a normal start and is gone after the
    process exits, or replaced by one the next process maps."""
    cache = tmp_path / "cache"
    cds = _cds(cache)
    cds.mkdir(parents=True)
    key = session._cds_key(_find_spark_home())
    archive = cds / f"{key}.jsa"
    archive.write_bytes(os.urandom(1 << 20))
    out = _run(_JOB, cache)
    assert "-XX:SharedArchiveFile=" in out["OPTS"]
    assert out["SHARED"] == "False"
    if archive.exists():
        assert _run(_JOB, cache)["SHARED"] == "True"
    # a regular file where the cache directory should be
    blocked = tmp_path / "not_a_dir"
    blocked.write_text("")
    assert _run(_JOB, blocked)["OPTS"] == "-"


@needs_cds
def test_killed_jvm_leaves_no_archive(tmp_path):
    build = tmp_path / "k.build"
    build.mkdir()
    (tmp_path / "conf").mkdir()
    archive = tmp_path / "k.jsa"
    _run(_KILLED, tmp_path, str(build / "archive.part"), str(archive),
         SPARK_CONF_DIR=str(tmp_path / "conf"))
    assert not archive.exists()
    assert not list(build.iterdir())


def test_conf_dir_with_config_gets_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.easylink.probe on\n")
    cache = tmp_path / "cache"
    out = _run(_JOB, cache, SPARK_CONF_DIR=str(conf))
    assert out["OPTS"] == "-"
    assert out["CONF_DIR"] == str(conf)
    assert out["PROBE"] == "on"  # the launcher read the caller's conf dir
    assert not cache.exists()


def test_session_with_running_gateway_leaves_cache_alone(
        spark, tmp_path, monkeypatch):
    """A second ``get_spark`` in a process whose JVM is up neither touches
    the cache nor sets ``SPARK_CONF_DIR``."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session._cds_paths({}) is None
    again = session.get_spark("easylink_spark_tests", cores=8,
                              shuffle_partitions=8)
    assert again.sparkContext is spark.sparkContext
    assert not list(tmp_path.iterdir())
    assert "SPARK_CONF_DIR" not in os.environ


def test_classpath_inputs_get_no_archive(tmp_path, monkeypatch):
    """Any input that changes the launcher's classpath or the caller's own
    JVM options means a normal start; so the key implies the classpath."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    for k in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT",
              *session._CLASSPATH_ENV):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    if not _conf_dir_is_empty() or session._cds_key(_find_spark_home()) is None:
        pytest.skip("Spark conf dir holds config files, or no JDK / jars")
    assert session._cds_paths({}) is not None
    for k in session._CLASSPATH_CONF:
        assert session._cds_paths({k: "/x"}) is None
    for k in session._CLASSPATH_ENV:
        monkeypatch.setenv(k, "/x")
        assert session._cds_paths({}) is None
        monkeypatch.delenv(k)
