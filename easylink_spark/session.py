"""SparkSession construction tuned for this engine.

The engine targets multi-executor clusters (spark-submit --py-files); in the
sandbox we run local[N].  All settings here are scale-oriented defaults:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow on (every comparator UDF is a vectorized pandas UDF),
- UTC session timezone (oracle comparisons against DuckDB),
- one wave of tasks by default: shuffle partitions equal the default
  parallelism (the cores; AQE coalesces below that).  CPU-heavy operators
  take an explicit ``partitions=`` count, ``None`` meaning the default
  parallelism; callers that want a wider session pass
  ``shuffle_partitions=``,
- a codegen cache of 1000 classes: one ``run_dedup`` compiles ~140, above
  Spark's default of 100, so a long-lived session would recompile them on
  every run.

Session start from a class-data-sharing archive.  A cold JVM spends most of
its start loading and verifying Spark's classes.  When this process is the
one that launches the driver JVM (no gateway yet, no
``PYSPARK_GATEWAY_PORT``), nothing else shapes its classpath or options (no
caller ``spark.driver.defaultJavaOptions`` or ``spark.driver.extraClassPath``,
no ``SPARK_DIST_CLASSPATH`` or ``PYSPARK_SUBMIT_ARGS``) and the Spark conf
dir (``SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) is missing or holds only
``*.template`` files, the JVM can start from a JDK dynamic CDS archive
(JEP 350) kept in ``${XDG_CACHE_HOME:-~/.cache}/easylink_spark/cds/<key>.jsa``.
The key hashes the JDK (real path of ``JAVA_HOME`` and its ``release`` file),
the real path of ``$SPARK_HOME/jars`` and the name, size and mtime of every
jar in it, so a key match means the same classpath.  The JVM maps no archive
while a non-empty directory is on its classpath, so a launch from the
archive points ``SPARK_CONF_DIR`` at an empty directory in the cache; the
launcher reads no template, so nothing changes.

- Hit: the JVM maps ``<key>.jsa`` (``-XX:SharedArchiveFile``).
- Miss: the JVM starts normally, as if there were no cache, so the process
  costs what it did before (no dump at stop, no dump memory).  At interpreter
  exit the process stops its JVM, deletes other keys' archives and old build
  dirs, and runs one more process that starts a JVM with
  ``-XX:ArchiveClassesAtExit``, runs the jobs every session runs (an Arrow
  job through Python workers, a parquet round trip, a shuffle join and
  aggregation) and stops it.  That process renames the dumped file to
  ``<key>.jsa`` only if its JVM exited with code 0: a truncated archive
  crashes the JVM that maps it.  The build takes ~25 s, once per host, after
  the first process's own work is done; its output goes nowhere.
- Rejected: the JVM starts normally from an archive it cannot map (a
  garbage file).  The process reads the JVM's ``UseSharedSpaces`` flag
  after the launch; if it is off, it deletes ``<key>.jsa`` and builds a new
  one at exit, as on a miss.
- Fallback: an unwritable cache, a non-empty conf dir or any of the inputs
  above give a normal start.

The JVM's CDS log is off, so a rejected archive prints nothing to stdout.
Delete the cache directory to clear the archive; the next process rebuilds
it.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_CDS_LOG = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# seconds to wait for a JVM to stop, and for the whole archive build
_STOP_WAIT_S = 120
_BUILD_WAIT_S = 600
# a caller's own JVM options, or classpath inputs beyond the conf dir and
# $SPARK_HOME/jars, mean a normal start: the key covers neither
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "PYSPARK_SUBMIT_ARGS")
_CLASSPATH_CONF = ("spark.driver.defaultJavaOptions",
                   "spark.driver.extraClassPath")


def _cds_key(spark_home: str) -> str | None:
    """Hash of the JDK and the Spark jars the launcher puts on the
    classpath; None when either cannot be found."""
    java = os.environ.get("JAVA_HOME")
    if not java:
        on_path = shutil.which("java")
        if not on_path:
            return None
        java = os.path.dirname(os.path.dirname(os.path.realpath(on_path)))
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    if not os.path.isdir(jars):
        return None
    h = hashlib.sha256(f"{os.path.realpath(java)}\0{jars}".encode())
    try:
        with open(os.path.join(java, "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _cds_paths(extra_conf: dict[str, str]) -> tuple[str, str] | None:
    """(archive, empty conf dir) for a JVM this process is about to launch
    that can map an archive; None when it starts normally either way."""
    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or any(k in os.environ for k in _CLASSPATH_ENV)
            or any(k in extra_conf for k in _CLASSPATH_CONF)):
        return None
    spark_home = _find_spark_home()
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(spark_home, "conf"))
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "easylink_spark", "cds")
    empty_conf = os.path.join(cache, "conf")
    try:
        if os.path.isdir(conf_dir) and not all(
                n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        key = _cds_key(spark_home)
        if key is None:
            return None
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    archive = os.path.join(cache, f"{key}.jsa")
    if not os.path.isfile(archive) and not os.access(cache, os.W_OK):
        return None
    return archive, empty_conf


def _maps_archive(spark: SparkSession) -> bool:
    """Whether the driver JVM runs from a class-data-sharing archive; it
    starts normally, and silently, from one it rejects."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))
    return bean.getVMOption("UseSharedSpaces").getValue() == "true"


def _stop_jvm(gateway) -> int | None:
    """Close the gateway and wait for its JVM; its exit code, or None if it
    is still running after the wait."""
    proc = gateway.proc
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # the JVM may already be gone
        pass
    proc.stdin.close()
    try:
        return proc.wait(timeout=_STOP_WAIT_S)
    except subprocess.TimeoutExpired:
        return None


def _promote(gateway, part: str, archive: str) -> None:
    """Stop the dumping JVM and publish its archive only if it exited with
    code 0; otherwise drop the partial file."""
    code = _stop_jvm(gateway)
    if code is None:
        return  # still dumping: the caller removes its build dir
    try:
        if code == 0:
            os.replace(part, archive)
        else:
            os.remove(part)
    except OSError:  # the JVM wrote no archive
        pass


def _dump(build: str, archive: str) -> None:
    """Body of the archive-building process: a JVM that dumps its classes at
    exit runs the jobs every session runs, then stops."""
    from pyspark.sql import functions as F

    part = os.path.join(build, "archive.part")
    spark = get_spark("easylink_spark_cds", cores=2, extra_conf={
        "spark.driver.defaultJavaOptions":
            f"-XX:ArchiveClassesAtExit={part} {_CDS_LOG}"})
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(build, "warmup")
    spark.range(0, 1000, 1, 2).mapInPandas(
        lambda batches: (b + 1 for b in batches), "id long"
    ).write.parquet(path)
    t = spark.read.parquet(path)
    t.join(t.withColumn("g", F.col("id") % 7), "id").groupBy("g").count(
    ).collect()
    spark.stop()
    _promote(SparkContext._gateway, part, archive)


def _build_at_exit(gateway, archive: str, empty_conf: str) -> None:
    """Stop this process's JVM, then build the archive in a fresh process
    (see the module docstring)."""
    # first the context: its accumulator server would read EOF from the
    # stopped JVM's socket and print the EOFError
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    if _stop_jvm(gateway) is None:
        return
    cache = os.path.dirname(archive)
    try:
        for path in glob.glob(os.path.join(cache, "*.jsa")):
            if path != archive:
                os.remove(path)
        for path in glob.glob(os.path.join(cache, "*.build")):
            shutil.rmtree(path, ignore_errors=True)
        build = tempfile.mkdtemp(suffix=".build", dir=cache)
    except OSError:
        return
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_MASTER", "SPARK_SUBMIT", "SPARK_GRAFT_CPUS")}
    env.update(SPARK_CONF_DIR=empty_conf, SPARK_DRIVER_MEMORY="1g",
               SPARK_LOCAL_DIRS=build, TMPDIR=build)
    try:
        subprocess.run(
            [sys.executable, "-c",
             "from easylink_spark.session import _dump; "
             f"_dump({build!r}, {archive!r})"],
            env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=_BUILD_WAIT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(build, ignore_errors=True)


def get_spark(
    app_name: str = "easylink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``.  On a real cluster, callers pass no
    master at all via spark-submit; this helper only sets a master when one
    is not already configured.
    """
    # Ensure the package root is importable by executor Python workers
    # (pickled UDF closures reference easylink_spark modules); on a real
    # cluster this is spark-submit --py-files, locally it's PYTHONPATH.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    # One wave of tasks per core.  Four waves amortize a stage's slowest
    # task, but at the engine's usual sizes the fixed cost of the extra
    # tasks (and of the files each writes) is what a run pays for.  Without
    # a known core count the width is set after the session starts, from
    # the default parallelism the master reports.
    n_shuffle = shuffle_partitions or cores

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ER stage outputs are byte-small but CPU-heavy (text, per-row cost
        # scales with rows not bytes).  AQE's default 1 MB minPartitionSize
        # coalesces them to ONE partition, serializing every downstream
        # compute + parquet encode — the measured serial bottleneck of the
        # round-1 scaling run.  A 16 KB floor keeps parallelismFirst's
        # bytes/defaultParallelism target in charge instead.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        # count()-only stage statistics come from parquet footers, not scans
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Always use the sort-based shuffle writer (round 6).  Below the
        # default bypassMergeThreshold (200) Spark's bypass-merge writer
        # opens ONE FILE PER REDUCE PARTITION PER MAP TASK; at a 4x-cores
        # shuffle width that is map_tasks x partitions file
        # creates per shuffle — measured ~0.2 ms/block = 3.4 s of pure
        # filesystem overhead for a 40 KB repartition at local[32]/128
        # (guide §2.2: block count grows quadratically).  The sort writer
        # emits one spill file per map task regardless of partition count
        # (same 40k-row shuffle: 0.28 s; a 10M-row shuffle is equally fast).
        # On a real cluster shuffle.partitions exceeds 200 and the bypass
        # path never triggers, so this setting only removes the local /
        # small-width pathology; it does not change cluster behavior.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Comparator UDFs ship wide text batches over Arrow; keep batches
        # bounded so executor Python memory stays flat at scale.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if n_shuffle:
        builder = (
            builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
            .config("spark.default.parallelism", str(n_shuffle))
        )
    # Only force a master when none is configured (spark-submit sets one).
    if not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT" not in os.environ:
        builder = builder.master(master)
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    cds = _cds_paths(extra_conf)
    hit = cds is not None and os.path.isfile(cds[0])
    if hit:
        archive, empty_conf = cds
        builder = builder.config(
            "spark.driver.defaultJavaOptions",
            f"-XX:SharedArchiveFile={archive} {_CDS_LOG}")
        conf_env = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = empty_conf
        try:
            spark = builder.getOrCreate()
        finally:
            if conf_env is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = conf_env
    else:
        spark = builder.getOrCreate()
    if cds is not None and not (hit and _maps_archive(spark)):
        if hit:  # rejected: drop it so that this process's exit rebuilds it
            try:
                os.remove(cds[0])
            except OSError:
                pass
        atexit.register(_build_at_exit, SparkContext._gateway, *cds)
    # local[*] or a spark-submit master: match the width to the parallelism
    # unless the submitter chose one (Spark's own default is 200)
    if not n_shuffle and not spark.sparkContext.getConf().contains(
        "spark.sql.shuffle.partitions"
    ):
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    return spark
