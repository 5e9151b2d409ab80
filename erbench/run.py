"""Entity-resolution benchmark for easylink_spark.

    python3 erbench/run.py --workload batch_dedup --seed 1 --seconds 5 --trace 0

Run from the repository root.  Starts one local Spark session on
``local[<cores>]`` (cores = CPUs this process may run on), builds the
workload's inputs from ``--seed``, runs units of the workload until
``--seconds`` have passed (at least one), checks the outputs, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs an
untraced warm-up unit, then untraced, traced and untraced units, and
reports the per-layer metrics (see erbench/README.md).  A full record of every run
(host load, steal, sizes, all samples, checksums) is appended to
``erbench/_runs/runs.jsonl`` and echoed to stderr.  Exits 1 when an output
check fails, 2 when the package to benchmark is not found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_F1 = 0.99  # the north rule's pairwise-F1 floor
LAYERS = ("features", "blocking", "scoring", "clustering", "checkpoint",
          "incremental")
EVENT_FIELDS = ("shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "task_cpu_s", "tasks", "jobs")


def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json at the repository root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cores: int, trace: bool):
    """Session start plus warm-up: one Arrow job through Python, so the JVM
    has run a job and the Python worker pool exists."""
    from easylink_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("erbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1000, 1, cores).mapInPandas(
        lambda batches: (b + 1 for b in batches), "id long").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    from probes import descendants, wait_gone

    kids = descendants()
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        left = wait_gone(kids, timeout=30)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(left, timeout=10)


def _gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def measure(wl, seconds: float, record: dict) -> tuple[dict, dict]:
    """Untraced units until ``seconds`` have passed; end-to-end metrics."""
    from probes import percentile

    median = statistics.median

    units = []
    t0 = time.time()
    while not units or time.time() - t0 < seconds:
        units.append(wl.unit(f"u{len(units)}"))
    last = units[-1]
    resumes = [wl.resume(last, i) for i in range(wl.RESUMES)]
    resume_s = median([dt for dt, _same in resumes])
    resume_same = all(same for _dt, same in resumes)
    scores = wl.scores(last)
    batches = [b for u in units for b in u.batches]
    checks = {
        "f1_at_least_%.2f" % MIN_F1: scores["f1"] >= MIN_F1,
        "checksum_same_every_unit": len({u.checksum for u in units}) == 1,
        "resume_output_correct": resume_same,
        **wl.extra_checks(last),
    }
    e2e = median([u.wall for u in units])
    metrics = {
        "e2e_s": e2e,
        "turns_per_s": wl.turns / e2e,
        "pairwise_f1": scores["f1"],
        "cpu_s": median([u.cpu for u in units]),
        "write_amp": median([u.bytes_written / wl.input_bytes for u in units]),
        "resume_s": resume_s,
        "batch_p50_s": percentile(batches, 50),
        "batch_p90_s": percentile(batches, 90),
    }
    record.update(
        units=[{"wall": u.wall, "cpu": u.cpu, "batches": u.batches,
                "bytes_written": u.bytes_written, "checksum": u.checksum}
               for u in units],
        batch_samples=len(batches), scores=scores,
    )
    return metrics, checks


def measure_traced(wl, record: dict) -> tuple[dict, dict, tuple]:
    """Units: untraced warm-up, untraced, traced, untraced; per-layer
    metrics from the traced one.  The tracing overhead is measured against
    the mean of the two untraced units around it, which cancels the warm-up
    still going on over the first units of a fresh JVM.

    Returns (metrics, checks, event-log window); the event-log metrics are
    added after the session stops and the log is complete."""
    from probes import tree_cpu
    from tracing import Tracer, instrument

    spark = wl.spark
    warm = wl.unit("warm")
    before = wl.unit("untraced_before")
    tracer = Tracer(spark.sparkContext)
    gc0, cpu0 = _gc_seconds(spark), tree_cpu()
    with instrument(tracer) as comparator_cpu:
        t0 = time.time()
        traced = wl.unit("traced")
        t1 = time.time()
    gc1, cpu1 = _gc_seconds(spark), tree_cpu()
    after = wl.unit("untraced_after")
    metrics = dict.fromkeys(metric_units(trace=True), 0)
    metrics.update(wl.layer_metrics(traced, tracer, comparator_cpu.value))
    metrics.update({
        "jvm.gc_s": gc1 - gc0,
        "proc.cpu_jvm_s": cpu1["jvm"] - cpu0["jvm"],
        "proc.cpu_py_s": cpu1["py"] - cpu0["py"],
        "trace.overhead_s": traced.wall - (before.wall + after.wall) / 2,
    })
    scores = wl.scores(traced)
    checks = {
        "f1_at_least_%.2f" % MIN_F1: scores["f1"] >= MIN_F1,
        "traced_equals_untraced": len(
            {u.checksum for u in (warm, before, traced, after)}) == 1,
        **wl.extra_checks(traced),
    }
    with open(os.path.join(HERE, "_runs", f"spans-{record['workload']}-"
                           f"{record['seed']}-{int(t0)}.json"), "w") as f:
        json.dump(tracer.dump(), f)
    record.update(
        units={u.tag: {"wall": u.wall, "batches": u.batches,
                       "checksum": u.checksum}
               for u in (warm, before, traced, after)},
        scores=scores,
    )
    return metrics, checks, (t0 * 1e3, t1 * 1e3)


def event_metrics(work: str, window_ms) -> dict:
    from eventlog import summarize_file

    logdir = os.path.join(work, "eventlog")
    (name,) = os.listdir(logdir)

    def group_of(g: str | None) -> str:
        # unset: the async checkpoint writer threads; any other group than
        # a layer name is the stream execution's own (its run id)
        return g if g in LAYERS else "checkpoint" if g is None else "incremental"

    per_group = summarize_file(os.path.join(logdir, name), group_of=group_of,
                               window_ms=window_ms)
    return {f"{layer}.{f}": per_group.get(layer, {}).get(f, 0.0)
            for layer in LAYERS for f in EVENT_FIELDS}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "easylink_spark", "__init__.py")):
        print(f"erbench: no easylink_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from probes import HostSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"erbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(HERE, "_runs"), exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # the session helper's 8g default is sized for large corpora; with a
        # 1g cap the JVM's resident size stops drifting with G1 heap growth
        "SPARK_DRIVER_MEMORY": "1g",
        # contract validators cost extra jobs per stage; the benchmark checks
        # outputs itself (same setting as bench.py)
        "EASYLINK_VALIDATE": "0",
    })
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": cores, "seconds": args.seconds, "started": time.time(),
              "phase_s": {}}
    metrics: dict = {}
    checks: dict[str, bool] = {}
    error = None
    spark = None
    try:
        with HostSampler() as host:
            try:
                phases = record["phase_s"]
                t0 = time.time()
                spark = start_session(work, cores, bool(args.trace))
                setup_s = phases["setup"] = time.time() - t0
                wl = WORKLOADS[args.workload](spark, work, cores, args.seed)
                wl.prepare(resumes=0 if args.trace else wl.RESUMES)
                record.update(wl.info)
                phases["prepare"] = time.time() - t0 - setup_s
                if args.trace:
                    metrics, checks, window = measure_traced(wl, record)
                else:
                    metrics, checks = measure(wl, args.seconds, record)
            finally:
                t1 = time.time()
                if spark is not None:
                    stop_session(spark)
                phases["stop"] = time.time() - t1
        peak_mb = {kind: b / 2**20 for kind, b in host.peak_by_kind.items()}
        if args.trace:
            metrics.update(event_metrics(work, window))
            metrics["proc.peak_py_mb"] = peak_mb["py"]
        else:
            metrics.update(setup_s=setup_s, peak_jvm_mb=peak_mb["jvm"])
        record.update(host.stamp())
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = metric_units(bool(args.trace))
    # operations: every unit run and every output check; an exception
    # counts as one more failed operation
    failed = sum(not ok for ok in checks.values()) + (error is not None)
    attempted = len(record.get("units", ())) + len(checks) + (error is not None)
    correct = failed == 0
    record.update(checks=checks, error=error, correct=correct, metrics=metrics)
    with open(os.path.join(HERE, "_runs", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    print(json.dumps(record, default=str), file=sys.stderr)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit}
                    for k, unit in units.items() if k in metrics},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
