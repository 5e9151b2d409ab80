"""Spark event-log parser: task metrics summed per job group.

The traced run sets the Spark job group (``spark.jobGroup.id``) to the
layer name of the span that submits each job, so summing task metrics by
job group attributes shuffle, spill and CPU to layers.  Needs an
uncompressed log (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable

FIELDS = ("jobs", "tasks", "task_cpu_s", "shuffle_write_mb",
          "shuffle_read_mb", "spill_mb")
_MB = float(2**20)


def summarize(
    lines: Iterable[str],
    group_of: Callable[[str | None], str] = lambda g: g or "none",
    window_ms: tuple[float, float] | None = None,
) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group.

    ``group_of`` maps a job's ``spark.jobGroup.id`` (``None`` when unset)
    to the reported group name.  ``window_ms`` keeps only jobs submitted in
    ``[start, end]`` (epoch milliseconds); tasks of stages that belong to no
    kept job are ignored.  A stage listed by several jobs counts for the
    first one.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(FIELDS, 0.0))

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            submitted = ev.get("Submission Time", 0)
            if window_ms and not window_ms[0] <= submitted <= window_ms[1]:
                continue
            props = ev.get("Properties") or {}
            group = group_of(props.get("spark.jobGroup.id"))
            acc(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            write = m.get("Shuffle Write Metrics") or {}
            g = acc(group)
            g["tasks"] += 1
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["shuffle_write_mb"] += write.get("Shuffle Bytes Written", 0) / _MB
            g["shuffle_read_mb"] += (
                read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            ) / _MB
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
    return out


def summarize_file(path: str, **kw) -> dict[str, dict[str, float]]:
    """``summarize`` over one event-log file, or over the ``events_*``
    files of a rolling event-log directory in order."""
    if not os.path.isdir(path):
        with open(path) as f:
            return summarize(f, **kw)
    parts = sorted(
        (f for f in os.listdir(path) if f.startswith("events_")),
        key=lambda f: int(f.split("_")[1]),
    )

    def lines():
        for part in parts:
            with open(os.path.join(path, part)) as f:
                yield from f

    return summarize(lines(), **kw)
