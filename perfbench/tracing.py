"""Benchmark-side tracing: spans around calls into the engine, each span
tagged as a Spark job group, and a parser that attributes the Spark
event log's task metrics back to those groups.

Spans live in memory (a list on the Tracer) and are written once, at the
end of the run. A span's group id is ``<name>#<n>``: the name is shared
by every call of the same layer, the suffix keeps one call's jobs apart
from the next one's. Nested spans tag their jobs with the innermost
group, so a parent's Spark totals are the sum over its children plus
its own untagged-by-children jobs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """Times named calls; when ``tag_jobs`` is set, also tags their Spark
    jobs with a job group. With ``tag_jobs`` off it costs two clock reads
    per span and records nothing in Spark."""

    def __init__(self, spark, tag_jobs: bool):
        self.sc = spark.sparkContext
        self.tag_jobs = tag_jobs
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._count: dict[str, int] = defaultdict(int)

    @contextlib.contextmanager
    def span(self, name: str):
        n = self._count[name]
        self._count[name] += 1
        group = f"{name}#{n}"
        parent = self._stack[-1] if self._stack else None
        prev = self.sc.getLocalProperty(_GROUP_PROP) if self.tag_jobs else None
        if self.tag_jobs:
            self.sc.setJobGroup(group, name)
        self._stack.append(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if self.tag_jobs:
                if prev is None:
                    self.sc.setLocalProperty(_GROUP_PROP, None)
                else:
                    self.sc.setJobGroup(prev, prev.split("#", 1)[0])
            self.spans.append({"group": group, "name": name,
                               "parent": parent, "start": t0, "end": t1})


_METRIC_KEYS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "output_bytes", "output_records")


def _empty() -> dict:
    return dict.fromkeys(_METRIC_KEYS, 0)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group (None for untagged jobs): jobs, tasks, executor run
    and CPU time, GC time, shuffle bytes read/written, bytes spilled to
    disk, and output bytes/records, summed over the group's tasks."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str | None, dict] = defaultdict(_empty)
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                group = (ev.get("Properties") or {}).get(_GROUP_PROP)
                job_group[job] = group
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                g = out[job_group.get(job)]
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                om = m.get("Output Metrics") or {}
                g["output_bytes"] += om.get("Bytes Written", 0)
                g["output_records"] += om.get("Records Written", 0)
    return dict(out)


def by_name(groups: dict[str, dict]) -> dict[str, dict]:
    """Fold per-call groups (``name#n``) into per-name totals."""
    out: dict[str, dict] = {}
    for group, stats in groups.items():
        if group is None:
            continue
        agg = out.setdefault(group.split("#", 1)[0], _empty())
        for k in _METRIC_KEYS:
            agg[k] += stats[k]
    return out


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}
