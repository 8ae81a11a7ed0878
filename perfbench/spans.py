"""Spans around the package's public calls, recorded from outside.

Only the traced run (``--trace 1``) installs these wrappers; the timing
runs call the package untouched. A wrapper replaces a function on the
module the caller looks it up on (for ``run_indicator_mart`` that is
``plans.pipeline``, which imported its helpers by name), records a
span (name, start, end, parent, unit) and tags the Spark jobs it
launches with ``setJobGroup(<span id>)``. Spans stay in memory and are
written out when the run ends.

Engine metrics come from the Spark event log, read after the session
stops: each job is charged to the span whose job group it carries, or,
for jobs started on the stream-execution thread (which has no group),
to the deepest span open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Span recorder. ``unit`` labels what the spans belong to: a
    set-up repetition (``setup:<n>``), the warm-up, or one timed op
    (``op:<n>``)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.unit = "session"

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def _tag(self, idx: int | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        if idx is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(str(idx), self.spans[idx]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.stack[-1] if self.stack else None,
            "unit": self.unit,
        }
        self.spans.append(rec)
        self.stack.append(idx)
        self._tag(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self._tag(self.stack[-1] if self.stack else None)

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Replace ``module.attr`` by a spanned call. ``after(rec,
        result, args, kwargs)`` may add counts to the span record; it
        runs after the span has closed, so its cost is not charged."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                after(rec, result, args, kwargs)
            return result

        setattr(module, attr, traced)

    def self_time(self, idx: int) -> float:
        rec = self.spans[idx]
        child = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == idx
        )
        return rec["end"] - rec["start"] - child

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def files_under(path: str, since: float) -> tuple[int, int, int]:
    """(data files, bytes, partition directories) written under
    ``path`` at or after ``since``."""
    files = size = 0
    dirs = set()
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(root, n)
            st = os.stat(p)
            if st.st_mtime >= since - 0.05:  # mtime uses the coarse clock
                files += 1
                size += st.st_size
                dirs.add(root)
    return files, size, len(dirs)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_names(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for c in info.get("children", ()):
        _plan_metric_names(c, out)


def read_event_log(log_dir: str) -> list[dict]:
    """One record per job: submission time, job group, SQL execution
    and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    acc_names: dict[int, str] = {}
    exec_files: dict[int, int] = defaultdict(int)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "exec": props.get("spark.sql.execution.id"),
                        "stages": set(),
                        "tasks": 0,
                        "cpu_ns": 0,
                        "gc_ms": 0,
                        "shuffle_read": 0,
                        "shuffle_write": 0,
                        "spill": 0,
                        "peak_mem": 0,
                        "in_bytes": 0,
                        "in_records": 0,
                        "out_records": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    job["peak_mem"] = max(job["peak_mem"], m.get("Peak Execution Memory", 0))
                    im = m.get("Input Metrics", {})
                    job["in_bytes"] += im.get("Bytes Read", 0)
                    job["in_records"] += im.get("Records Read", 0)
                    job["out_records"] += m.get("Output Metrics", {}).get("Records Written", 0)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_names(ev["sparkPlanInfo"], acc_names)
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev["accumUpdates"]:
                        if acc_names.get(acc_id) == "number of files read":
                            exec_files[ev["executionId"]] += value
    # charge each execution's files to its first job only
    seen = set()
    for jid in sorted(jobs):
        job = jobs[jid]
        ex = job["exec"]
        job["files_read"] = 0
        if ex is not None and ex not in seen:
            seen.add(ex)
            job["files_read"] = exec_files.get(int(ex), 0)
    return list(jobs.values())


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """Span index -> the jobs charged to it."""
    by_span: dict[int, list[dict]] = defaultdict(list)
    order = sorted(range(len(tracer.spans)), key=lambda i: tracer.spans[i]["start"])
    for job in jobs:
        idx = None
        if job["group"] is not None and job["group"].isdigit():
            idx = int(job["group"])
        else:
            for i in order:
                s = tracer.spans[i]
                if s["start"] <= job["submit"] <= (s["end"] or float("inf")):
                    idx = i  # later-starting containing span is deeper
        by_span[-1 if idx is None else idx].append(job)
    return by_span
