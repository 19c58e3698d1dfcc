"""Spans around the benchmark's calls into each engine module, plus the
Spark counters of the jobs those calls ran.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run id)
and, while a span is open, tags the Spark jobs it launches with
``setJobGroup(<span id>)``. At the end of a run :meth:`Tracer.layer_counters`
reads the Spark UI's REST API (``/jobs`` and ``/stages``) and adds each
executed stage's counters to the layer whose span launched it. Jobs that
carry another group (Structured Streaming tags its own) go to the
innermost span open when they were submitted.

The :class:`NullTracer` has the same interface and does nothing, so the
untraced run times the same code path without tracing cost.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.request
import uuid
from collections import defaultdict
from contextlib import contextmanager

# The engine's modules, as layers. Spark counters are reported per layer.
LAYERS = [
    "session",
    "ids",
    "extraction",
    "pagerank",
    "components",
    "communities",
    "triangles",
    "checkpointing",
    "incremental",
]

SPARK_COUNTERS = [
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "executor_run_s",
    "failed_tasks",
]

_MB = 1024.0 * 1024.0


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, layer: str, name: str = ""):
        yield None

    def attach(self, spark) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, layer: str, name: str = ""):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "layer": layer,
            "name": name or layer,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1]["id"] if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def self_seconds(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's."""
        child_time: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return out

    def layer_counters(self) -> dict[str, dict[str, float]]:
        """Sum the executed stages' counters per layer (REST API)."""
        out = {layer: dict.fromkeys(SPARK_COUNTERS, 0.0) for layer in LAYERS}
        if self._sc is None or not self.spans:
            return out
        base = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        jobs = _get_json(f"{base}/jobs")
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in _get_json(f"{base}/stages")
        }
        by_id = {s["id"]: s for s in self.spans}
        attempts_of: dict[int, list] = defaultdict(list)
        for key, s in stages.items():
            attempts_of[key[0]].append(s)
        counted: set[int] = set()
        # a later job lists the shuffle stages it reuses too: count each
        # stage once, for the first job that lists it
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            new_stages = set(job["stageIds"]) - counted
            counted |= new_stages
            span = by_id.get(job.get("jobGroup")) or self._span_at(
                _epoch(job.get("submissionTime"))
            )
            if span is None:
                continue
            c = out[span["layer"]]
            c["jobs"] += 1
            for sid in new_stages:
                for st in attempts_of.get(sid, []):
                    if st["status"] == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.get("numCompleteTasks", 0) + st.get(
                        "numFailedTasks", 0
                    )
                    c["failed_tasks"] += st.get("numFailedTasks", 0)
                    c["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / _MB
                    c["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / _MB
                    c["spill_mb"] += (
                        st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    ) / _MB
                    c["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
                    c["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
        return out

    def _span_at(self, t: float | None) -> dict | None:
        if t is None:
            return None
        inner = None
        for s in self.spans:
            if s["start"] <= t <= s["end"]:
                if inner is None or s["start"] >= inner["start"]:
                    inner = s
        return inner

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans, "metrics": metrics}, f
            )


def ui_conf(port: int) -> dict[str, str]:
    """Session settings for a traced run: the UI (and its REST API) on,
    with enough retained jobs and stages to cover a whole run."""
    return {
        "spark.ui.enabled": "true",
        "spark.ui.port": str(port),
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "100",
    }


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def _epoch(stamp: str | None) -> float | None:
    # REST timestamps look like 2024-01-02T03:04:05.678GMT
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()
