"""Spans around the benchmark's own calls into the program, and the
Spark jobs and stages each span launched.

A span is (id, name, start, end, parent, op). While a span is open its
id is the ``spark.job.description`` of the calling thread, so every job
submitted under it carries the tag; the program sets no job
descriptions of its own. A streaming query runs its micro-batches
under its run id as job group (and with a description of its own), so
the run id is registered with the span that started the query. After
a pass, the listener bus is drained and the jobs and stages are read
from the Spark UI's REST API (``/api/v1``): a job belongs to the span
its tag or its group names, however late its start event is processed.
Tracing needs the UI and is therefore switched on only in a traced run.

With tracing off, ``NullTracer`` keeps the same interface and records
nothing, so the untraced run pays only a context-manager call per span.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request

TAG = "perfbench-span-"
DESCRIPTION = "spark.job.description"


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        yield

    def add_group(self, group: str) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[dict] = []
        self.groups: dict[str, int] = {}
        self._stack: list[int] = []

    def add_group(self, group: str) -> None:
        """Give the jobs run under job group ``group`` (a streaming
        query's run id) to the innermost open span."""
        self.groups[group] = self._stack[-1]

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "op": op if op is not None else (
                self.spans[parent]["op"] if parent is not None else None
            ),
            "start": time.perf_counter(),
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        outer = self.sc.getLocalProperty(DESCRIPTION)
        self.sc.setLocalProperty(DESCRIPTION, f"{TAG}{s['id']}")
        try:
            yield s
        finally:
            self.sc.setLocalProperty(DESCRIPTION, outer)
            s["end"] = time.perf_counter()
            self._stack.pop()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the status store (and the REST API that reads it)
        holds every job and stage that has run."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def rest(self, path: str):
        with urllib.request.urlopen(f"{self.url}/{path}", timeout=30) as r:
            return json.loads(r.read())


def assign_jobs(jobs: list[dict], groups: dict[str, int]) -> dict[int, list[int]]:
    """Job ids per span id, from REST job records: a job tagged with a
    span's description belongs to that span, else a job run under a
    registered group to the group's span. Untagged jobs are left out
    (under key -1)."""
    out: dict[int, list[int]] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        desc = j.get("description") or ""
        if desc.startswith(TAG) and desc[len(TAG):].isdigit():
            span = int(desc[len(TAG):])
        else:
            span = groups.get(j.get("jobGroup"), -1)
        out.setdefault(span, []).append(j["jobId"])
    return out


def stage_totals(stages: list[dict], stage_ids: set[int]) -> dict[str, float]:
    """Sum the REST stage metrics of the completed attempts of
    ``stage_ids`` (skipped stages ran no tasks and are not counted)."""
    keys = {
        "executorRunTime": 1e-3,  # ms -> s
        "executorCpuTime": 1e-9,  # ns -> s
        "executorDeserializeTime": 1e-3,
        "jvmGcTime": 1e-3,
        "inputBytes": 1.0,
        "inputRecords": 1.0,
        "shuffleReadBytes": 1.0,
        "shuffleWriteBytes": 1.0,
        "memoryBytesSpilled": 1.0,
        "diskBytesSpilled": 1.0,
        "numCompleteTasks": 1.0,
    }
    tot = dict.fromkeys(keys, 0.0)
    tot["stages"] = 0.0
    for st in stages:
        if st["stageId"] not in stage_ids or st["status"] != "COMPLETE":
            continue
        tot["stages"] += 1
        for k, scale in keys.items():
            tot[k] += st.get(k, 0) * scale
    return tot
