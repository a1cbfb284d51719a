"""Spans around calls into the library, and Spark's own stage metrics.

Nothing here reaches into ``phphll_spark``: a span brackets one call
from the benchmark and tags the Spark jobs it started with a job group,
so each span knows its job ids. Spans stay in memory and are written out
once, when the run ends. Stage metrics (task run time, GC, shuffle
writes) come from the local UI's REST API, which only the traced run
enables.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlsplit


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Times the block; yields the span id for use as a parent."""
        sid = len(self.spans)
        self.spans.append(None)  # reserve the id; filled in on exit
        group = f"perfbench-span-{sid}"
        outer = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            if outer is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(outer, outer)
            self.spans[sid] = {
                "id": sid,
                "name": name,
                "parent": parent,
                "start": start - self._t0,
                "end": end - self._t0,
                "jobs": sorted(self._sc.statusTracker().getJobIdsForGroup(group)),
            }

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def ladder_self_times(ladder: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each rung of a ladder of cumulative jobs: each rung
    does everything the previous rung did plus one layer, so its self
    time is its time minus the previous rung's. The first rung is its
    own self time. Noise can make a difference negative; it is reported
    as measured."""
    out, prev = {}, 0.0
    for name, seconds in ladder:
        out[name] = seconds - prev
        prev = seconds
    return out


def _stage_attempts(url: str) -> list[dict]:
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.load(r)
    except urllib.error.HTTPError as e:
        if e.code == 404:  # a stage the job skipped may never be listed
            return []
        raise


def stage_totals(spark, job_ids: list[int], timeout_s: float = 20.0) -> dict[str, float]:
    """Summed task run time, JVM GC time (ms) and shuffle-write bytes of
    every stage of the given jobs, read from the local UI REST API.

    The UI's listener lags the job's end, so poll until every stage that
    ran is reported complete."""
    sc = spark.sparkContext
    port = urlsplit(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    tracker = sc.statusTracker()
    stage_ids = sorted({s for j in job_ids for s in tracker.getJobInfo(j).stageIds})
    totals = {"run_ms": 0.0, "gc_ms": 0.0, "shuffle_write_bytes": 0.0}
    deadline = time.monotonic() + timeout_s
    for sid in stage_ids:
        while True:
            attempts = _stage_attempts(f"{base}/{sid}")
            if all(a["status"] in ("COMPLETE", "SKIPPED", "FAILED") for a in attempts):
                break
            if time.monotonic() > deadline:
                raise RuntimeError(f"stage {sid} still not complete in the UI after {timeout_s}s")
            time.sleep(0.2)
        for a in attempts:
            totals["run_ms"] += a.get("executorRunTime", 0)
            totals["gc_ms"] += a.get("jvmGcTime", 0)
            totals["shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
    return totals
