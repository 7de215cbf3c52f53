"""Spans around the benchmark's calls into each layer, plus Spark's own
task metrics for the jobs each span started.

A span records its name, its parent, start and end. Every span tags
the jobs it starts with ``SparkContext.setJobGroup``; after the traced
pass, Spark's status REST API (on only in traced runs) gives each
group's task time, shuffle write, spill and task-time skew. Spans stay
in memory until ``dump`` writes them to one JSON file.
"""

from __future__ import annotations

import json
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "parent_rec": parent,
            "group": f"perfbench-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_seconds(self, name: str) -> float:
        """``seconds(name)`` minus the time its direct children cover."""
        ids = {id(s) for s in self.spans if s["name"] == name}
        inner = sum(
            s["end"] - s["start"] for s in self.spans if id(s.get("parent_rec")) in ids
        )
        return self.seconds(name) - inner

    # ------------------------------------------------------ REST metrics
    def _get(self, path: str):
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def task_metrics(self) -> dict[str, dict]:
        """Per span name: task_s (summed executor run time), shuffle
        write and spill in MB, and skew (max / median task time of the
        span's heaviest stage). Waits until the listener has recorded
        every job the spans started."""
        deadline = time.time() + 30
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.5)
        attempts: dict[int, list[dict]] = {}
        for s in self._get("/stages"):
            attempts.setdefault(s["stageId"], []).append(s)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            for sid in j.get("stageIds", []):
                by_group.setdefault(j.get("jobGroup"), []).extend(attempts.get(sid, []))
        out: dict[str, dict] = {}
        for rec in self.spans:
            sts = {(s["stageId"], s["attemptId"]): s for s in by_group.get(rec["group"], [])}
            agg = out.setdefault(
                rec["name"], {"task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "skew": 0.0}
            )
            for s in sts.values():
                agg["task_s"] += s.get("executorRunTime", 0) / 1000.0
                agg["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 2**20
                agg["spill_mb"] += (
                    s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                ) / 2**20
            heavy = max(sts.values(), key=lambda s: s.get("executorRunTime", 0), default=None)
            if heavy is not None and heavy.get("executorRunTime", 0) > 0:
                q = self._get(
                    f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                    "/taskSummary?quantiles=0.5,1.0"
                )["executorRunTime"]
                agg["skew"] = max(agg["skew"], q[1] / q[0] if q[0] else 1.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {k: v for k, v in s.items() if k != "parent_rec"}
            | {"start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, sort_keys=True)
