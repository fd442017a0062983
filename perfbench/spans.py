"""Spans around the benchmark's calls into each layer, plus Spark's own
per-job-group stage metrics for the work each span caused.

A span is (name, id, parent, start, end).  Each span with a job group runs
its Spark actions under ``sc.setJobGroup(<unique group id>)``; after the
traced run, ``harvest()`` reads the jobs of every group from the status
tracker and sums the last attempt of each of their stages from the status
store (executor run and CPU time, shuffle read + write bytes, spill,
failed tasks).  Spans stay in memory until ``write()``.

Job groups are thread-local, so everything traced must be called from the
thread that opened the span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark import SparkContext

STAGE_FIELDS = ("run_s", "cpu_s", "shuffle_mb", "spill_mb", "failed_tasks", "jobs")


class Tracer:
    def __init__(self, sc: SparkContext, tag: str):
        self.sc = sc
        self.tag = tag  # makes group ids unique across traced runs
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, grouped: bool = True):
        sid = len(self.spans)
        rec = {
            "name": name,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"{name}#{self.tag}#{sid}" if grouped else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        if grouped:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if grouped:
                # restore the enclosing span's group (or none)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def harvest(self) -> None:
        """Attach stage metrics to every grouped span.  Waits for Spark's
        listener bus first: the status store is filled asynchronously."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - private API; fall back to a pause
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self.spans:
            if rec["group"] is None:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stage_ids: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            acc = dict.fromkeys(STAGE_FIELDS, 0.0)
            acc["jobs"] = len(jobs)
            for s in stage_ids:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # noqa: BLE001 - stage never ran (skipped)
                    continue
                acc["run_s"] += sd.executorRunTime() / 1e3
                acc["cpu_s"] += sd.executorCpuTime() / 1e9
                acc["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6
                acc["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
                acc["failed_tasks"] += sd.numFailedTasks()
            rec.update(acc)

    def self_s(self, rec: dict) -> float:
        """Span duration minus the part of it its child spans cover
        (children are sequential, so their durations add)."""
        kids = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    def layer(self, prefix: str) -> dict[str, float]:
        """Stage metrics summed over every span of one layer."""
        acc = dict.fromkeys(STAGE_FIELDS, 0.0)
        for rec in self.spans:
            if rec["name"].split(".")[0] == prefix and rec["group"] is not None:
                for k in STAGE_FIELDS:
                    acc[k] += rec.get(k, 0.0)
        return acc

    def by_name(self, name: str) -> dict:
        return next(r for r in self.spans if r["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((r["start"] for r in self.spans), default=0.0)
        out = [
            {
                **r,
                "start": round(r["start"] - t0, 6),
                "end": round(r["end"] - t0, 6),
                "self_s": round(self.self_s(r), 6),
            }
            for r in self.spans
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
