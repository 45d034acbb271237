"""Spark plan counts for one job group: jobs, stages, tasks, shuffle bytes,
executor run time and the part of an operation's wall no job covers.

Job ids come from ``statusTracker``; per-stage run time and bytes come
from the local status REST API at ``uiWebUrl``.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from datetime import datetime

from spans import covered

_DONE = {"SUCCEEDED", "FAILED"}


def _when(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
            return json.loads(r.read())

    def _job(self, jid: int, deadline: float) -> dict:
        # the listener bus can lag the action's return by a few ms
        while True:
            job = self._get(f"jobs/{jid}")
            if job.get("status") in _DONE and "completionTime" in job:
                return job
            if time.time() > deadline:
                raise RuntimeError(f"job {jid} still {job.get('status')} in the status API")
            time.sleep(0.05)

    def groups(self, groups: list[str], start: float, end: float) -> dict[str, float]:
        """Counts over the jobs of ``groups`` (a span and its children),
        for an operation that ran from ``start`` to ``end``."""
        tracker = self.sc.statusTracker()
        jids = sorted(j for g in groups for j in tracker.getJobIdsForGroup(g))
        deadline = time.time() + 10
        stages = tasks = 0
        shuffle = run_ms = 0
        spans = []
        for jid in jids:
            job = self._job(jid, deadline)
            spans.append((_when(job["submissionTime"]), _when(job["completionTime"])))
            for sid in job["stageIds"]:
                try:
                    attempts = self._get(f"stages/{sid}")
                except urllib.error.HTTPError:
                    continue  # a skipped stage never ran
                for st in attempts:
                    if st.get("status") in ("SKIPPED", "PENDING"):
                        continue
                    stages += 1
                    tasks += int(st.get("numCompleteTasks", 0))
                    shuffle += int(st.get("shuffleWriteBytes", 0))
                    run_ms += int(st.get("executorRunTime", 0))
        return {
            "jobs": float(len(jids)),
            "stages": float(stages),
            "tasks": float(tasks),
            "shuffle_bytes": float(shuffle),
            "executor_run_s": run_ms / 1000.0,
            "driver_only_s": (end - start) - covered(spans, start, end),
        }
