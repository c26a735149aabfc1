"""Spark stage and task metrics per job group, from the driver's REST API.

``with collector.group("plans.pass"):`` tags every job started inside the
block; ``collector.totals("plans.pass")`` then sums the group's stages as
``<uiWebUrl>/api/v1/applications/<id>/stages`` reports them.  There is no
fallback: if the UI is off or does not answer, the collector raises rather
than report zeros.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request

_FINAL_JOB = {"SUCCEEDED", "FAILED"}
_FINAL_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


class SparkMetrics:
    def __init__(self, sc):
        self.sc = sc
        if not sc.uiWebUrl:
            raise RuntimeError("Spark UI is disabled: stage metrics need "
                               "spark.ui.enabled=true")
        self.base = (f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.get("/jobs")  # fail at construction, not after a long pass

    def get(self, path: str):
        try:
            with urllib.request.urlopen(self.base + path, timeout=30) as r:
                return json.load(r)
        except OSError as exc:
            raise RuntimeError(f"Spark REST API unavailable at "
                               f"{self.base + path}: {exc}") from exc

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag the jobs started inside the block with job group ``name``;
        the enclosing group is restored on exit."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            if prev:
                self.sc.setJobGroup(prev, prev)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str) -> list[dict]:
        return [j for j in self.get("/jobs") if j.get("jobGroup") == group]

    def stages(self, groups: list[str], timeout: float = 30.0
               ) -> tuple[list[dict], list[dict]]:
        """Jobs and executed stage attempts of ``groups``, once the status
        listener has recorded every one of them as finished."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for g in groups for j in self.jobs(g)]
            ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self.get("/stages") if s["stageId"] in ids]
            if (all(j["status"] in _FINAL_JOB for j in jobs)
                    and all(s["status"] in _FINAL_STAGE for s in stages)):
                return jobs, [s for s in stages if s["status"] != "SKIPPED"]
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark jobs of {groups} did not finish "
                                   f"in the status store within {timeout} s")
            time.sleep(0.2)

    def totals(self, *groups: str) -> dict:
        """Summed stage metrics (seconds and MB) and task-duration
        quantiles of the hottest stage, for the jobs of ``groups``."""
        jobs, stages = self.stages(list(groups))
        if not jobs:
            raise RuntimeError(f"no Spark jobs recorded for {groups}")
        wall = sum(_ms(j["completionTime"]) - _ms(j["submissionTime"])
                   for j in jobs) / 1e3
        job_ids = {j["jobId"] for j in jobs}
        scan_bytes = sum(
            _bytes(m["value"])
            for e in self.get("/sql?details=true&planDescription=false"
                              "&length=1000000")
            if job_ids & set(e.get("runningJobIds", []) + e.get(
                "successJobIds", []) + e.get("failedJobIds", []))
            for node in e.get("nodes", []) if node["nodeName"].startswith(
                "Scan") for m in node["metrics"]
            if m["name"] == "size of files read")
        hot = max(stages, key=lambda s: s["executorRunTime"])
        q = self.get(f"/stages/{hot['stageId']}/{hot['attemptId']}"
                     "/taskSummary?quantiles=0.5,1.0")
        mb = 2.0 ** 20
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "job_wall_s": wall,
            "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            # stage inputBytes misses the parquet pages read off the task
            # thread, so scan size comes from the SQL scan nodes
            "scan_mb": scan_bytes / mb,
            "input_records": sum(s["inputRecords"] for s in stages),
            "shuffle_write_mb": sum(s["shuffleWriteBytes"]
                                    for s in stages) / mb,
            "output_mb": sum(s["outputBytes"] for s in stages) / mb,
            "task_p50_s": q["duration"][0] / 1e3,
            "task_max_s": q["duration"][1] / 1e3,
        }


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _bytes(text: str) -> float:
    """SQL size metrics read like ``1034.7 KiB``."""
    value, unit = text.split()
    return float(value) * _UNITS[unit]


def _ms(stamp: str) -> float:
    """REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    import datetime as dt

    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e3
