"""Spans around the benchmark's calls into the engine, and the Spark engine
counters assigned to them.

Spans are kept in memory and written out when the run ends. Spark jobs are
assigned to a call by the call's time window (job submission inside the
window), not by job group: calls run one at a time, and the validation
pass submits jobs from its own thread pool, whose threads do not inherit
job groups. Job and stage metrics come from the Spark UI REST API, which
only the traced run enables.
"""

from __future__ import annotations

import json
import time
import urllib.request
from datetime import datetime, timezone
from statistics import median


class Tracer:
    """Span recorder. Wall-clock times, so they compare with Spark's."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def span(self, name: str, op: int, parent: str | None = None) -> "_Span":
        return _Span(self, name, op, parent)


class _Span:
    def __init__(self, tracer: Tracer, name: str, op: int, parent: str | None):
        self.rec = {"name": name, "op": op, "parent": parent}
        self.tracer = tracer

    def __enter__(self) -> dict:
        self.rec["start"] = time.time()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.time()
        self.tracer.spans.append(self.rec)


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.loads(r.read())


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def fetch_spark_metrics(spark) -> tuple[list[dict], dict[int, dict]]:
    """Jobs and stages of this application from the UI REST API.

    Waits until the listener has caught up (no job still running and the
    job count stable) so that the last call's jobs are complete.
    """
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    prev = -1
    for _ in range(100):
        jobs = _get(base, "/jobs")
        if len(jobs) == prev and all(j["status"] != "RUNNING" for j in jobs):
            break
        prev = len(jobs)
        time.sleep(0.2)
    stages = _get(base, "/stages?withSummaries=true&quantiles=0.5,1.0")
    by_id: dict[int, dict] = {}
    for s in stages:
        # keep the latest attempt of each stage
        if s["stageId"] not in by_id or s["attemptId"] > by_id[s["stageId"]]["attemptId"]:
            by_id[s["stageId"]] = s
    for j in jobs:
        j["_start"] = _ts(j.get("submissionTime"))
        j["_end"] = _ts(j.get("completionTime"))
    return jobs, by_id


def _stage_skew(stage: dict) -> float | None:
    dist = (stage.get("taskMetricsDistributions") or {}).get("executorRunTime")
    if stage.get("numTasks", 0) < 2 or not dist or dist[0] <= 0:
        return None
    return dist[-1] / dist[0]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def call_counters(span: dict, jobs: list[dict], stages: dict[int, dict]) -> dict:
    """Engine counters of one call: the jobs submitted inside its window.

    ``driver_s`` is the call's wall minus the time its jobs cover, i.e. time
    the call spent in the Python driver, planning and waiting on nothing.
    ``task_skew`` is the worst max/median task time over the call's stages.
    """
    lo, hi = span["start"] - 0.002, span["end"] + 0.002
    mine = [j for j in jobs if j["_start"] is not None and lo <= j["_start"] <= hi]
    stage_ids = {sid for j in mine for sid in j.get("stageIds", [])}
    st = [stages[s] for s in stage_ids if s in stages]
    skews = [k for k in (_stage_skew(s) for s in st) if k is not None]
    windows = [
        (max(j["_start"], span["start"]), min(j["_end"] or span["end"], span["end"]))
        for j in mine
    ]
    wall = span["end"] - span["start"]
    return {
        "jobs": len(mine),
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / 1e6,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
        "task_skew": max(skews) if skews else 1.0,
        "driver_s": max(wall - _covered(windows), 0.0),
    }


def failed_tasks(stages: dict[int, dict]) -> int:
    return sum(s.get("numFailedTasks", 0) for s in stages.values())


def per_call_medians(
    spans: list[dict], ops: list[int], jobs: list[dict], stages: dict[int, dict]
) -> dict[str, float]:
    """Median over the measured ops of each call's counters, keyed
    ``<call>.<counter>``."""
    per: dict[str, list[float]] = {}
    for sp in spans:
        if sp["op"] not in ops or sp["parent"] is None:
            continue
        for k, v in call_counters(sp, jobs, stages).items():
            per.setdefault(f"{sp['name']}.{k}", []).append(v)
    return {k: median(v) for k, v in per.items()}
