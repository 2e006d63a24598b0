"""Read an uncompressed Spark event log and fold its jobs into spans.

Each Spark job carries, in its properties, the id of the span that was
innermost when the job started (``tracer.SPAN_PROPERTY``). A job's
stages and tasks, and the SQL metrics its tasks update, belong to that
span.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from tracer import SPAN_PROPERTY

PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Job:
    __slots__ = ("id", "span", "execution", "start", "end", "stages")

    def __init__(self, ev: dict):
        props = ev.get("Properties") or {}
        self.id = ev["Job ID"]
        span = props.get(SPAN_PROPERTY)
        self.span = int(span) if span not in (None, "") else None
        ex = props.get("spark.sql.execution.id")
        self.execution = int(ex) if ex not in (None, "") else None
        self.start = ev["Submission Time"] / 1000.0
        self.end = self.start
        self.stages = set(ev["Stage IDs"])


class Stage:
    __slots__ = ("id", "n_tasks", "start", "end", "run_s", "shuffle_write",
                 "shuffle_read", "spill", "python_bytes", "python_rows")

    def __init__(self, sid: int):
        self.id = sid
        self.n_tasks = 0
        self.start = self.end = 0.0
        self.run_s = 0.0
        self.shuffle_write = self.shuffle_read = self.spill = 0
        self.python_bytes = self.python_rows = 0


def _walk_plan(info: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name, node description)."""
    desc = info.get("simpleString", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"], desc)
    for child in info.get("children", []):
        _walk_plan(child, out)


class EventLog:
    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.accums: dict[int, tuple] = {}
        self.driver_accums: dict[int, list] = defaultdict(list)  # execution -> [(id, v)]
        task_accums: dict[int, dict] = defaultdict(lambda: defaultdict(int))
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    job = Job(ev)
                    self.jobs[job.id] = job
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.start = info.get("Submission Time", 0) / 1000.0
                    st.end = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = self.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                    st.n_tasks += 1
                    tm = ev.get("Task Metrics") or {}
                    st.run_s += tm.get("Executor Run Time", 0) / 1000.0
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if "Update" in a:
                            try:
                                task_accums[ev["Stage ID"]][a["ID"]] += int(a["Update"])
                            except (TypeError, ValueError):
                                pass
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev.get("sparkPlanInfo", {}), self.accums)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    self.driver_accums[ev["executionId"]].extend(
                        tuple(u) for u in ev["accumUpdates"])
        for sid, updates in task_accums.items():
            st = self.stages[sid]
            for aid, v in updates.items():
                node, metric, _ = self.accums.get(aid, ("", "", ""))
                if metric in PYTHON_BYTES:
                    st.python_bytes += v
                elif metric == "number of output rows" and (
                        "Python" in node or "Pandas" in node or "Arrow" in node):
                    st.python_rows += v

    # -- folding -------------------------------------------------------
    def jobs_of(self, span_ids) -> list[Job]:
        span_ids = set(span_ids)
        return [j for j in self.jobs.values() if j.span in span_ids]

    def stages_of(self, jobs) -> list[Stage]:
        ids = set()
        for j in jobs:
            ids |= j.stages
        # stages a job lists but skips (reused shuffle output) never ran
        return [self.stages[i] for i in sorted(ids)
                if i in self.stages and self.stages[i].n_tasks]

    def scan_bytes(self, jobs, location_prefix: str) -> int:
        """'size of files read' of the file scans over paths starting
        with ``location_prefix``, in the SQL executions of ``jobs``."""
        total = 0
        for ex in {j.execution for j in jobs if j.execution is not None}:
            for aid, v in self.driver_accums.get(ex, []):
                _, metric, desc = self.accums.get(aid, ("", "", ""))
                if metric == "size of files read" and location_prefix in desc:
                    total += int(v)
        return total


def busy_intervals(jobs) -> float:
    """Seconds covered by the union of the jobs' [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((j.start, j.end) for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
