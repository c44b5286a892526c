"""Fold a Spark event log under the benchmark's spans.

Each span sets its own job group (``pb-<span id>``), so every Spark job in
the log names the span that caused it. This module reads the log's JSON
lines and returns, per job group, the jobs with their stages, and per stage
the executor run and CPU time, shuffle read and write bytes, spill, the
max and median task time, and the rows each Python UDF processed (from the
UDF nodes' SQL metrics). The event log must be uncompressed and not rolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from spans import percentile

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_UDF_NAME = re.compile(r"(\w+)\(")


@dataclass
class StageFold:
    id: int
    submit: float = 0.0
    complete: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_run_s: list[float] = field(default_factory=list)
    udf_rows: dict[str, int] = field(default_factory=dict)

    @property
    def skew(self) -> float:
        """max/median task run time; 1.0 for a stage of one task."""
        if not self.task_run_s:
            return 1.0
        med = percentile(self.task_run_s, 50)
        return max(self.task_run_s) / med if med > 0 else 1.0


@dataclass
class JobFold:
    id: int
    group: str | None
    submit: float
    complete: float = 0.0
    stages: list[StageFold] = field(default_factory=list)
    listed: set[int] = field(default_factory=set)  # stage ids from JobStart


def _udf_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """Map the accumulator id of each Python UDF node's output-row metric to
    the UDF's name, walking the whole plan tree."""
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "InArrow" in name:
        rest = plan.get("simpleString", "")[len(name):]
        m = _UDF_NAME.search(rest)
        udf = m.group(1) if m else name
        for metric in plan.get("metrics", []):
            if metric.get("name") == "number of output rows":
                out[metric["accumulatorId"]] = udf
    for child in plan.get("children", []):
        _udf_metric_ids(child, out)


def fold_events(lines) -> dict[str, list[JobFold]]:
    """Jobs by job group (``None`` for jobs run outside any span)."""
    jobs: dict[int, JobFold] = {}
    stages: dict[int, StageFold] = {}
    udf_ids: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = JobFold(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
            job.listed.update(ev.get("Stage IDs", []))
            jobs[job.id] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].complete = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], StageFold(info["Stage ID"]))
            st.submit = (info.get("Submission Time") or 0) / 1000
            # a stage listed by several jobs runs under the newest of them;
            # the older ones reuse its shuffle output and skip it
            owners = [j for j in jobs.values() if st.id in j.listed]
            if owners:
                job = max(owners, key=lambda j: j.id)
                if all(s is not st for s in job.stages):
                    job.stages.append(st)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], StageFold(info["Stage ID"]))
            st.complete = (info.get("Completion Time") or 0) / 1000
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], StageFold(ev["Stage ID"]))
            _add_task(st, ev, udf_ids)
        elif kind in (_SQL_START, _SQL_UPDATE):
            _udf_metric_ids(ev.get("sparkPlanInfo") or {}, udf_ids)
    by_group: dict[str, list[JobFold]] = {}
    for job in sorted(jobs.values(), key=lambda j: j.id):
        by_group.setdefault(job.group, []).append(job)
    return by_group


def _add_task(st: StageFold, ev: dict, udf_ids: dict[int, str]) -> None:
    tm = ev.get("Task Metrics") or {}
    run_s = tm.get("Executor Run Time", 0) / 1000
    st.tasks += 1
    st.run_s += run_s
    st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
    rd = tm.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
    st.task_run_s.append(run_s)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        udf = udf_ids.get(acc.get("ID"))
        if udf is not None and acc.get("Update") is not None:
            st.udf_rows[udf] = st.udf_rows.get(udf, 0) + int(acc["Update"])
