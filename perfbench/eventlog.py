"""Spark event-log parser: per-stage cost grouped by the benchmark's job groups.

Spark writes one JSON object per line (spark.eventLog.enabled with
compression and rolling off). Jobs carry the job group and description the
benchmark set with SparkContext.setJobGroup; stages belong to the first
job that lists them; tasks belong to their stage. Per stage this module
reports task-seconds, records in and out, shuffle read/write bytes, spill
bytes, and whether the stage runs Python (one of its RDD scopes is a Python
plan node such as MapInPandas). It also sums the "number of output rows"
SQL metric of the Python plan nodes, which is how many rows a Python UDF
emitted (for example, points decoded by the Gorilla decode).
"""

from __future__ import annotations

import json
from collections import defaultdict

PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow")

SUM_KEYS = ("task_s", "records_in", "records_out", "shuffle_read_b",
            "shuffle_write_b", "spill_b")


def _scope_name(rdd: dict) -> str:
    try:
        return json.loads(rdd.get("Scope") or "{}").get("name", "")
    except ValueError:
        return ""


def _walk_plan(node: dict, out: set[int]) -> None:
    if node.get("nodeName") in PYTHON_NODES:
        out.update(m["accumulatorId"] for m in node.get("metrics", ())
                   if m.get("name") == "number of output rows")
    for child in node.get("children", ()):
        _walk_plan(child, out)


class EventLog:
    def __init__(self, path: str):
        self.job_group: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self._py_rows_acc: set[int] = set()
        acc_updates: dict[int, dict[int, int]] = defaultdict(
            lambda: defaultdict(int))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.job_group[ev["Job ID"]] = (
                        props.get("spark.jobGroup.id") or "")
                    for sid in ev.get("Stage IDs", ()):
                        self.stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    scopes = {_scope_name(r) for r in info.get("RDD Info", ())}
                    st = self.stages.setdefault(
                        info["Stage ID"], dict.fromkeys(SUM_KEYS, 0))
                    st["python"] = bool(scopes & set(PYTHON_NODES))
                elif kind == "SparkListenerTaskEnd":
                    self._add_task(ev, acc_updates)
                elif "sparkPlanInfo" in ev:
                    # SQLExecutionStart and SQLAdaptiveExecutionUpdate both
                    # carry the (re-)planned tree with its metric ids
                    _walk_plan(ev["sparkPlanInfo"], self._py_rows_acc)
        for sid, st in self.stages.items():
            st["python_rows_out"] = sum(
                v for acc, v in acc_updates[sid].items()
                if acc in self._py_rows_acc)

    def _add_task(self, ev: dict, acc_updates) -> None:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        st = self.stages.setdefault(ev["Stage ID"], dict.fromkeys(SUM_KEYS, 0))
        st["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        st["records_in"] += (m.get("Input Metrics", {}).get("Records Read", 0)
                             + sr.get("Total Records Read", 0))
        st["records_out"] += (
            m.get("Output Metrics", {}).get("Records Written", 0)
            + sw.get("Shuffle Records Written", 0))
        st["shuffle_read_b"] += (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0))
        st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
        st["spill_b"] += m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", ()):
            # SQL metrics log their updates as strings, internal ones as ints
            try:
                acc_updates[ev["Stage ID"]][acc["ID"]] += int(acc.get("Update"))
            except (TypeError, ValueError):
                continue

    def group_stages(self, prefix: str) -> list[dict]:
        return [st for sid, st in sorted(self.stages.items())
                if self.job_group.get(self.stage_job.get(sid), "")
                .startswith(prefix)]

    def summary(self, prefix: str) -> dict:
        """Totals over the jobs whose group starts with `prefix`."""
        stages = self.group_stages(prefix)
        out = {k: sum(st[k] for st in stages) for k in SUM_KEYS}
        groups = [g for g in self.job_group.values() if g.startswith(prefix)]
        out["jobs"] = len(groups)
        out["groups"] = len(set(groups))
        out["stages"] = len(stages)
        out["python_task_s"] = sum(st["task_s"] for st in stages
                                   if st.get("python"))
        out["jvm_task_s"] = out["task_s"] - out["python_task_s"]
        out["python_records_in"] = sum(st["records_in"] for st in stages
                                       if st.get("python"))
        out["python_rows_out"] = sum(st.get("python_rows_out", 0)
                                     for st in stages)
        return out

