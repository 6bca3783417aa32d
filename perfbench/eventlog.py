"""Offline parser for a Spark event log: jobs, stages, task metrics and
the Python-boundary SQL metrics, for attributing a run's time and bytes
to the benchmark's spans after the session has stopped.

Jobs are matched to spans two ways: by the job group the benchmark sets
around each public call, or, for jobs the program submits from its own
threads (which do not inherit a group), by submission time.
"""

from __future__ import annotations

import json
import os

# executor memory peaks kept from the stage executor-metrics events
PEAK_METRICS = ("JVMHeapMemory", "OnHeapUnifiedMemory")

# stage accumulable name -> our key
_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
    # Spark's PythonSQLMetrics on MapInArrow / MapInPandas / ArrowEval
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
    "time to run Python workers": "py_ms",
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") == "Exchange" else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", ()))


class EventLog:
    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.plans: dict[int, dict] = {}
        self.peaks = {k: 0.0 for k in PEAK_METRICS}
        names = sorted(os.listdir(log_dir))
        if not names:
            raise RuntimeError(f"no event log under {log_dir}")
        for name in names:
            with open(os.path.join(log_dir, name)) as fh:
                for line in fh:
                    self._event(json.loads(line))
        owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stage_ids"]:
                owner.setdefault(sid, jid)
        for sid, jid in owner.items():
            if sid in self.stages:
                self.jobs[jid]["stages"].append(sid)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "id": ev["Job ID"], "submit": ev["Submission Time"] / 1e3,
                "end": None, "group": props.get("spark.jobGroup.id"),
                "stage_ids": ev.get("Stage IDs", []), "stages": [],
                "exec_id": int(exec_id) if exec_id is not None else None}
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self.stages.setdefault(
                info["Stage ID"], {k: 0.0 for k in _STAGE_METRICS.values()})
            for acc in info.get("Accumulables", []):
                key = _STAGE_METRICS.get(acc.get("Name"))
                if key:
                    st[key] += _num(acc.get("Value"))
        elif kind == "SparkListenerStageExecutorMetrics":
            em = ev.get("Executor Metrics") or {}
            for k in PEAK_METRICS:
                self.peaks[k] = max(self.peaks[k], _num(em.get(k)))
        elif kind in ("org.apache.spark.sql.execution.ui."
                      "SparkListenerSQLExecutionStart",
                      "org.apache.spark.sql.execution.ui."
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            # the adaptive updates carry the final plan; keep the last
            self.plans[ev["executionId"]] = ev["sparkPlanInfo"]

    # -- selection ------------------------------------------------------
    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]

    def window_jobs(self, lo: float, hi: float,
                    groups=(None,)) -> list[dict]:
        """Jobs of ``groups`` (None: no group) submitted in [lo, hi)."""
        return [j for j in self.jobs.values()
                if j["group"] in groups and lo <= j["submit"] < hi]

    # -- aggregation ----------------------------------------------------
    def totals(self, jobs: list[dict]) -> dict[str, float]:
        out = {k: 0.0 for k in _STAGE_METRICS.values()}
        for j in jobs:
            for sid in j["stages"]:
                for k, v in self.stages[sid].items():
                    out[k] += v
        out["jobs"] = len(jobs)
        return out

    def exchanges(self, jobs: list[dict]) -> int:
        ids = {j["exec_id"] for j in jobs if j["exec_id"] is not None}
        return sum(_count_exchanges(self.plans[i]) for i in ids
                   if i in self.plans)

    @staticmethod
    def covered_s(jobs: list[dict], lo: float, hi: float) -> float:
        """Seconds of [lo, hi] inside at least one job's interval."""
        spans = sorted((max(j["submit"], lo), min(j["end"] or hi, hi))
                       for j in jobs)
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total
