"""Spans recorded by the benchmark around its calls into each layer, and
the Spark event-log reader of the traced run.

Spans are kept in memory and written once, as one JSON file, when the run
ends. A span's self time is its duration minus the part of it that its
child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        """Self time of every closed span, by index."""
        out = {}
        for i, s in enumerate(self.spans):
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == i and c["end"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[i] = (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        spans = [dict(s, self_s=selfs[i], id=i) for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **(extra or {})}, f, indent=1)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def read_event_log(log_dir: str, job: tuple[float, float], windows: dict[str, tuple[float, float]]) -> dict:
    """Aggregate a finished Spark event log into the stage metrics of the
    tasks launched within the ``job`` time window (epoch seconds), plus the
    per-operator SQL metrics and shuffle bytes of every named time window
    (one per query), assigned by SQL execution start time."""
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(log_dir)
        for f in fs
        if not f.endswith(".inprogress") and not f.startswith(("appstatus", "."))
    )
    if not files:
        raise RuntimeError(f"no finished Spark event log in {log_dir}")
    tasks: list[dict] = []
    executions: dict[int, dict] = {}  # execution id -> {"t": start s, "ops": {acc id: (op, metric)}}
    stage_exec: dict[int, int] = {}  # stage id -> execution id
    acc_values: dict[int, int] = {}

    def walk(plan, ops):
        for m in plan.get("metrics", []):
            ops[m["accumulatorId"]] = (plan.get("nodeName", "?"), m["name"])
        for child in plan.get("children", []):
            walk(child, ops)

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev.get("Stage ID"),
                            "launch": _num(info.get("Launch Time")) / 1000,
                            "run_ms": _num(m.get("Executor Run Time")),
                            "gc_ms": _num(m.get("JVM GC Time")),
                            "in": _num(m.get("Input Metrics", {}).get("Bytes Read")),
                            "out": _num(m.get("Output Metrics", {}).get("Bytes Written")),
                            "shuffle_w": _num(
                                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written")
                            ),
                            "spill": _num(m.get("Memory Bytes Spilled"))
                            + _num(m.get("Disk Bytes Spilled")),
                        }
                    )
                    for acc in info.get("Accumulables", []):
                        aid = acc.get("ID")
                        acc_values[aid] = acc_values.get(aid, 0) + _num(acc.get("Update"))
                elif kind.endswith("SQLExecutionStart"):
                    ops: dict = {}
                    walk(ev.get("sparkPlanInfo", {}), ops)
                    executions[ev["executionId"]] = {"t": ev["time"] / 1000, "ops": ops}
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    ex = executions.get(ev["executionId"])
                    if ex is not None:
                        walk(ev.get("sparkPlanInfo", {}), ex["ops"])
                elif kind.endswith("DriverAccumUpdates"):
                    for aid, val in ev.get("accumUpdates", []):
                        acc_values[aid] = acc_values.get(aid, 0) + _num(val)
                elif kind == "SparkListenerJobStart":
                    eid = _num(ev.get("Properties", {}).get("spark.sql.execution.id", -1))
                    for sid in ev.get("Stage IDs", []):
                        stage_exec[sid] = eid

    in_job = [t for t in tasks if job[0] <= t["launch"] <= job[1]]
    if not in_job:
        raise RuntimeError("no task of the traced job in the Spark event log")
    by_stage: dict[int, list[int]] = {}
    for t in in_job:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skews = [max(v) / statistics.median(v) for v in by_stage.values() if statistics.median(v) > 0]
    spark = {
        "spark.task_s": sum(t["run_ms"] for t in in_job) / 1000,
        "spark.gc_s": sum(t["gc_ms"] for t in in_job) / 1000,
        "spark.input_bytes": sum(t["in"] for t in in_job),
        "spark.output_bytes": sum(t["out"] for t in in_job),
        "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in in_job),
        "spark.spill_bytes": sum(t["spill"] for t in in_job),
        "spark.task_skew": max(skews) if skews else 1.0,
    }

    per_window: dict[str, dict] = {}
    for name, (a, b) in windows.items():
        eids = {e for e, ex in executions.items() if a <= ex["t"] <= b}
        ops: dict[str, dict[str, int]] = {}
        for e in eids:
            for aid, (op, metric) in executions[e]["ops"].items():
                if aid in acc_values:
                    slot = ops.setdefault(op, {})
                    slot[metric] = slot.get(metric, 0) + acc_values[aid]
        stages = {s for s, e in stage_exec.items() if e in eids}
        per_window[name] = {
            "shuffle_bytes": sum(t["shuffle_w"] for t in tasks if t["stage"] in stages),
            "operators": ops,
        }
    return {"spark": spark, "windows": per_window}
