"""Spans around benchmark calls, and the Spark event-log parser that
hangs each call's stages under it.

A `Tracer` records one span per call: name, start, end, parent and the
run id every span of one run shares.  In traced mode it also tags the
call's Spark jobs with `setJobGroup(<span id>)`, so the event log can be
folded back onto the span.  Spans stay in memory until the run writes
them out.

`parse_event_log` reads an uncompressed, non-rolling Spark event log
(JSON lines) and returns, per job group, the stages with their time
window, folded task metrics and the plan operators whose SQL metrics
the stage updated.  `span_metrics` turns one call span plus its stages
into the standard per-call metric set.
"""

from __future__ import annotations

import json
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

# SQL metric names, as Spark 4 writes them into the event log
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
ROWS_OUT = "number of output rows"

CALL_METRICS = ("wall_s", "driver_s", "cpu_s", "gc_s", "python_s",
                "shuffle_bytes", "spill_bytes", "tasks_failed")


class Tracer:
    """Span recorder.  `enabled=False` keeps the call path identical to
    an untraced program: no job group, no span list growth."""

    def __init__(self, enabled: bool = False):
        self.sc = None  # the SparkContext, once the session is up
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = f"{len(self.spans)}"
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(f"{self.run_id}:{sid}", name,
                                interruptOnCancel=False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self._stack[-1]
                    pname = self.spans[int(parent)]["name"]
                    self.sc.setJobGroup(f"{self.run_id}:{parent}", pname,
                                        interruptOnCancel=False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk_plan(node: dict, acc_to_op: dict, ops: list):
    name = node.get("nodeName", "")
    ops.append(name)
    for m in node.get("metrics", []):
        acc_to_op[int(m["accumulatorId"])] = (name, m["name"])
    for c in node.get("children", []):
        _walk_plan(c, acc_to_op, ops)


def parse_event_log(path: str) -> dict:
    """Fold an event log by job group.

    Returns {"groups": {group_id: [stage, ...]}, "plans": {group_id:
    [final operator list per SQL execution]}}.  A stage is a dict with
    id, start/end (epoch seconds), tasks, tasks_failed, task_s (summed
    task run time), cpu_s, gc_s, shuffle_bytes, spill_bytes, python_s,
    python_bytes_in, scan_rows, ops (the plan operators whose SQL metrics
    it updated, in accumulator order) and label ("+"-joined ops)."""
    stage_group: dict[int, str | None] = {}
    stages: dict[int, dict] = {}
    acc_to_op: dict[int, tuple[str, str]] = {}
    exec_plan: dict[int, list[str]] = {}
    exec_group: dict[int, str | None] = {}

    def stage_rec(sid: int) -> dict:
        if sid not in stages:
            stages[sid] = {"id": sid, "start": None, "end": None, "tasks": 0,
                           "tasks_failed": 0, "task_s": 0.0, "cpu_s": 0.0,
                           "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                           "python_s": 0.0, "python_bytes_in": 0,
                           "scan_rows": 0, "accs": set()}
        return stages[sid]

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev.endswith("SQLExecutionStart") or ev.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                ops: list[str] = []
                _walk_plan(e["sparkPlanInfo"], acc_to_op, ops)
                eid = int(e["executionId"])
                exec_plan[eid] = ops  # the last update is the final plan
                if ev.endswith("SQLExecutionStart"):
                    exec_group[eid] = e.get("jobGroupId")
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                eid = props.get("spark.sql.execution.id")
                if eid is not None and exec_group.get(int(eid)) is None:
                    exec_group[int(eid)] = g
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                s = stage_rec(si["Stage ID"])
                if si.get("Submission Time") is None or si.get(
                        "Completion Time") is None:
                    continue
                s["start"] = si["Submission Time"] / 1000.0
                s["end"] = si["Completion Time"] / 1000.0
                s["name"] = si.get("Stage Name", "")
                for a in si.get("Accumulables", []):
                    s["accs"].add(int(a["ID"]))
            elif ev == "SparkListenerTaskEnd":
                s = stage_rec(e["Stage ID"])
                s["tasks"] += 1
                if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                    s["tasks_failed"] += 1
                ti = e.get("Task Info") or {}
                s["task_s"] += (_num(ti.get("Finish Time"))
                                - _num(ti.get("Launch Time"))) / 1000.0
                tm = e.get("Task Metrics") or {}
                s["cpu_s"] += _num(tm.get("Executor CPU Time")) / 1e9
                s["gc_s"] += _num(tm.get("JVM GC Time")) / 1000.0
                s["shuffle_bytes"] += int(_num(
                    (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written")))
                s["spill_bytes"] += int(_num(tm.get("Disk Bytes Spilled")))
                for a in ti.get("Accumulables", []):
                    name = a.get("Name")
                    if name == PY_RUN:
                        s["python_s"] += _num(a.get("Update")) / 1000.0
                    elif name == PY_SENT:
                        s["python_bytes_in"] += int(_num(a.get("Update")))
                    elif name == ROWS_OUT:
                        op = acc_to_op.get(int(a["ID"]), ("", ""))[0]
                        if op.startswith("Scan"):
                            s["scan_rows"] += int(_num(a.get("Update")))

    groups: dict[str | None, list[dict]] = defaultdict(list)
    for sid, s in sorted(stages.items()):
        if s["start"] is None:
            continue  # skipped stage (reused shuffle output)
        order = []
        for acc in sorted(s.pop("accs")):
            op = acc_to_op.get(acc)
            if op and op[0] not in order:
                order.append(op[0])
        s["ops"] = order
        s["label"] = "+".join(order) if order else s.get("name", "")
        groups[stage_group.get(sid)].append(s)
    plans: dict[str | None, list[list[str]]] = defaultdict(list)
    for eid, ops in sorted(exec_plan.items()):
        plans[exec_group.get(eid)].append(ops)
    return {"groups": dict(groups), "plans": dict(plans)}


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children) -> float:
    """A span's duration minus the part its child spans cover."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def span_metrics(span: dict, stages: list[dict]) -> dict:
    """The standard per-call metric set for one call span."""
    return {
        "wall_s": span["end"] - span["start"],
        "driver_s": self_time(span, stages),
        "cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "python_s": sum(s["python_s"] for s in stages),
        "shuffle_bytes": sum(s["shuffle_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "tasks_failed": sum(s["tasks_failed"] for s in stages),
    }


def attach_stages(tracer: Tracer, parsed: dict) -> list[dict]:
    """Spans plus one child span per stage (labelled with its plan
    operators), each with its self time."""
    out = [dict(s) for s in tracer.spans]
    for s in tracer.spans:
        for st in parsed["groups"].get(f"{tracer.run_id}:{s['id']}", []):
            out.append({"id": f"{s['id']}.stage{st['id']}",
                        "name": f"stage:{st['label']}",
                        "run_id": tracer.run_id, "parent": s["id"],
                        "start": st["start"], "end": st["end"],
                        "stage": st})
    kids = defaultdict(list)
    for s in out:
        kids[s["parent"]].append(s)
    for s in out:
        s["self_s"] = self_time(s, kids[s["id"]])
    return out
