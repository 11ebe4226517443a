"""Offline parser for a Spark event log (uncompressed, not rolling): one row
per benchmark span with the Spark work its jobs did.

Jobs and stages are attributed to spans through the job group the span
set (``spark.jobGroup.id`` in the stage and job properties). Task metrics
are summed per span; SQL plan metrics (from the plan info of every SQL
execution, including adaptive re-plans) are kept per plan node. A span's
row includes the work of its child spans; its self time is its wall time
minus the part its child spans cover.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict


JOIN_TYPES = ("Inner", "LeftSemi", "LeftAnti", "LeftOuter", "RightOuter", "FullOuter",
              "Cross", "ExistenceJoin")


def node_label(info: dict) -> str:
    """The plan node's name; joins also carry their join type, so that
    e.g. an inner self-join and a semi join of one span stay apart."""
    name = info["nodeName"]
    if name.endswith("Join"):
        tokens = info.get("simpleString", "").replace(",", " ").split()
        kind = next((t for t in tokens if t in JOIN_TYPES), None)
        if kind:
            return f"{name} {kind}"
    return name


def _walk_plan(info: dict, out: dict) -> None:
    label = node_label(info)
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (label, m["name"])
    for child in info.get("children", ()):
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _blank() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "task_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0.0, "shuffle_write_records": 0.0,
            "shuffle_read_bytes": 0.0, "spill_bytes": 0.0,
            # accumulator id -> summed update
            "acc": defaultdict(float)}


def read_events(log_dir: str):
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    for path in files:
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse(log_dir: str) -> dict[str, dict]:
    """group id -> aggregated Spark work of every job in that group."""
    acc_meta: dict[int, tuple] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    rows: dict[str, dict] = defaultdict(_blank)
    accum_updates: list[tuple[int, list]] = []
    for ev in read_events(log_dir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            rows[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                rows[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            r = rows[group]
            r["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            r["run_s"] += _num(tm.get("Executor Run Time")) / 1e3
            r["task_cpu_s"] += _num(tm.get("Executor CPU Time")) / 1e9
            r["gc_s"] += _num(tm.get("JVM GC Time")) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            r["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            r["shuffle_write_records"] += _num(sw.get("Shuffle Records Written"))
            sr = tm.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read"))
            r["spill_bytes"] += _num(tm.get("Memory Bytes Spilled")) + _num(
                tm.get("Disk Bytes Spilled"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("ID") in acc_meta:
                    r["acc"][acc["ID"]] += _num(acc.get("Update"))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            info = ev.get("sparkPlanInfo")
            if info:
                _walk_plan(info, acc_meta)
        elif kind.endswith("DriverAccumUpdates"):
            accum_updates.append((ev.get("executionId"), ev.get("accumUpdates") or []))
    for eid, updates in accum_updates:
        group = exec_group.get(eid)
        if group is None:
            continue
        for acc_id, value in updates:
            if acc_id in acc_meta:
                rows[group]["acc"][acc_id] += _num(value)
    for r in rows.values():
        # (node label, metric name, value) per plan-node metric
        r["nodes"] = [(*acc_meta[a], v) for a, v in r["acc"].items()]
    return rows


ADDITIVE = ("jobs", "stages", "tasks", "run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_write_records", "shuffle_read_bytes", "spill_bytes")


def span_table(log_dir: str, spans: dict[str, dict]) -> dict[str, dict]:
    """span id -> span record + the Spark work of the span and its child
    spans (``sql`` summed per (node label, metric); ``nodes`` one entry per
    plan-node metric) + ``self_s``."""
    work = parse(log_dir)
    kids: dict[str, list[str]] = defaultdict(list)
    for sid, s in spans.items():
        if s["parent"] is not None:
            kids[s["parent"]].append(sid)

    def inclusive(sid: str) -> dict:
        own = work.get(sid)
        out = {k: own[k] if own else 0 for k in ADDITIVE}
        out["nodes"] = list(own["nodes"]) if own else []
        for c in kids[sid]:
            child = inclusive(c)
            for k in ADDITIVE:
                out[k] += child[k]
            out["nodes"] += child["nodes"]
        out["sql"] = defaultdict(float)
        for label, metric, v in out["nodes"]:
            out["sql"][(label, metric)] += v
        return out

    table = {}
    for sid, s in spans.items():
        wall = s["t1"] - s["t0"]
        covered, end = 0.0, s["t0"]
        for c in sorted((spans[k] for k in kids[sid]), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end), min(c["t1"], s["t1"])
            if hi > lo:
                covered += hi - lo
                end = hi
        table[sid] = {**s, "wall_s": wall, "self_s": wall - covered, **inclusive(sid)}
    return table
