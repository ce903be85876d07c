"""Per-stage and Python-UDF metrics from a Spark event log, and plan node
counts from the physical plan a query ran.

A traced run runs its phases one after another; each job is credited to the
phase whose wall-clock window holds the job's submission time, so the stage
metrics of each phase are read separately. (Job-group properties do not
reach every job: adaptive execution submits some stages from its own
threads.)
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _python_accums(plan: dict, out: dict) -> None:
    """Accumulator id -> (metric key, scale) for every Python eval node."""
    if "Python" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            key = PYTHON_METRICS.get(m["name"])
            if key:
                out[m["accumulatorId"]] = (key, _TIME_SCALE.get(m["metricType"], 1))
    for child in plan.get("children", []):
        _python_accums(child, out)


def _phase_at(phases: dict, t_ms: float):
    for name, (lo, hi) in phases.items():
        if lo <= t_ms <= hi:
            return name
    return None


def parse_event_log(path: str, phases: dict) -> dict:
    """Phase -> stage and Python-UDF metrics of the jobs submitted in that
    phase. ``phases`` maps a name to its (start, end) in epoch ms. A Python
    node's metrics are credited to the phase of the task that updated them,
    since a cached plan's node appears in several queries."""
    stage_group = {}
    stage_span, tasks = {}, defaultdict(list)
    accums: dict = {}  # accumulator id -> (key, scale)
    jobs = defaultdict(int)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = _phase_at(phases, e["Submission Time"])
                jobs[g] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_accums(e["sparkPlanInfo"], accums)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage_span[info["Stage ID"]] = (
                    info.get("Completion Time", 0) - info.get("Submission Time", 0)
                )
            elif kind == "SparkListenerTaskEnd":
                tasks[e["Stage ID"]].append(e)

    out: dict = defaultdict(lambda: defaultdict(float))
    for g, n in jobs.items():
        out[g]["jobs"] = n
    longest: dict = {}
    for sid, evs in tasks.items():
        g = stage_group.get(sid)
        m = out[g]
        m["stages"] += 1
        for e in evs:
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            dur = ti["Finish Time"] - ti["Launch Time"]
            run = tm.get("Executor Run Time", 0)
            m["tasks"] += 1
            m["failed_tasks"] += bool(ti.get("Failed") or ti.get("Killed"))
            m["executor_run_s"] += run / 1e3
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["scheduler_delay_s"] += max(0, dur - run
                - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0)
                - ti.get("Getting Result Time", 0)) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for a in ti.get("Accumulables", []):
                if a["ID"] in accums:
                    key, scale = accums[a["ID"]]
                    m["udf." + key] += float(a["Update"]) * scale
        if stage_span.get(sid, 0) > longest.get(g, (-1, None))[0]:
            longest[g] = (stage_span.get(sid, 0), sid)
    for g, (_, sid) in longest.items():
        durs = [e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
                for e in tasks[sid]]
        med = statistics.median(durs)
        out[g]["task_skew"] = max(durs) / med if med > 0 else 1.0
    return {g: dict(m) for g, m in out.items()}


PLAN_NODES = {"ArrowEvalPython": "arrow_eval_python", "Exchange": "exchange",
              "Window": "window", "Sort": "sort"}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def java_plan_tree(node, jvm) -> dict:
    """The physical plan that ran, from a JVM ``SparkPlan``, as nested
    ``{"name", "key", "children"}``. An adaptive plan is read from its
    current plan (the final one once it has run) and a query stage from the
    plan it wraps. An in-memory scan gets its cached plan as a child whose
    ``key`` names the cache, so a cache read several times is counted once.
    A reused exchange is a leaf: it does not run its child again."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return java_plan_tree(node.executedPlan(), jvm)
    if cls.endswith("QueryStageExec"):
        return java_plan_tree(node.plan(), jvm)
    children = [java_plan_tree(c, jvm) for c in _seq(node.children())]
    if cls == "InMemoryTableScanExec":
        rel = node.relation()
        children.append({
            "name": "InMemoryRelation",
            "key": jvm.java.lang.System.identityHashCode(rel.cacheBuilder()),
            "children": [java_plan_tree(rel.cachedPlan(), jvm)],
        })
    return {"name": node.nodeName(), "key": None, "children": children}


def plan_node_counts(tree: dict) -> dict:
    """Counts of the plan nodes that cost a Python round trip, a shuffle, a
    window or a sort, each distinct cached subtree counted once."""
    counts = dict.fromkeys(PLAN_NODES.values(), 0)
    seen = set()
    todo = [tree]
    while todo:
        n = todo.pop()
        if n["key"] is not None:
            if n["key"] in seen:
                continue
            seen.add(n["key"])
        if n["name"] in PLAN_NODES:
            counts[PLAN_NODES[n["name"]]] += 1
        todo.extend(n["children"])
    return counts
