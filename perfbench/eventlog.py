"""Spark event-log reader for the traced run.

Jobs are grouped by their ``spark.job.description`` (the benchmark sets
one per layer call), and each group is reduced to scheduler, exchange,
executor and Python-worker figures.  Only the JSON lines Spark writes
are read; nothing here talks to a live session.
"""

from __future__ import annotations

import json
import os
import statistics

MB = 2**20

#: SQL metrics of the Arrow/pandas Python plan nodes, by the names
#: Spark 4 gives them (a Spark without them reads 0)
PY_EVAL = ("time to run Python workers",)
PY_ROWS = ("number of output rows",)
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
#: file-scan metric of the bytes a scan covers.  The task-level "Bytes
#: Read" input metric misses local-file reads on Spark 4 (a 3 MB table
#: scan reports a few KB), so input is taken from the scan nodes.
SCAN_BYTES = "size of files read"


def read(path: str) -> list[dict]:
    """Events of the one application log under ``path`` (a directory)."""
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {names}")
    out = []
    with open(os.path.join(path, names[0])) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except ValueError:
                continue
    return out


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total / 1000.0


def summarize(events: list[dict], descs: set[str], wall_s: float) -> dict:
    """Figures for the jobs whose description is in ``descs``; ``wall_s``
    is the caller's wall time around them (for driver time)."""
    jobs, job_end, stage_job, execs = {}, {}, {}, set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") and ev.get("description") in descs:
            execs.add(ev["executionId"])
        elif kind == "SparkListenerJobStart":
            if (ev.get("Properties") or {}).get("spark.job.description") in descs:
                jobs[ev["Job ID"]] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]
    plan_acc = _plan_accumulators(events)
    stages: dict[int, list[float]] = {}
    acc = dict.fromkeys(
        ("tasks", "busy", "gc", "sched", "sh_w", "sh_r", "fetch", "spill", "in", "out",
         "py_ms", "py_rows", "py_bytes"), 0.0)
    ran = set()
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            sid = ev["Stage ID"]
            ran.add(sid)
            run_ms = m.get("Executor Run Time", 0)
            stages.setdefault(sid, []).append(run_ms)
            acc["tasks"] += 1
            acc["busy"] += run_ms
            acc["gc"] += m.get("JVM GC Time", 0)
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            acc["sched"] += max(
                0,
                dur - run_ms - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0) - info.get("Getting Result Time", 0),
            )
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            acc["sh_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            acc["fetch"] += sr.get("Fetch Wait Time", 0)
            acc["sh_w"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            acc["out"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in info.get("Accumulables") or []:
                field, scale = plan_acc.get(a.get("ID"), (None, 1.0))
                if field:
                    acc[field] += float(a.get("Update") or 0) * scale
        elif kind.endswith("SparkListenerDriverAccumUpdates") and ev.get("executionId") in execs:
            for aid, value in ev.get("accumUpdates") or []:
                if plan_acc.get(aid, (None,))[0] == "in":
                    acc["in"] += value
    spans = [(t, job_end.get(j, t)) for j, t in jobs.items()]
    longest = max(stages.values(), key=sum, default=[])
    skew = max(longest) / statistics.median(longest) if longest and statistics.median(longest) > 0 else 1.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": int(acc["tasks"]),
        "spark.driver_s": max(0.0, wall_s - _union_s(spans)),
        "spark.sched_delay_s": acc["sched"] / 1000.0,
        "spark.shuffle_write_mb": acc["sh_w"] / MB,
        "spark.shuffle_read_mb": acc["sh_r"] / MB,
        "spark.fetch_wait_s": acc["fetch"] / 1000.0,
        "spark.spill_mb": acc["spill"] / MB,
        "spark.task_skew": skew,
        "spark.task_busy_s": acc["busy"] / 1000.0,
        "spark.gc_s": acc["gc"] / 1000.0,
        "spark.input_mb": acc["in"] / MB,
        "spark.output_mb": acc["out"] / MB,
        "python.eval_s": acc["py_ms"] / 1000.0,
        "python.rows": int(acc["py_rows"]),
        "python.arrow_mb": acc["py_bytes"] / MB,
    }


def job_count(events: list[dict], desc: str) -> int:
    return sum(
        1 for ev in events
        if ev.get("Event") == "SparkListenerJobStart"
        and (ev.get("Properties") or {}).get("spark.job.description") == desc
    )


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "Arrow" in name


def _plan_accumulators(events: list[dict]) -> dict[int, tuple[str, float]]:
    """accumulator id -> (field, scale) for the SQL metrics of Python
    plan nodes and of file scans, read from the SQL execution plan
    infos; ``py_ms`` is scaled to milliseconds whatever timing unit the
    metric uses."""
    out: dict[int, tuple[str, float]] = {}

    def walk(node):
        for m in node.get("metrics", []):
            if m.get("name") == SCAN_BYTES:
                out[m["accumulatorId"]] = ("in", 1.0)
        if _is_python_node(node.get("nodeName", "")):
            for m in node.get("metrics", []):
                name = m.get("name", "")
                if name in PY_EVAL:
                    ns = m.get("metricType") == "nsTiming"
                    out[m["accumulatorId"]] = ("py_ms", 1e-6 if ns else 1.0)
                elif name in PY_ROWS:
                    out[m["accumulatorId"]] = ("py_rows", 1.0)
                elif name in PY_BYTES:
                    out[m["accumulatorId"]] = ("py_bytes", 1.0)
        for child in node.get("children", []):
            walk(child)

    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan = ev.get("sparkPlanInfo")
            if plan:
                walk(plan)
    return out
