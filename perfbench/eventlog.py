"""Per-layer numbers and spans from a Spark event log.

The traced run enables ``spark.eventLog.enabled`` (and
``spark.eventLog.logBlockUpdates.enabled``) and tags every job it starts
with the local property ``perfbench.span`` = the id of the benchmark span
that made the call. This module reads the log back and rebuilds

    benchmark span → SQL execution → job → stage → task

with parent ids, and sums the L1 (MapInArrow crossing) and L2 (Spark
operator) metrics per benchmark span.

Spark 4.1 writes a rolling log: a directory of zstd files, which pyarrow
decompresses without an extra package.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import pyarrow as pa

SQL = "org.apache.spark.sql.execution.ui."
SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}  # → s, s, MB
UDF_METRICS = {  # MapInArrow SQL metric → per-layer metric
    "time to start Python workers": "udfs.python_start_s",
    "time to initialize Python workers": "udfs.python_init_s",
    "time to run Python workers": "udfs.python_run_s",
    "data sent to Python workers": "udfs.sent_mb",
    "data returned from Python workers": "udfs.received_mb",
}


def read_events(log_dir: str) -> list[dict]:
    """Every event of every log file under ``log_dir``, in file order."""
    paths = []
    for root, _dirs, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files if f.startswith(("events_", "app-", "local-"))]
    events = []
    for path in sorted(paths):
        codec = "zstd" if path.endswith(".zstd") else None
        with pa.input_stream(path, compression=codec) as f:
            events += [json.loads(line) for line in f.read().splitlines() if line]
    return events


def _plan_metrics(node: dict, out: dict, input_path: str) -> None:
    name = node["nodeName"]
    if name.startswith("Scan") and input_path in (node.get("metadata") or {}).get("Location", ""):
        name = "Scan input"
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (name, m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out, input_path)


class EventLog:
    """Spans and per-benchmark-span metrics of one event log. Scans of
    ``input_path`` are also summed apart, as ``input_scan_mb``."""

    def __init__(self, events: list[dict], input_path: str):
        self.input_path = input_path
        self.acc: dict[int, tuple[str, str, str]] = {}  # id → (node, metric, type)
        self.spans: list[dict] = []
        self.metrics: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        self.task_s: dict[str, list[float]] = defaultdict(list)  # MapInArrow tasks
        self._parse(events)

    def _parse(self, events: list[dict]) -> None:
        executions: dict[int, dict] = {}
        exec_owner: dict[int, str] = {}
        stage_owner: dict[int, str] = {}
        stage_parent: dict[int, str] = {}
        stage_submit: dict[int, int] = {}
        exec_acc: list[tuple[int, list]] = []
        seen_blocks: set[str] = set()
        jobs: dict[str, dict] = {}
        owner_now = None
        for e in events:
            kind = e["Event"]
            if kind in (SQL + "SparkListenerSQLExecutionStart", SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(e["sparkPlanInfo"], self.acc, self.input_path)
                if kind.endswith("Start"):
                    executions[e["executionId"]] = {"start": e["time"], "desc": e.get("description", "")}
            elif kind == SQL + "SparkListenerSQLExecutionEnd":
                executions.setdefault(e["executionId"], {"start": e["time"], "desc": ""})["end"] = e["time"]
            elif kind == SQL + "SparkListenerDriverAccumUpdates":
                exec_acc.append((e["executionId"], e["accumUpdates"]))
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                owner = props.get("perfbench.span")
                owner_now = owner
                if owner is None:
                    continue
                jid = f"job-{e['Job ID']}"
                exec_id = props.get("spark.sql.execution.id")
                parent = owner
                if exec_id is not None:
                    exec_owner.setdefault(int(exec_id), owner)
                    parent = f"sql-{exec_id}"
                jobs[jid] = {"id": jid, "parent": parent, "name": "job", "layer": "spark",
                             "start": e["Submission Time"] / 1e3, "end": None}
                self.spans.append(jobs[jid])
                self.metrics[owner]["spark.jobs"] += 1
                for st in e["Stage Infos"]:
                    stage_parent[st["Stage ID"]] = jid
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(f"job-{e['Job ID']}")
                if job is not None:
                    job["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                owner = (e.get("Properties") or {}).get("perfbench.span")
                if owner is None:
                    continue
                sid = info["Stage ID"]
                stage_owner[sid] = owner
                stage_submit[sid] = info.get("Submission Time") or 0
                self.metrics[owner]["spark.stages"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                if sid in stage_owner:
                    self.spans.append(
                        {"id": f"stage-{sid}", "parent": stage_parent.get(sid, stage_owner[sid]),
                         "name": info["Stage Name"], "layer": "spark",
                         "start": info["Submission Time"] / 1e3, "end": info["Completion Time"] / 1e3}
                    )
            elif kind == "SparkListenerTaskEnd":
                owner = stage_owner.get(e["Stage ID"])
                if owner is not None:
                    self._task(owner, e, stage_submit.get(e["Stage ID"], 0))
            elif kind == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                block = info["Block ID"]
                size = info["Memory Size"] + info["Disk Size"]
                if owner_now and block.startswith("rdd_") and size > 0 and block not in seen_blocks:
                    seen_blocks.add(block)
                    self.metrics[owner_now]["spark.checkpoint_mb"] += size / 1e6
        for exec_id, updates in exec_acc:
            owner = exec_owner.get(exec_id)
            for acc_id, value in updates:
                node, name, mtype = self.acc.get(acc_id, ("", "", ""))
                if owner and node.startswith("Scan") and name == "size of files read":
                    self.metrics[owner]["spark.scan_mb"] += value * SCALE[mtype]
                    if node == "Scan input":
                        self.metrics[owner]["input_scan_mb"] += value * SCALE[mtype]
        for exec_id, owner in exec_owner.items():
            ex = executions.get(exec_id, {})
            self.spans.append(
                {"id": f"sql-{exec_id}", "parent": owner, "name": ex.get("desc", "")[:80],
                 "layer": "spark", "start": ex.get("start", 0) / 1e3, "end": ex.get("end", 0) / 1e3}
            )

    def _task(self, owner: str, e: dict, stage_submit_ms: int) -> None:
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        m = self.metrics[owner]
        m["spark.tasks"] += 1
        launch, finish = info["Launch Time"], info["Finish Time"]
        m["spark.slot_wait_s"] += max(0, launch - stage_submit_ms) / 1e3
        m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
        sw = tm.get("Shuffle Write Metrics", {})
        m["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        m["spark.shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        sr = tm.get("Shuffle Read Metrics", {})
        m["spark.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        m["spark.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        crossing = False
        for a in info.get("Accumulables", ()):
            node, name, mtype = self.acc.get(a["ID"], ("", "", ""))
            value = float(a.get("Update") or 0) * SCALE.get(mtype, 1.0)
            if node.startswith("Scan") and name == "scan time":
                m["spark.scan_s"] += value
            elif node == "MapInArrow":
                crossing = True
                if name in UDF_METRICS:
                    m[UDF_METRICS[name]] += value
        self.spans.append(
            {"id": f"task-{info['Task ID']}", "parent": f"stage-{e['Stage ID']}",
             "name": "task", "layer": "udfs" if crossing else "spark",
             "start": launch / 1e3, "end": finish / 1e3}
        )
        if crossing:
            m["udfs.tasks"] += 1
            self.task_s[owner].append((finish - launch) / 1e3)

    def owner_metrics(self, owners: list[str], n_calls: int) -> dict[str, float]:
        """Metrics summed over the benchmark spans in ``owners`` (those of
        ``n_calls`` workload calls), per call."""
        out: dict[str, float] = defaultdict(float)
        for o in owners:
            for k, v in self.metrics.get(o, {}).items():
                out[k] += v / n_calls
        tasks = [t for o in owners for t in self.task_s.get(o, ())]
        out["udfs.task_s_p50"] = statistics.median(tasks) if tasks else 0.0
        out["udfs.task_s_max"] = max(tasks, default=0.0)
        init, run = out["udfs.python_init_s"], out["udfs.python_run_s"]
        out["udfs.init_share"] = init / (init + run) if init + run > 0 else 0.0
        return dict(out)


def self_times(spans: list[dict]) -> None:
    """Set ``self_s`` on every span: its duration minus the part of it
    that its children cover."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    for s in spans:
        start, end = s["start"], s["end"] if s["end"] is not None else s["start"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(start, c["start"]), min(end, c["end"] or c["start"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        s["self_s"] = max(0.0, end - start - covered)
